"""The latency quantile estimator the benchmark reports."""

from __future__ import annotations

import math

import pytest

from perfbench.harness import betainc, quantile


@pytest.mark.parametrize("a,b,x", [(8.5, 8.5, 0.3), (15.3, 1.7, 0.9), (4.5, 0.5, 0.75), (2.0, 3.0, 0.5)])
def test_betainc_matches_integration(a, b, x):
    n = 200_000
    log_norm = math.lgamma(a + b) - math.lgamma(a) - math.lgamma(b)
    # midpoint rule after t = x * u**(1/a), which removes the t**(a-1) pole at 0
    total = 0.0
    for k in range(n):
        u = (k + 0.5) / n
        t = x * u ** (1 / a)
        total += math.exp(log_norm + (b - 1) * math.log1p(-t)) * x ** a / a
    assert betainc(a, b, x) == pytest.approx(total / n, rel=1e-4)


def test_quantile_properties():
    assert quantile([2.5], 0.5) == 2.5
    assert quantile([3.0] * 7, 0.9) == pytest.approx(3.0)
    xs = [0.2, 0.4, 0.9, 1.1, 3.0, 4.2]
    assert min(xs) < quantile(xs, 0.5) < quantile(xs, 0.9) < max(xs)
    # symmetric samples have their median at the centre
    assert quantile([1.0, 2.0, 3.0, 4.0, 5.0], 0.5) == pytest.approx(3.0)
