"""Single-process ALTERNATING A/B for env-gated code variants (round 15).

Runs each key N rounds of (A, B) back-to-back in one session — A = env
vars set, B = env vars cleared — with memoized relations cleared before
every measurement, reporting per-arm MIN. Alternation inside one process
neutralizes the machine-window drift that makes cross-process A/Bs on
this host unreliable (±20% between runs minutes apart on identical code).

The package itself reads no environment switch (a test enforces it), so
an A/B runs on a working copy whose variant is gated by a temporary
``os.environ.get("H3R_AB_VARIANT")`` check, removed once the result is
recorded.

Usage:
  python scripts/ab_alternate.py --keys k1,k2 --env H3R_AB_VARIANT=1 \
      [--rounds 3] [--sf DIR]
"""

from __future__ import annotations

import argparse
import os
import sys
import time

sys.path.insert(0, ".")


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", default="/root/testdata/sf0.1")
    ap.add_argument("--keys", required=True)
    ap.add_argument("--env", action="append", required=True)
    ap.add_argument("--rounds", type=int, default=3)
    args = ap.parse_args()

    from hive3_replication_spark import memo
    from hive3_replication_spark.registry import build_queries
    from hive3_replication_spark.session import get_spark

    spark = get_spark(app_name="h3r-ab-alt")
    spark.sparkContext.setLogLevel("ERROR")
    queries = build_queries()
    keys = [k for k in args.keys.split(",") if k]
    env_kv = [e.split("=", 1) for e in args.env]

    sibling = os.path.join(os.path.dirname(args.sf.rstrip("/")), "sf0.001")
    warm = sibling if os.path.isdir(sibling) else args.sf
    for arm in ("A", "B"):
        _set_env(env_kv, arm)
        for k in keys:
            queries[k](spark, warm).count()

    best: dict[tuple[str, str], float] = {}
    for _r in range(args.rounds):
        for arm in ("A", "B"):
            _set_env(env_kv, arm)
            for k in keys:
                memo.clear()
                t0 = time.perf_counter()
                queries[k](spark, args.sf).count()
                el = time.perf_counter() - t0
                prev = best.get((k, arm), float("inf"))
                best[(k, arm)] = min(prev, el)
    _set_env(env_kv, "B")
    for k in keys:
        a, b = best[(k, "A")], best[(k, "B")]
        print(
            f"{k:32s} A(old/env-set)={a:7.3f}  B(new)={b:7.3f}  "
            f"delta={b - a:+.3f}"
        )
    spark.stop()


def _set_env(env_kv: list[list[str]], arm: str) -> None:
    for key, val in env_kv:
        if arm == "A":
            os.environ[key] = val
        else:
            os.environ.pop(key, None)


if __name__ == "__main__":
    main()
