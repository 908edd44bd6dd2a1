"""The benchmark's inputs are a function of its seed: the same seed writes
byte-identical files, another seed writes different ones.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

from pathlib import Path

import pytest

from perfbench import gen

ROWS = {k: max(5, v // 1000) for k, v in gen.SF01_ROWS.items()}
SIZES = gen.ReplSizes(history=3_000, history_files=2, users=500, delta=50, star_rows=ROWS)
CYCLES = 12


def _write_all(root: Path, seed: int) -> dict[str, bytes]:
    """Every input one seed drives: fixture tables, an llm shard, and a
    replication source through its history, deltas and churn schedule."""
    gen.write_fixture_dir(str(root / "fixture"), seed, ROWS)
    gen.write_llm_shard(str(root / "shard"), seed, 1, ROWS)
    src = gen.ReplSource(str(root / "source"), seed, SIZES)
    src.write_history()
    plan = src.churn_plan(CYCLES)
    for c, churn in enumerate(plan):
        src.apply_cycle(c, churn)
    files = {str(p.relative_to(root)): p.read_bytes() for p in sorted(root.rglob("*")) if p.is_file()}
    files["plan"] = repr(plan).encode()
    return files


def test_same_seed_same_bytes(tmp_path: Path):
    a = _write_all(tmp_path / "a", 7)
    b = _write_all(tmp_path / "b", 7)
    assert a.keys() == b.keys()
    assert all(a[k] == b[k] for k in a)


@pytest.mark.parametrize("part", ["fixture/lineitem.parquet", "shard/documents.parquet",
                                  "source/events.parquet/part-00000.parquet",
                                  "source/events.parquet/delta-00003.parquet"])
def test_other_seed_other_bytes(tmp_path: Path, part: str):
    a = _write_all(tmp_path / "a", 7)
    b = _write_all(tmp_path / "b", 8)
    assert a[part] != b[part]


def test_churn_plan_shape():
    """Each plan rewrites about every tenth cycle and drops one table that
    is re-created one to three cycles later (or stays dropped at the end)."""
    for seed in range(20):
        plan = gen.ReplSource("unused", seed, SIZES).churn_plan(CYCLES)
        drops = [c for c, ch in enumerate(plan) if ch.drop]
        creates = [c for c, ch in enumerate(plan) if ch.create]
        assert len(drops) == 1 and len(creates) <= 1
        if creates:
            assert 1 <= creates[0] - drops[0] <= 3
            assert plan[drops[0]].drop == plan[creates[0]].create
        assert 1 <= sum(1 for ch in plan if ch.rewrite) <= 2
