"""The per-process memo (``hive3_replication_spark.memo``): its key rule,
its build lock, its replacement and release rules, and the operators it
serves seeing a table rewritten at the same path."""

from __future__ import annotations

import os
import sys
import threading
import time

import pyarrow.compute as pc
import pyarrow.parquet as pq
import pytest

from hive3_replication_spark import memo
from tests.conftest import SF_DIR, assert_frames_match


def _write(path: str, payload: bytes) -> None:
    with open(path, "wb") as fh:
        fh.write(payload)


def _touch_ns(path: str) -> None:
    """Same size, same whole second, mtime one nanosecond later: the
    sub-second regeneration the identity must still catch."""
    st = os.stat(path)
    os.utime(path, ns=(st.st_atime_ns, st.st_mtime_ns + 1))


_MUTATIONS = {
    "unchanged": (lambda d, f: None, False),
    "subsecond_regeneration": (lambda d, f: _touch_ns(f), True),
    "resized": (lambda d, f: _write(f, b"x" * 65), True),
    "file_added": (lambda d, f: _write(os.path.join(d, "part-1"), b"y"), True),
}


@pytest.mark.parametrize(
    "layout, mutation",
    [("dir", m) for m in sorted(_MUTATIONS)]
    + [("file", m) for m in sorted(_MUTATIONS) if m != "file_added"],
)
def test_memo_key_follows_input_identity(tmp_path, layout, mutation):
    """One memo slot per (kind, scope): a hit needs the same params and
    the same identity of every input, and any change of the input's
    files — including a same-size rewrite within one second — rebuilds."""
    mutate, rebuilds = _MUTATIONS[mutation]
    if layout == "dir":
        table = str(tmp_path / "t.parquet")
        os.mkdir(table)
        data = os.path.join(table, "part-0")
    else:
        table = data = str(tmp_path / "t.parquet")
    _write(data, b"x" * 64)
    builds = []

    def get(params=()):
        return memo.get(
            "key_test", lambda: builds.append(1) or len(builds),
            inputs=[table], scope=str(tmp_path), params=params,
        )

    assert get() == 1 and get() == 1
    mutate(table, data)
    assert get() == (2 if rebuilds else 1)
    # new params replace the entry in the same slot
    assert get(params=("other",)) == len(builds)
    assert get() == len(builds)


def test_memo_builds_once_per_slot_and_slots_do_not_wait():
    """More threads than cores race four cold slots under a tiny switch
    interval: each slot builds exactly once and every caller gets that
    build. A slot whose build is stalled blocks no other slot."""
    builds: dict[str, int] = {}
    lock = threading.Lock()

    def build(slot: str) -> str:
        time.sleep(0.01)
        with lock:
            builds[slot] = builds.get(slot, 0) + 1
        return f"{slot}-built"

    got: list[tuple[str, str]] = []
    errors: list[BaseException] = []
    barrier = threading.Barrier(16)

    def worker(i: int) -> None:
        try:
            barrier.wait()
            for k in range(4):
                slot = f"s{(i + k) % 4}"
                value = memo.get("once_test", lambda: build(slot), scope=slot)
                with lock:
                    got.append((slot, value))
        except BaseException as exc:  # noqa: BLE001 — the assertion target
            errors.append(exc)

    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        threads = [
            threading.Thread(target=worker, args=(i,)) for i in range(16)
        ]
        for t in threads:
            t.start()
        for t in threads:
            t.join(60)
    finally:
        sys.setswitchinterval(old)
    assert not any(t.is_alive() for t in threads)
    assert not errors, errors
    assert builds == {f"s{k}": 1 for k in range(4)}, builds
    assert len(got) == 64 and all(v == f"{s}-built" for s, v in got)

    stalled, release = threading.Event(), threading.Event()

    def stalled_build() -> str:
        stalled.set()
        assert release.wait(30)
        return "slow"

    t = threading.Thread(
        target=memo.get,
        args=("stall_test", stalled_build),
        kwargs={"scope": "a"},
    )
    t.start()
    try:
        assert stalled.wait(30)
        assert memo.get("stall_test", lambda: "fast", scope="b") == "fast"
    finally:
        release.set()
        t.join(30)
    assert not t.is_alive()


def test_memo_replacement_and_clear_release_relations_only(spark, tmp_path):
    """A new identity in a persisted slot unpersists the old relation;
    clear() unpersists and forgets persisted relations but keeps plain
    values (plans, layouts, probes)."""
    table = str(tmp_path / "t.parquet")
    _write(table, b"x")
    first = memo.get(
        "release_test", lambda: spark.range(10), inputs=[table], persist=True
    )
    assert first.is_cached and first.storageLevel.useMemory
    _touch_ns(table)
    second = memo.get(
        "release_test", lambda: spark.range(20), inputs=[table], persist=True
    )
    assert second is not first and second.is_cached
    assert not first.is_cached and not first.storageLevel.useMemory
    plain = memo.get("plain_test", lambda: "layout", inputs=[table])

    memo.clear()
    assert not second.is_cached and not second.storageLevel.useMemory
    assert ("release_test", None) not in memo._STORE
    assert memo.get("plain_test", lambda: "rebuilt", inputs=[table]) == plain


def _oracle(sf_dir: str, key: str):
    import duckdb

    from hive3_replication_spark.catalog import TABLES
    from hive3_replication_spark.registry import build_oracles

    con = duckdb.connect()
    for t in TABLES:
        if os.path.exists(f"{sf_dir}/{t}.parquet"):
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'"
            )
    return con.sql(build_oracles()[key]).df()


@pytest.mark.parametrize(
    "key, table, id_col",
    [
        ("scan_partitioned", "events", "event_id"),
        ("llm_dedup_ngram", "documents", "doc_id"),
    ],
)
def test_rewrite_at_same_path_is_not_served_stale(
    spark, tmp_path, key, table, id_col
):
    """The operator's table is rewritten in place between two calls, with
    no memo.clear() in between: the second call must reflect the new
    rows. Every derived artifact the key reads — the table plan, the
    date-partitioned layout, the shingle and scored-pair relations — is
    keyed on the table's identity, not on the sf_dir path."""
    from hive3_replication_spark.registry import build_queries

    full = pq.read_table(f"{SF_DIR}/{table}.parquet")
    half = full.filter(pc.equal(pc.bit_wise_and(full[id_col], 1), 0))
    sf_dir = str(tmp_path)
    path = f"{sf_dir}/{table}.parquet"
    query = build_queries()[key]

    pq.write_table(half, path)
    before = _oracle(sf_dir, key)
    assert_frames_match(query(spark, sf_dir).toPandas(), before, key)

    pq.write_table(full, path)
    after = _oracle(sf_dir, key)
    assert not after.equals(before), "rewrite must change the expected rows"
    assert_frames_match(query(spark, sf_dir).toPandas(), after, key)
