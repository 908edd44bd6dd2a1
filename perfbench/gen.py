"""Seeded input generator for the benchmark.

Every input the program sees is written here from a seed, as plain
parquet with pyarrow, so one seed always gives byte-identical files.
Table schemas and value distributions follow the star-schema fixtures
the package is tested on (see FIXTURES.md): TPC-H-style dimensions and
facts, an ``events`` change stream, and the ``documents`` /
``embeddings`` corpus that ``llm/`` reads.
"""

from __future__ import annotations

import datetime as dt
import os
from dataclasses import dataclass, field

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

#: Row counts of each fixture table at scale factor 0.1.
SF01_ROWS = {
    "region": 5,
    "nation": 25,
    "customer": 15_000,
    "supplier": 1_000,
    "part": 20_000,
    "orders": 150_000,
    "lineitem": 600_000,
    "events": 100_000,
    "documents": 5_000,
    "embeddings": 2_000,
}
STAR_TABLES = ("region", "nation", "customer", "supplier", "part", "orders", "lineitem")
#: Dimension tables the replication churn schedule rewrites or drops.
CHURN_TABLES = ("region", "nation", "customer", "supplier", "part")

EVENT_TYPES = ("signup", "click", "error", "view", "purchase")
#: Events of this type delete the user's replicated state.
DELETE_TYPE = "error"
WORDS = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
LANGS = ("en", "de", "es", "fr", "zh")
LANG_P = (0.4, 0.15, 0.15, 0.15, 0.15)
EMB_DIM = 64

_US_PER_DAY = 86_400_000_000
_EPOCH = dt.datetime(1970, 1, 1)


def _us(day: dt.datetime) -> int:
    return (day - _EPOCH) // dt.timedelta(microseconds=1)


def _ts(micros: np.ndarray) -> pa.Array:
    return pa.array(micros.astype(np.int64), type=pa.timestamp("us"))


def _pick(rng: np.random.Generator, values, n: int, p=None) -> pa.Array:
    return pa.array(np.asarray(values, dtype=object)[rng.choice(len(values), n, p=p)])


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _days(rng: np.random.Generator, first: dt.datetime, last: dt.datetime, n: int) -> pa.Array:
    span = (last - first).days + 1
    return _ts(_us(first) + rng.integers(0, span, n) * _US_PER_DAY)


def write(table: pa.Table, path: str) -> None:
    """Write one parquet file (snappy, pyarrow defaults: deterministic bytes)."""
    os.makedirs(os.path.dirname(path) or ".", exist_ok=True)
    pq.write_table(table, path)


def dimension(rng: np.random.Generator, name: str, n: int, counts: dict[str, int]) -> pa.Table:
    """One star-schema table of ``n`` rows; foreign keys range over ``counts``."""
    i = np.arange(n, dtype=np.int64)
    if name == "region":
        names = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST", "OCEANIA", "ANTARCTICA"]
        return pa.table({
            "r_regionkey": pa.array(i[:n].astype(np.int32)),
            "r_name": pa.array([names[k % len(names)] + ("" if k < len(names) else f"_{k}") for k in range(n)]),
        })
    if name == "nation":
        return pa.table({
            "n_nationkey": pa.array(i.astype(np.int32)),
            "n_name": pa.array([f"NATION_{k}" for k in range(n)]),
            "n_regionkey": pa.array((i % 5).astype(np.int32)),
        })
    if name == "customer":
        return pa.table({
            "c_custkey": pa.array(i),
            "c_name": pa.array([f"Customer#{k:09d}" for k in range(n)]),
            "c_nationkey": pa.array(rng.integers(0, 25, n).astype(np.int32)),
            "c_acctbal": pa.array(_money(rng, -999.99, 9999.99, n)),
            "c_mktsegment": _pick(rng, ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"), n),
        })
    if name == "supplier":
        return pa.table({
            "s_suppkey": pa.array(i),
            "s_name": pa.array([f"Supplier#{k:09d}" for k in range(n)]),
            "s_nationkey": pa.array(rng.integers(0, 25, n).astype(np.int32)),
            "s_acctbal": pa.array(_money(rng, -999.99, 9999.99, n)),
        })
    if name == "part":
        adj = ("small", "large", "red", "blue", "hot", "cold", "new", "old")
        noun = ("ring", "plate", "gear", "rod", "bolt", "anvil", "widget", "gizmo")
        names = [f"{a} {b}" for a in adj for b in noun]
        return pa.table({
            "p_partkey": pa.array(i),
            "p_name": _pick(rng, names, n),
            "p_brand": _pick(rng, [f"Brand#{k}" for k in range(1, 26)], n),
            "p_type": _pick(rng, ("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"), n),
            "p_size": pa.array(rng.integers(1, 51, n).astype(np.int32)),
            "p_retailprice": pa.array(np.round(900.0 + (i % 1000) * 0.1, 1)),
        })
    if name == "orders":
        return pa.table({
            "o_orderkey": pa.array(i),
            "o_custkey": pa.array(rng.integers(0, counts["customer"], n)),
            "o_orderstatus": _pick(rng, ("F", "O", "P"), n),
            "o_totalprice": pa.array(_money(rng, 1000.0, 500000.0, n)),
            "o_orderdate": _days(rng, dt.datetime(1995, 1, 1), dt.datetime(2001, 8, 1), n),
            "o_orderpriority": _pick(rng, ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"), n),
        })
    if name == "lineitem":
        return pa.table({
            "l_orderkey": pa.array(rng.integers(0, counts["orders"], n)),
            "l_partkey": pa.array(rng.integers(0, counts["part"], n)),
            "l_suppkey": pa.array(rng.integers(0, counts["supplier"], n)),
            "l_linenumber": pa.array(rng.integers(1, 8, n).astype(np.int32)),
            "l_quantity": pa.array(rng.integers(1, 51, n).astype(np.float64)),
            "l_extendedprice": pa.array(_money(rng, 900.0, 100000.0, n)),
            "l_discount": pa.array(rng.integers(0, 11, n) / 100.0),
            "l_tax": pa.array(rng.integers(0, 9, n) / 100.0),
            "l_returnflag": _pick(rng, ("A", "N", "R"), n),
            "l_linestatus": _pick(rng, ("F", "O"), n),
            "l_shipdate": _days(rng, dt.datetime(1995, 1, 2), dt.datetime(2001, 11, 4), n),
        })
    raise ValueError(f"unknown table {name!r}")


def events(
    rng: np.random.Generator,
    first_id: int,
    n: int,
    n_users: int,
    first_us: int,
    hot_share: float = 0.0,
    delete_share: float = 0.2,
) -> pa.Table:
    """``n`` change events with ids ``first_id..first_id+n-1``, one second
    apart on average. A ``hot_share`` of the events goes to the first 1%
    of user ids (skew); ``delete_share`` of them are delete events."""
    uid = rng.integers(0, n_users, n)
    hot = rng.random(n) < hot_share
    uid[hot] = rng.integers(0, max(1, n_users // 100), int(hot.sum()))
    other = [t for t in EVENT_TYPES if t != DELETE_TYPE]
    etype = np.asarray(other, dtype=object)[rng.integers(0, len(other), n)]
    etype[rng.random(n) < delete_share] = DELETE_TYPE
    gaps = rng.integers(1, 2_000_000, n)
    props = np.asarray([f'{{"k": {k}}}' for k in range(100)], dtype=object)
    return pa.table({
        "event_id": pa.array(np.arange(first_id, first_id + n, dtype=np.int64)),
        "ts": _ts(first_us + np.cumsum(gaps)),
        "user_id": pa.array(uid.astype(np.int64)),
        "event_type": pa.array(etype),
        "value": pa.array(np.round(rng.exponential(50.0, n), 2)),
        "props": pa.array(props[rng.integers(0, 100, n)]),
    })


def documents(rng: np.random.Generator, n: int) -> pa.Table:
    """Bag-of-words documents of 10-100 words; ~5% are near duplicates
    (an earlier document plus a trailing word), a few of those exact."""
    words = np.asarray(WORDS, dtype=object)
    texts: list[str] = []
    for k in range(n):
        if k > 10 and rng.random() < 0.05:
            texts.append(texts[int(rng.integers(0, k))] + " dup")
        else:
            texts.append(" ".join(words[rng.integers(0, len(words), int(rng.integers(10, 101)))]))
    return pa.table({
        "doc_id": pa.array(np.arange(n, dtype=np.int64)),
        "text": pa.array(texts),
        "lang": _pick(rng, LANGS, n, p=LANG_P),
        "source": pa.array([f"src{k % 20}" for k in range(n)]),
        "n_chars": pa.array(np.asarray([len(t) for t in texts], dtype=np.int64)),
    })


def embeddings(rng: np.random.Generator, n: int) -> pa.Table:
    """Unit-norm float32 vectors with a 10-class label."""
    x = rng.standard_normal((n, EMB_DIM)).astype(np.float32)
    x /= np.linalg.norm(x, axis=1, keepdims=True)
    return pa.table({
        "vec_id": pa.array(np.arange(n, dtype=np.int64)),
        "embedding": pa.array(list(x), type=pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n).astype(np.int32)),
    })


def write_fixture_dir(out: str, seed: int, rows: dict[str, int] = SF01_ROWS) -> None:
    """All ten fixture tables as ``<out>/<table>.parquet``."""
    rng = np.random.default_rng([seed, 0])
    for name in STAR_TABLES:
        write(dimension(rng, name, rows[name], rows), f"{out}/{name}.parquet")
    n_users = max(1, rows["customer"] // 10)
    write(
        events(rng, 0, rows["events"], n_users, _us(dt.datetime(2024, 1, 1))),
        f"{out}/events.parquet",
    )
    write_llm_shard(out, seed, 0, rows)


def write_llm_shard(out: str, seed: int, shard: int, rows: dict[str, int] = SF01_ROWS) -> None:
    """One ``documents`` + ``embeddings`` shard (the only tables ``llm/``
    reads), distinct for every (seed, shard)."""
    rng = np.random.default_rng([seed, 1, shard])
    write(documents(rng, rows["documents"]), f"{out}/documents.parquet")
    write(embeddings(rng, rows["embeddings"]), f"{out}/embeddings.parquet")


@dataclass(frozen=True)
class ReplSizes:
    """Replication source sizes: a ~2M-user keyspace, ~3M history events,
    1k-event deltas; 5% of events delete, 5% go to the hot 1% of users."""

    history: int = 3_000_000
    history_files: int = 8
    users: int = 2_000_000
    delta: int = 1_000
    hot_share: float = 0.05
    delete_share: float = 0.05
    star_rows: dict[str, int] = field(default_factory=lambda: dict(SF01_ROWS))


@dataclass(frozen=True)
class Churn:
    """What the source does before one replication cycle."""

    rewrite: str | None = None   # dimension rewritten with new rows
    drop: str | None = None      # dimension deleted at the source
    create: str | None = None    # dropped dimension written again


class ReplSource:
    """The replication source of one seed: a history bootstrapped once,
    then one delta file and a seeded churn step per cycle."""

    def __init__(self, root: str, seed: int, sizes: ReplSizes = ReplSizes()):
        self.root = root
        self.seed = seed
        self.sizes = sizes
        self.next_id = 0
        self.next_us = _us(dt.datetime(2024, 1, 1))

    def _events(self, rng: np.random.Generator, n: int) -> pa.Table:
        s = self.sizes
        t = events(rng, self.next_id, n, s.users, self.next_us, s.hot_share, s.delete_share)
        self.next_id += n
        self.next_us = t.column("ts")[-1].value
        return t

    @property
    def events_dir(self) -> str:
        return f"{self.root}/events.parquet"

    @property
    def last_event_id(self) -> int:
        return self.next_id - 1

    def write_history(self) -> None:
        """Dimensions at their fixture sizes plus the event history, split
        over several files so the history scan is parallel."""
        rng = np.random.default_rng([self.seed, 2])
        rows = self.sizes.star_rows
        for name in STAR_TABLES:
            write(dimension(rng, name, rows[name], rows), f"{self.root}/{name}.parquet")
        files = self.sizes.history_files
        per = -(-self.sizes.history // files)
        for k in range(files):
            n = min(per, self.sizes.history - k * per)
            write(self._events(rng, n), f"{self.events_dir}/part-{k:05d}.parquet")

    def churn_plan(self, cycles: int) -> list[Churn]:
        """One rewrite every ~10 cycles (seeded phase), plus one table
        dropped and re-created 1-3 cycles later (past the end: it stays
        dropped). Index 0 is the first cycle."""
        rng = np.random.default_rng([self.seed, 3])
        rewrite_t, drop_t = rng.choice(CHURN_TABLES, 2, replace=False)
        phase = int(rng.integers(0, 10))
        drop_at = int(rng.integers(0, max(1, cycles - 1)))
        create_at = drop_at + int(rng.integers(1, 4))
        plan = []
        for c in range(cycles):
            plan.append(Churn(
                rewrite=str(rewrite_t) if (c + phase) % 10 == 0 else None,
                drop=str(drop_t) if c == drop_at else None,
                create=str(drop_t) if c == create_at else None,
            ))
        return plan

    def apply_cycle(self, cycle: int, churn: Churn) -> int:
        """Append the cycle's delta file and apply its churn step; returns
        the bytes of delta parquet written."""
        rng = np.random.default_rng([self.seed, 4, cycle])
        rows = self.sizes.star_rows
        for name in (churn.rewrite, churn.create):
            if name:
                # a rewrite adds rows, as a growing dimension does
                grown = dict(rows, **{name: rows[name] + 1 + cycle})
                write(dimension(rng, name, grown[name], grown), f"{self.root}/{name}.parquet")
        if churn.drop:
            os.remove(f"{self.root}/{churn.drop}.parquet")
        path = f"{self.events_dir}/delta-{cycle:05d}.parquet"
        write(self._events(rng, self.sizes.delta), path)
        return os.path.getsize(path)
