"""Workload ``query_mix``: registry keys built and written to Spark's
``noop`` sink, one key per operation, closed loop with one client.

Two cache properties share one run. The operator, source and streaming
keys read the same fixture tables on every pass, so the program's
per-path memos and layouts stay warm (the data fits its caches). The
``llm`` keys read a new ``documents`` + ``embeddings`` shard on every
pass, so no per-path memo can serve a later pass. Set-up collects every
key once and checks it against the registry's DuckDB oracle; that pass
also fills the warm caches and the JVM's compiled code.
"""

from __future__ import annotations

import time
from concurrent.futures import ThreadPoolExecutor

import duckdb
import numpy as np

from hive3_replication_spark import registry
from hive3_replication_spark.catalog import TABLES
from tests.conftest import assert_frames_match

from . import gen
from .harness import SETTLE_S, Fingerprint, JobStats, Outcome, Tracer, jvm_gc_s

NAME = "query_mix"
#: One headline key per module (two for ``llm.dedup``, which dominates
#: data prep), so every module is a layer of its own.
HOT_KEYS = (
    "scan_partitioned", "snapshot_load", "filter_dpp", "join_asof",
    "agg_corr", "win_distinct_running", "ts_anomaly_zscore",
    "sql_pricing_summary", "reshape_pivot", "fn_try_arith",
    "stream_event_replay",
)
FRESH_KEYS = (
    "llm_dedup_minhash", "llm_dedup_ngram", "llm_similarity_topk",
    "llm_sample_temperature", "llm_text_tokens",
)
#: Keys checked at once during set-up.
CHECK_THREADS = 3
#: Nominal pass time on a 4-core host; sets the pass count per run.
NOMINAL_PASS_S = 20.0
#: Seed of the fixture tables: the same warm inputs on every run and seed.
FIXTURE_SEED = 20260101
#: Fixture tables at sf0.1; its llm tables are small, as there they only
#: serve the set-up checks.
FIXTURE_ROWS = dict(gen.SF01_ROWS, documents=500, embeddings=500)
#: Rows of each fresh shard.
SHARD_ROWS = dict(gen.SF01_ROWS, documents=2000, embeddings=1000)


def module_of() -> dict[str, str]:
    """Registry key -> the module that defines it, e.g. ``llm.dedup``."""
    out = {}
    for mod in registry._MODULES:
        name = mod.__name__.split(".", 1)[1]
        for key in mod.QUERY_FNS:
            out[key] = name
    return out


def check_key(spark, query, oracle_sql: str, key: str, data: str) -> str | None:
    """Collect one key and compare it with its DuckDB oracle over the same
    input dir, with the repository's own frame comparison."""
    con = duckdb.connect()
    try:
        for t in TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{data}/{t}.parquet'")
        want = con.sql(oracle_sql).df()
    finally:
        con.close()
    try:
        assert_frames_match(query(spark, data).toPandas(), want, key)
    except AssertionError as exc:
        return str(exc)[:500]
    return None


def prepare(work: str, seed: int, seconds: int, trace: bool) -> dict:
    """Write the inputs (no Spark): the fixture tables, and one fresh
    shard per timed pass."""
    passes = max(1, round(seconds / NOMINAL_PASS_S))
    fixture = f"{work}/fixture"
    gen.write_fixture_dir(fixture, FIXTURE_SEED, FIXTURE_ROWS)
    shards = [f"{work}/shard{k}" for k in range((2 if trace else 1) * passes)]
    for k, d in enumerate(shards):
        gen.write_llm_shard(d, seed, k, SHARD_ROWS)
    return {"fixture": fixture, "shards": shards, "passes": passes, "seed": seed, "trace": trace}


def run(spark, inputs: dict, t_start: float) -> Outcome:
    queries, oracles = registry.build_queries(), registry.build_oracles()
    fixture, shards, passes, trace = (inputs[k] for k in ("fixture", "shards", "passes", "trace"))
    rng = np.random.default_rng([inputs["seed"], 5])
    keys = HOT_KEYS + FRESH_KEYS

    def checked(key: str) -> str | None:
        try:
            return check_key(spark, queries[key], oracles[key], key, fixture)
        except Exception as exc:  # noqa: BLE001 - a failing key is counted, not fatal
            return f"{type(exc).__name__}: {exc}"[:500]

    # the checks are set-up, not timed operations: they run a few keys at
    # a time so the JVM's per-key first-run costs overlap
    with ThreadPoolExecutor(CHECK_THREADS) as pool:
        bad = {k: err for k, err in zip(keys, pool.map(checked, keys)) if err}
    setup_s = time.perf_counter() - t_start
    time.sleep(SETTLE_S)

    def batch(tracer: Tracer | None, first_pass: int) -> dict:
        op_s, ops, failed, errors = [], [], 0, []
        for p in range(first_pass, first_pass + passes):
            for key in rng.permutation(keys):
                key = str(key)
                data = shards[p] if key in FRESH_KEYS else fixture
                try:
                    dt = _op(spark, queries[key], key, data, tracer)
                except Exception as exc:  # noqa: BLE001
                    failed += 1
                    errors.append(f"{key}: {type(exc).__name__}: {exc}"[:500])
                    continue
                ops.append((key, dt))
                if key in bad:
                    failed += 1
                else:
                    op_s.append(dt)
        return {"op_s": op_s, "ops": ops, "failed": failed, "errors": errors}

    tracer = Tracer(spark, NAME, trace)
    gc0 = jvm_gc_s(spark)
    fp = Fingerprint(spark)
    t0 = time.perf_counter()
    res = batch(tracer if trace else None, 0)
    work_s = time.perf_counter() - t0
    fingerprint = fp.end()
    values = {"spark.gc_s": jvm_gc_s(spark) - gc0}
    attempted = passes * len(keys)
    errors = list(bad.values()) + res["errors"]
    if trace:
        # tracing overhead: the traced batch against an untraced one of
        # the same shape (warm fixture keys, new shards) right after it
        t0 = time.perf_counter()
        again = batch(None, passes)
        values["trace.overhead_s"] = work_s - (time.perf_counter() - t0)
        attempted *= 2
        res["failed"] += again["failed"]
        errors += again["errors"]
        # bridge to the legacy .count() timings: each key once, untimed
        for key in keys:
            with tracer.span(key, bridge=True):
                df = queries[key](spark, fixture)
                with tracer.span("count"):
                    df.count()
                with tracer.span("noop"):
                    df.write.format("noop").mode("overwrite").save()
    return Outcome(
        setup_s=setup_s,
        work_s=work_s,
        op_s=res["op_s"],
        attempted=attempted,
        failed=res["failed"],
        fingerprint=fingerprint,
        detail={"passes": passes, "ops": res["ops"], "errors": errors},
        tracer=tracer if trace else None,
        values=values,
    )


def _op(spark, query, key: str, data: str, tracer: Tracer | None) -> float:
    """One operation: build the key's DataFrame and write it to ``noop``.
    Traced, it is split into build, forced planning and execution."""
    t0 = time.perf_counter()
    if tracer is None:
        query(spark, data).write.format("noop").mode("overwrite").save()
        return time.perf_counter() - t0
    with tracer.span(key):
        with tracer.span("build"):
            df = query(spark, data)
        with tracer.span("prep"):
            df._jdf.queryExecution().executedPlan()
        with tracer.span("exec"):
            df.write.format("noop").mode("overwrite").save()
    return time.perf_counter() - t0


def layers(out: Outcome, jobs: dict[str, JobStats]) -> dict[str, float]:
    """Per-module sums over the traced batch: build, side jobs, planning,
    execution, executor task time and shuffle bytes."""
    tr = out.tracer
    mods = module_of()
    vals: dict[str, float] = {}
    bridge = {"count": 0.0, "noop": 0.0}
    for i, sp in enumerate(tr.spans):
        if sp.parent is not None:
            continue
        if sp.attrs.get("bridge"):
            for c in tr.children(i):
                bridge[tr.spans[c].name] += tr.spans[c].dur
            continue
        m = mods[sp.name]
        for c in tr.children(i):
            phase = tr.spans[c].name
            metric = {"build": "build_s", "prep": "prep_s", "exec": "exec_s"}[phase]
            vals[f"{m}.{metric}"] = vals.get(f"{m}.{metric}", 0.0) + tr.spans[c].dur
    for desc, st in jobs.items():
        wl_name, _, path = desc.partition(":")
        parts = path.split("/")
        if wl_name != NAME or parts[0] not in mods or len(parts) < 2 or parts[1] not in ("build", "prep", "exec"):
            continue
        m = mods[parts[0]]
        if parts[1] == "build":
            vals[f"{m}.side_jobs"] = vals.get(f"{m}.side_jobs", 0) + st.jobs
        vals[f"{m}.task_s"] = vals.get(f"{m}.task_s", 0.0) + st.task_s
        vals[f"{m}.shuffle_bytes"] = vals.get(f"{m}.shuffle_bytes", 0) + st.shuffle_bytes
    vals["bridge.count_s"] = bridge["count"]
    vals["bridge.noop_s"] = bridge["noop"]
    return vals
