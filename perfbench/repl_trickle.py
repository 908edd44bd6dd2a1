"""Workload ``repl_trickle``: replication lag under steady change.

One operation is one incremental ``run_replication`` call on one db.
Before it, untimed, the source gains one 1k-event delta file and the
seeded churn step (a dimension rewritten, dropped or re-created). Set-up
warms the pipeline on a small db, then bootstraps the workload db from a
~3M-event history over a ~2M-user keyspace (live state ~1.45M rows), so
an apply that costs O(state) stands apart from one that costs O(delta).
"""

from __future__ import annotations

import os
import statistics
import time

import duckdb
import pyarrow.parquet as pq

from hive3_replication_spark.repl import incremental, snapshot
from hive3_replication_spark.repl.model import STATUS_SUCCESS, ReplConfig
from hive3_replication_spark.repl.pipeline import run_replication

from . import gen
from .harness import (
    SETTLE_S, Fingerprint, JobStats, Outcome, Tracer, bytes_written, dir_bytes, dir_files, jvm_gc_s,
)

NAME = "repl_trickle"
#: Nominal cycle time on a 4-core host; sets the cycle count per run.
NOMINAL_CYCLE_S = 2.5
#: Phase functions the pipeline looks up as module attributes at call time.
#: ``incremental`` imports ``advance_watermark`` by name, so that is the
#: binding the incremental commit goes through.
PHASES = (
    (snapshot, "repl_status", "status", None),
    (snapshot, "bootstrap_dump", "bootstrap_dump", None),
    (snapshot, "bootstrap_load", "bootstrap_load", None),
    (snapshot, "sync_static_tables", "sync", len),
    (snapshot, "drop_removed_tables", "drop", len),
    (incremental, "incremental_dump", "incremental_dump", lambda r: r["n_events"]),
    (incremental, "apply_events", "apply", None),
    (incremental, "read_state", "read_state", None),
    (incremental, "advance_watermark", "commit", None),
)
WARMUP_SIZES = gen.ReplSizes(
    history=20_000, history_files=2, users=10_000,
    star_rows={k: max(5, v // 100) for k, v in gen.SF01_ROWS.items()},
)


class Db:
    """One replicated db: its seeded source and the pipeline's roots."""

    def __init__(self, work: str, name: str, seed: int, sizes: gen.ReplSizes = gen.ReplSizes()):
        base = f"{work}/{name}"
        self.source = gen.ReplSource(f"{base}/source", seed, sizes)
        self.cfg = ReplConfig(
            db_name=name,
            source_root=self.source.root,
            target_root=f"{base}/target",
            repl_root=f"{base}/repl",
            db_allowlist=(name,),
        )
        self.run_dir = f"{base}/repl/_run"
        self.wm_dir = f"{base}/repl/_watermarks"

    def replicate(self, spark) -> dict:
        return run_replication(spark, self.cfg, self.run_dir, self.wm_dir)

    def roots(self) -> tuple[str, str]:
        return self.cfg.target_root, self.cfg.repl_root

    def state_dir(self, version: int) -> str:
        return f"{self.cfg.target_root}/{incremental.STATE_TABLE}_v{version}"


def _check_cycle(db: Db, report: dict, churn: gen.Churn) -> str | None:
    """Why a cycle's output is wrong, or None."""
    want = db.source.last_event_id
    if report.get("status") != STATUS_SUCCESS or report.get("mode") != "incremental":
        return f"report {report}"
    if report.get("post_load_id") != want:
        return f"post_load_id {report.get('post_load_id')} != {want}"
    return _check_tables(db, [t for t in (churn.rewrite, churn.create, churn.drop) if t])


def _check_tables(db: Db, tables: list[str]) -> str | None:
    """Each named dimension matches the source, or is absent at the
    target when it is absent at the source."""
    for t in tables:
        src, tgt = f"{db.source.root}/{t}.parquet", f"{db.cfg.target_root}/{t}"
        if not os.path.exists(src):
            if os.path.exists(tgt):
                return f"dropped table {t} still at target"
        elif not os.path.exists(tgt) or not pq.read_table(src).equals(pq.read_table(tgt)):
            return f"table {t} differs from source"
    return None


def _check_state(db: Db, version: int) -> str | None:
    """The target state equals an independent argmax by event_id per
    user over every source event, minus users whose latest event deletes."""
    con = duckdb.connect()
    try:
        con.execute(
            f"CREATE VIEW want AS SELECT user_id, max(event_id) AS last_event_id, "
            f"arg_max(value, event_id) AS state_value FROM "
            f"read_parquet('{db.source.events_dir}/*.parquet') GROUP BY user_id "
            f"HAVING arg_max(event_type, event_id) <> '{gen.DELETE_TYPE}'"
        )
        con.execute(
            f"CREATE VIEW got AS SELECT user_id, last_event_id, state_value "
            f"FROM read_parquet('{db.state_dir(version)}/*.parquet')"
        )
        extra = con.sql("SELECT count(*) FROM (SELECT * FROM got EXCEPT ALL SELECT * FROM want)").fetchone()[0]
        missing = con.sql("SELECT count(*) FROM (SELECT * FROM want EXCEPT ALL SELECT * FROM got)").fetchone()[0]
    finally:
        con.close()
    if extra or missing:
        return f"state differs from oracle: {extra} extra rows, {missing} missing rows"
    return None


def _cycles(db: Db, spark, plan: list[gen.Churn], first: int, tracer: Tracer | None) -> dict:
    """Run ``plan`` as timed cycles; everything but ``run_replication``
    (delta append, churn, checks, byte scans) stays outside the timer."""
    out = {"op_s": [], "failed": 0, "errors": [], "delta_bytes": 0, "written": [],
           "rows_per_delta_row": [], "last_version": None}
    for k, churn in enumerate(plan):
        out["delta_bytes"] += db.source.apply_cycle(first + k, churn)
        before = dir_files(*db.roots())
        try:
            t0 = time.perf_counter()
            if tracer is None:
                report = db.replicate(spark)
            else:
                with tracer.span("cycle"):
                    report = db.replicate(spark)
            dt = time.perf_counter() - t0
            err = _check_cycle(db, report, churn)
        except Exception as exc:  # noqa: BLE001 - a failed operation is counted, not fatal
            err, report = f"{type(exc).__name__}: {exc}", {}
        out["written"].append(bytes_written(before, dir_files(*db.roots())))
        if err:
            out["failed"] += 1
            out["errors"].append(err)
            continue
        out["op_s"].append(dt)
        out["last_version"] = report["post_load_id"]
        state_rows = snapshot.parquet_row_count(db.state_dir(report["post_load_id"]))
        out["rows_per_delta_row"].append(state_rows / db.source.sizes.delta)
    return out


def prepare(work: str, seed: int, seconds: int, trace: bool) -> dict:
    """Write both sources' histories (no Spark)."""
    warm = Db(work, "warmrepl", seed, WARMUP_SIZES)
    warm.source.write_history()
    db = Db(work, "benchrepl", seed)
    db.source.write_history()
    n_cycles = max(3, round(seconds / NOMINAL_CYCLE_S))
    plan = db.source.churn_plan(2 * n_cycles - 1 if trace else n_cycles)
    return {"warm": warm, "db": db, "n_cycles": n_cycles, "plan": plan, "trace": trace}


def run(spark, inputs: dict, t_start: float) -> Outcome:
    warm, db, n_cycles, plan, trace = (
        inputs[k] for k in ("warm", "db", "n_cycles", "plan", "trace")
    )
    # warm-up: the same code path (bootstrap, replay cycle, steady cycle)
    # on a small db, so the workload db's numbers are not first-compile
    for c, churn in enumerate(warm.source.churn_plan(3)):
        if c:
            warm.source.apply_cycle(c, churn)
        warm.replicate(spark)

    tracer = Tracer(spark, NAME, trace)
    for module, attr, name, count in PHASES if trace else ():
        tracer.wrap(module, attr, name, count)
    t0 = time.perf_counter()
    with tracer.span("bootstrap"):
        boot = db.replicate(spark)
    bootstrap_s = time.perf_counter() - t0
    setup_s = time.perf_counter() - t_start
    time.sleep(SETTLE_S)

    gc0 = jvm_gc_s(spark)
    fp = Fingerprint(spark)
    t0 = time.perf_counter()
    res = _cycles(db, spark, plan[:n_cycles], 0, tracer if trace else None)
    work_s = time.perf_counter() - t0
    fingerprint = fp.end()
    gc_s = jvm_gc_s(spark) - gc0
    tracer.unwrap()
    values = {"spark.gc_s": gc_s}
    if trace:
        # tracing overhead: the traced steady cycles (all but the replay
        # cycle) against as many untraced cycles run right after them
        again = _cycles(db, spark, plan[n_cycles:], n_cycles, None)
        values["trace.overhead_s"] = sum(res["op_s"][1:]) - sum(again["op_s"])
        values["repl.rows_rewritten_per_delta_row"] = statistics.mean(res["rows_per_delta_row"] or [0.0])
        values["repl.bytes_written"] = statistics.mean(res["written"])
        for k in ("failed", "errors", "written", "delta_bytes"):
            res[k] += again[k]
        res["last_version"] = again["last_version"] or res["last_version"]

    # end-of-run checks and byte accounting, outside every timer
    version = res["last_version"]
    final = [f"bootstrap report {boot}"] if (
        boot.get("status") != STATUS_SUCCESS or boot.get("mode") != "bootstrap"
    ) else []
    if version is not None:
        final += [e for e in (_check_state(db, version), _check_tables(db, list(gen.CHURN_TABLES))) if e]
    # a wrong end state fails the last cycle, which produced it
    failed = min(len(plan), res["failed"] + bool(final))
    target, _ = db.roots()
    live = dir_bytes(
        db.state_dir(version),
        *(f"{target}/{t}" for t in os.listdir(target)
          if not t.startswith(("_", incremental.STATE_TABLE))),
    ) if version is not None else 0
    values.update({
        "bootstrap_s": bootstrap_s,
        "write_amp": sum(res["written"]) / res["delta_bytes"],
        "space_amp": dir_bytes(*db.roots()) / live if live else 0.0,
        "repl.state_rows": snapshot.parquet_row_count(db.state_dir(version)) if live else 0,
    })
    return Outcome(
        setup_s=setup_s,
        work_s=work_s,
        op_s=res["op_s"][:n_cycles],
        attempted=len(plan),
        failed=failed,
        fingerprint=fingerprint,
        detail={"cycles": n_cycles, "churn": [c.__dict__ for c in plan], "errors": res["errors"] + final},
        tracer=tracer if trace else None,
        values=values,
    )


def layers(out: Outcome, jobs: dict[str, JobStats]) -> dict[str, float]:
    """Per-layer metrics of a traced run: per-cycle means of phase self
    times, run totals of counts, and the bootstrap phases."""
    tr = out.tracer
    cycles = tr.roots("cycle")
    (boot,) = tr.roots("bootstrap")
    n = len(cycles)

    def self_total(name: str, roots=cycles) -> float:
        return sum(tr.self_s(i) for r in roots for i in tr.under(r, name))

    def count_total(name: str) -> int:
        return sum(tr.spans[i].attrs.get("n", 0) for r in cycles for i in tr.under(r, name))

    split = []
    for r in cycles:
        phases = {}
        for _m, _a, name, _c in PHASES:
            phases[name] = sum(tr.self_s(i) for i in tr.under(r, name))
        other = tr.self_s(r)
        split.append({"wall_s": tr.spans[r].dur, "other_s": other, "phases": phases,
                      "accounted_s": other + sum(phases.values())})
    out.detail["cycle_split"] = split
    cycle_jobs = [st for desc, st in jobs.items() if desc.startswith(f"{NAME}:cycle")]
    return {
        "repl.status.s": self_total("status") / n,
        "repl.incremental_dump.s": self_total("incremental_dump") / n,
        "repl.incremental_dump.events": count_total("incremental_dump"),
        "repl.apply.self_s": self_total("apply") / n,
        "repl.apply.calls": sum(len(tr.under(r, "apply")) for r in cycles) / n,
        "repl.read_state.s": self_total("read_state"),
        "repl.commit.s": self_total("commit") / n,
        "repl.sync.s": self_total("sync") / n,
        "repl.sync.tables_copied": count_total("sync"),
        "repl.drop.s": self_total("drop") / n,
        "repl.drop.tables_dropped": count_total("drop"),
        "repl.bootstrap_dump.s": self_total("bootstrap_dump", [boot]),
        "repl.bootstrap_load.s": self_total("bootstrap_load", [boot]),
        "repl.other_s": sum(tr.self_s(r) for r in cycles) / n,
        "repl.spark.jobs": sum(st.jobs for st in cycle_jobs) / n,
        "repl.spark.task_s": sum(st.task_s for st in cycle_jobs) / n,
    }
