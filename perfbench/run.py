"""Run one benchmark workload and print its result as the last line.

    python3 perfbench/run.py --workload repl_trickle --seed 1 --seconds 10 --trace 0

Run it from the repository root. ``--trace 0`` prints the end-to-end
metrics of ``BENCHMARK.json``; ``--trace 1`` runs the traced variant and
prints the per-layer metrics. The line before the result holds the full
record (per-key spans, contention fingerprint, check errors), which is
also written to ``.perfbench_out/``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import tempfile
import time
from concurrent.futures import ThreadPoolExecutor
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
WORKLOADS = ("repl_trickle", "query_mix")


def _args(argv: list[str]) -> argparse.Namespace:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def _metric_specs() -> tuple[list[dict], list[dict]]:
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    return spec["end_to_end"], spec["per_layer"]


def main(argv: list[str]) -> int:
    args = _args(argv)
    t_start = time.perf_counter()
    sys.path.insert(0, str(ROOT))
    try:  # these import the program under test, which must sit beside perfbench/
        from perfbench import harness, queries, repl_trickle
    except ImportError as exc:
        print(f"perfbench: program not found next to {ROOT}: {exc}", file=sys.stderr)
        return 2

    e2e_spec, layer_spec = _metric_specs()
    work = ROOT / ".perfbench_work" / f"{args.workload}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)
    # keep every scratch file of Spark and the program inside the checkout
    os.environ["TMPDIR"] = str(work / "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "spark-local")
    tempfile.tempdir = str(work / "tmp")
    os.chdir(work)
    wl = repl_trickle if args.workload == "repl_trickle" else queries
    spark = None
    try:
        # inputs are written while the JVM starts; set-up ends when the
        # workload is ready to time its first operation
        with ThreadPoolExecutor(1) as pool:
            inputs = pool.submit(wl.prepare, str(work), args.seed, args.seconds, bool(args.trace))
            spark = harness.start_session(str(work), bool(args.trace))
            inputs = inputs.result()
        out = wl.run(spark, inputs, t_start)
        pid = harness.jvm_pid(spark)
        peak_rss_mb = harness.vm_hwm_mb(pid) + harness.vm_hwm_mb(os.getpid())
        harness.stop_session(spark)
        spark = None
        values = dict(out.values)
        if args.trace:
            jobs = harness.read_event_log(str(work))
            values.update(wl.layers(out, jobs))
        values["failed_ratio"] = out.failed / out.attempted
        values.update(harness.latency_metrics(out.op_s) if out.op_s else {})
        values.update({
            "setup_s": out.setup_s,
            "work_s": out.work_s,
            "peak_rss_mb": peak_rss_mb,
        })
        specs = layer_spec if args.trace else e2e_spec
        metrics = {
            m["name"]: {"value": values.get(m["name"], 0.0) if args.trace else values[m["name"]],
                        "unit": m["unit"]}
            for m in specs
        }
        record = {
            "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
            "trace": args.trace, "cores": harness.cores(),
            "values": values, "op_s": out.op_s, "fingerprint": out.fingerprint,
            "detail": out.detail,
            "spans": out.tracer.dump() if out.tracer else [],
            "jobs": {d: vars(st) for d, st in jobs.items()} if args.trace else {},
        }
    finally:
        if spark is not None:
            harness.stop_session(spark)
        os.chdir(ROOT)
        shutil.rmtree(work, ignore_errors=True)
    out_dir = ROOT / ".perfbench_out"
    out_dir.mkdir(exist_ok=True)
    text = json.dumps(record, default=str)
    (out_dir / f"{args.workload}-seed{args.seed}-trace{args.trace}.json").write_text(text)
    print(text)
    print(json.dumps({
        "correct": out.failed == 0,
        "attempted": out.attempted,
        "failed": out.failed,
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
