"""Shared pieces of the benchmark: the Spark session, in-memory spans,
Spark event-log parsing, memory and contention readings, byte accounting
and the latency quantile estimator."""

from __future__ import annotations

import glob
import json
import math
import os
import subprocess
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

from bench import _fingerprint_begin, _fingerprint_end
from hive3_replication_spark.session import get_spark

#: Driver heap for every run, committed at start (``-Xms`` = ``-Xmx``), so
#: peak resident memory does not depend on when the heap happened to grow.
DRIVER_MEMORY = "3g"
#: Idle pause between set-up and the timed batch, so the JIT compilations
#: and block cleanup that set-up queued do not land in the first operations.
SETTLE_S = 1.0


def cores() -> int:
    return len(os.sched_getaffinity(0))


def start_session(work: str, trace: bool):
    """``local[<cores>]`` session with Spark scratch inside ``work``; the
    traced run also writes Spark's event log there."""
    confs = {
        "spark.driver.memory": DRIVER_MEMORY,
        "spark.local.dir": f"{work}/spark-local",
        "spark.driver.extraJavaOptions": f"-Xms{DRIVER_MEMORY} -Djava.io.tmpdir={work}/tmp",
        "spark.sql.warehouse.dir": f"{work}/warehouse",
        "spark.ui.showConsoleProgress": "false",
    }
    if trace:
        os.makedirs(f"{work}/eventlog", exist_ok=True)
        confs.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": f"file://{work}/eventlog",
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    spark = get_spark(app_name="perfbench", master=f"local[{cores()}]", extra_confs=confs)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark) -> None:
    """Stop Spark, then end its JVM and wait for it to exit."""
    gateway = spark.sparkContext._gateway
    spark.stop()
    gateway.shutdown()
    gateway.proc.stdin.close()  # the gateway server exits at end of input
    try:
        gateway.proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        gateway.proc.kill()
        gateway.proc.wait()


def jvm_pid(spark) -> int:
    return int(spark._jvm.java.lang.ProcessHandle.current().pid())


def vm_hwm_mb(pid: int) -> float:
    """Peak resident set of a process (``VmHWM``), in MiB."""
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for pid {pid}")


def jvm_gc_s(spark) -> float:
    """Total collection time of every JVM garbage collector, in seconds."""
    beans = spark._jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
    return sum(max(0, b.getCollectionTime()) for b in beans) / 1000.0


class Fingerprint:
    """Contention fingerprint of one timed block (steal %, loadavg, JVM
    CPU/wall), from the legacy bench's own helpers."""

    def __init__(self, spark):
        self.spark = spark
        self.begin = _fingerprint_begin(spark)

    def end(self) -> dict:
        return _fingerprint_end(self.spark, self.begin)


@dataclass
class Span:
    name: str
    start: float
    end: float = 0.0
    parent: int | None = None
    attrs: dict = field(default_factory=dict)

    @property
    def dur(self) -> float:
        return self.end - self.start


class Tracer:
    """Spans kept in memory: name, start, end and parent. When enabled,
    each span also tags the Spark jobs it starts with
    ``<workload>:<span path>`` so the event log attributes them."""

    def __init__(self, spark, workload: str, enabled: bool):
        self.spark = spark
        self.workload = workload
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[int] = []
        self._patched: list[tuple[object, str, object]] = []

    def _tag(self) -> None:
        path = "/".join(self.spans[i].name for i in self._stack)
        self.spark.sparkContext.setJobDescription(f"{self.workload}:{path}" if path else None)

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        sp = Span(name, time.perf_counter(), parent=self._stack[-1] if self._stack else None, attrs=attrs)
        self.spans.append(sp)
        self._stack.append(len(self.spans) - 1)
        self._tag()
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            self._stack.pop()
            self._tag()

    def wrap(self, module, attr: str, name: str, count=None) -> None:
        """Replace ``module.attr`` with a spanned wrapper until ``unwrap``;
        ``count(result)``, when given, is kept on the span as ``n``."""
        fn = getattr(module, attr)

        def spanned(*args, **kwargs):
            with self.span(name) as sp:
                result = fn(*args, **kwargs)
                if count is not None:
                    sp.attrs["n"] = count(result)
                return result

        self._patched.append((module, attr, fn))
        setattr(module, attr, spanned)

    def unwrap(self) -> None:
        for module, attr, fn in reversed(self._patched):
            setattr(module, attr, fn)
        self._patched.clear()

    def roots(self, name: str) -> list[int]:
        return [i for i, s in enumerate(self.spans) if s.parent is None and s.name == name]

    def under(self, root: int, name: str) -> list[int]:
        """Descendants of ``root`` called ``name``."""
        out = []
        for i in range(root + 1, len(self.spans)):
            p = self.spans[i].parent
            while p is not None and p != root:
                p = self.spans[p].parent
            if p == root and self.spans[i].name == name:
                out.append(i)
        return out

    def children(self, idx: int) -> list[int]:
        return [i for i, s in enumerate(self.spans) if s.parent == idx]

    def self_s(self, idx: int) -> float:
        """A span's duration minus the time its child spans cover."""
        return self.spans[idx].dur - sum(self.spans[c].dur for c in self.children(idx))

    def dump(self) -> list[dict]:
        return [
            {"name": s.name, "start": round(s.start, 6), "end": round(s.end, 6),
             "parent": s.parent, **s.attrs}
            for s in self.spans
        ]


@dataclass
class Outcome:
    """What one workload run measured. ``values`` holds per-layer numbers
    known before the session stops; the event log is read after."""

    setup_s: float
    work_s: float
    op_s: list[float]
    attempted: int
    failed: int
    fingerprint: dict
    detail: dict
    tracer: Tracer | None = None
    values: dict = field(default_factory=dict)


@dataclass
class JobStats:
    jobs: int = 0
    tasks: int = 0
    task_s: float = 0.0
    gc_s: float = 0.0
    shuffle_bytes: int = 0


def read_event_log(work: str) -> dict[str, JobStats]:
    """Per job description: job count, task count, executor run time,
    task GC time and shuffle bytes (read + written), from the Spark event
    log of the finished session under ``work``."""
    logs = [p for p in glob.glob(f"{work}/eventlog/*") if not p.endswith(".inprogress")]
    if len(logs) != 1:
        raise RuntimeError(f"expected one finished event log, found {logs}")
    stage_desc: dict[int, str] = {}
    out: dict[str, JobStats] = {}
    with open(logs[0]) as fh:
        for line in fh:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                desc = (ev.get("Properties") or {}).get("spark.job.description") or ""
                out.setdefault(desc, JobStats()).jobs += 1
                for sid in ev.get("Stage IDs", []):
                    stage_desc.setdefault(sid, desc)
            elif kind == "SparkListenerTaskEnd":
                m = ev.get("Task Metrics") or {}
                st = out.setdefault(stage_desc.get(ev["Stage ID"], ""), JobStats())
                st.tasks += 1
                st.task_s += m.get("Executor Run Time", 0) / 1000.0
                st.gc_s += m.get("JVM GC Time", 0) / 1000.0
                rd = m.get("Shuffle Read Metrics") or {}
                wr = m.get("Shuffle Write Metrics") or {}
                st.shuffle_bytes += (
                    rd.get("Remote Bytes Read", 0) + rd.get("Local Bytes Read", 0)
                    + wr.get("Shuffle Bytes Written", 0)
                )
    return out


def _betacf(a: float, b: float, x: float) -> float:
    """Continued fraction of the incomplete beta function (modified Lentz)."""
    tiny = 1e-300
    c, d = 1.0, 1 - (a + b) * x / (a + 1)
    d = 1 / (d if abs(d) > tiny else tiny)
    h = d
    for m in range(1, 300):
        m2 = 2 * m
        for aa in (m * (b - m) * x / ((a + m2 - 1) * (a + m2)),
                   -(a + m) * (a + b + m) * x / ((a + m2) * (a + m2 + 1))):
            d = 1 + aa * d
            d = 1 / (d if abs(d) > tiny else tiny)
            c = 1 + aa / c
            c = c if abs(c) > tiny else tiny
            h *= d * c
        if abs(d * c - 1) < 3e-14:
            break
    return h


def betainc(a: float, b: float, x: float) -> float:
    """Regularized incomplete beta function I_x(a, b)."""
    if x <= 0:
        return 0.0
    if x >= 1:
        return 1.0
    front = math.exp(
        math.lgamma(a + b) - math.lgamma(a) - math.lgamma(b)
        + a * math.log(x) + b * math.log1p(-x)
    )
    if x < (a + 1) / (a + b + 2):
        return front * _betacf(a, b, x) / a
    return 1 - front * _betacf(b, a, 1 - x) / b


def quantile(values: list[float], q: float) -> float:
    """Harrell-Davis quantile estimate: a Beta-weighted average of every
    order statistic. At the 4-16 samples a run has, it varies about half
    as much from run to run as a single interpolated order statistic."""
    v = sorted(values)
    n = len(v)
    a, b = (n + 1) * q, (n + 1) * (1 - q)
    cdf = [betainc(a, b, i / n) for i in range(n + 1)]
    return sum((cdf[i + 1] - cdf[i]) * v[i] for i in range(n))


def latency_metrics(op_s: list[float]) -> dict[str, float]:
    return {"op_s.p50": quantile(op_s, 0.5), "op_s.p90": quantile(op_s, 0.9)}


def dir_files(*roots: str) -> dict[str, tuple[int, int, int]]:
    """Every regular file under ``roots``: path -> (size, mtime_ns, inode)."""
    out = {}
    for root in roots:
        for base, _dirs, files in os.walk(root):
            for f in files:
                p = os.path.join(base, f)
                st = os.stat(p)
                out[p] = (st.st_size, st.st_mtime_ns, st.st_ino)
    return out


def bytes_written(before: dict, after: dict) -> int:
    """Bytes of files created or rewritten between two ``dir_files`` scans."""
    return sum(v[0] for p, v in after.items() if before.get(p) != v)


def dir_bytes(*roots: str) -> int:
    return sum(v[0] for v in dir_files(*roots).values())
