"""Measurement plumbing shared by the workloads: spans, percentiles, output
fingerprints, the Spark session the benchmark drives, and the readers for
what Spark itself reports (status tracker, storage status, event log).

Nothing here changes the program under test; it only calls its public
functions and reads Spark's own accounting.
"""

from __future__ import annotations

import contextlib
import glob
import hashlib
import json
import math
import os
import platform
import statistics
import subprocess
import time
import urllib.parse
from dataclasses import dataclass, field

# ---------------------------------------------------------------------------
# spans


@dataclass
class Span:
    sid: int
    parent: int | None
    name: str
    start: float
    end: float | None = None

    @property
    def duration(self) -> float:
        return (self.end if self.end is not None else time.perf_counter()) - self.start


class Tracer:
    """Spans around the calls the benchmark makes into the program.

    Every span measures its own duration, so the workloads time their
    operations through it either way; only an enabled tracer keeps the
    spans (in memory, written out once by :meth:`write`)."""

    def __init__(self, enabled: bool) -> None:
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[int] = []

    @contextlib.contextmanager
    def span(self, name: str):
        parent = self._stack[-1] if self._stack else None
        rec = Span(len(self.spans), parent, name, time.perf_counter())
        if self.enabled:
            self.spans.append(rec)
            self._stack.append(rec.sid)
        try:
            yield rec
        finally:
            rec.end = time.perf_counter()
            if self.enabled:
                self._stack.pop()

    def write(self, path: str) -> None:
        with open(path, "w") as fh:
            for s in self.spans:
                fh.write(json.dumps({
                    "id": s.sid, "parent": s.parent, "name": s.name,
                    "start": s.start, "end": s.end,
                }) + "\n")


def union_length(intervals) -> float:
    """Total length covered by possibly overlapping (start, end) pairs."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_times(spans: list[Span]) -> dict[int, float]:
    """Each span's duration minus the part of it its children cover."""
    children: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s.parent is not None:
            children.setdefault(s.parent, []).append((s.start, s.end))
    out = {}
    for s in spans:
        inside = [
            (max(a, s.start), min(b, s.end))
            for a, b in children.get(s.sid, [])
            if min(b, s.end) > max(a, s.start)
        ]
        out[s.sid] = (s.end - s.start) - union_length(inside)
    return out


def span_table(spans: list[Span]) -> dict[str, dict]:
    """name -> {count, total_s, self_s}."""
    selfs = self_times(spans)
    table: dict[str, dict] = {}
    for s in spans:
        row = table.setdefault(s.name, {"count": 0, "total_s": 0.0, "self_s": 0.0})
        row["count"] += 1
        row["total_s"] += s.end - s.start
        row["self_s"] += selfs[s.sid]
    return table


# ---------------------------------------------------------------------------
# statistics

MIN_BEYOND = 10


def percentile(samples, p: float) -> float:
    """Nearest-rank percentile (``p`` in 0..100)."""
    xs = sorted(samples)
    if not xs:
        raise ValueError("percentile of no samples")
    rank = max(1, math.ceil(p / 100.0 * len(xs)))
    return xs[rank - 1]


def reportable(n: int, p: float) -> bool:
    """A percentile is reported only when at least ten samples lie beyond
    it: with nearest rank, ``n - ceil(p·n/100)`` samples rank above it."""
    return n - max(1, math.ceil(p / 100.0 * n)) >= MIN_BEYOND


def tail_percentile(samples, candidates=(99.0, 90.0, 75.0)):
    """The highest candidate percentile the sample supports, as
    ``(p, value)``, or ``None`` when even the lowest is unsupported."""
    for p in candidates:
        if reportable(len(samples), p):
            return p, percentile(samples, p)
    return None


def median(xs) -> float:
    return statistics.median(xs) if xs else 0.0


# ---------------------------------------------------------------------------
# output fingerprints


def fingerprint(df) -> tuple[int, int, int]:
    """Force ``df`` in one job: its row count plus an order-insensitive
    hash of every column (the sums of the low and high 32 bits of each
    row's xxhash64, which cannot overflow a long for < 2^31 rows)."""
    from pyspark.sql import functions as F

    h = F.xxhash64(*[F.col(c) for c in df.columns])
    row = df.select(
        F.count(F.lit(1)).alias("n"),
        F.coalesce(F.sum(h.bitwiseAND(F.lit(0xFFFFFFFF))), F.lit(0)).alias("lo"),
        F.coalesce(F.sum(F.shiftrightunsigned(h, 32)), F.lit(0)).alias("hi"),
    ).collect()[0]
    return int(row["n"]), int(row["lo"]), int(row["hi"])


def fingerprint_matches(got, expected) -> bool:
    """``got`` is a :func:`fingerprint` triple; ``expected`` the recorded
    ``{"rows": n, "hash": [lo, hi]}`` entry."""
    if expected is None:
        return False
    return (got[0], [got[1], got[2]]) == (expected["rows"], list(expected["hash"]))


# ---------------------------------------------------------------------------
# run environment


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def source_digest(root: str) -> str:
    h = hashlib.sha256()
    for path in sorted(glob.glob(os.path.join(root, "video_etl_spark", "**", "*.py"), recursive=True)):
        h.update(os.path.relpath(path, root).encode())
        with open(path, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()[:16]


def git_commit(root: str) -> str:
    if not os.path.isdir(os.path.join(root, ".git")):
        return "unknown"
    try:
        out = subprocess.run(
            ["git", "-C", root, "rev-parse", "HEAD"],
            capture_output=True, text=True, timeout=10, check=True,
        )
    except (OSError, subprocess.SubprocessError):
        return "unknown"
    return out.stdout.strip()


def run_env(root: str, spark_version: str) -> dict:
    return {
        "nproc": nproc(),
        "spark": spark_version,
        "python": platform.python_version(),
        "commit": git_commit(root),
        "source_digest": source_digest(root),
    }


class CoreCountMismatch(ValueError):
    pass


def compare_results(base: dict, new: dict) -> dict[str, float]:
    """Relative change of every metric both results carry.  Results taken
    at different core counts are never compared."""
    if base["env"]["nproc"] != new["env"]["nproc"]:
        raise CoreCountMismatch(
            f"results taken at {base['env']['nproc']} and "
            f"{new['env']['nproc']} cores are not comparable"
        )
    out = {}
    for name, m in new["metrics"].items():
        b = base["metrics"].get(name)
        if b is not None and b["value"]:
            out[name] = m["value"] / b["value"] - 1.0
    return out


# ---------------------------------------------------------------------------
# the Spark session


@dataclass
class SessionDirs:
    work: str

    def __post_init__(self) -> None:
        for d in (self.tmp, self.local, self.warehouse, self.eventlog):
            os.makedirs(d, exist_ok=True)

    @property
    def tmp(self) -> str:
        return os.path.join(self.work, "tmp")

    @property
    def local(self) -> str:
        return os.path.join(self.work, "spark-local")

    @property
    def warehouse(self) -> str:
        return os.path.join(self.work, "warehouse")

    @property
    def eventlog(self) -> str:
        return os.path.join(self.work, "eventlog")


def start_session(dirs: SessionDirs, trace: bool):
    """A fresh session through the package's own factory.  The extra
    settings only keep every file Spark writes inside the work directory
    and, for a traced run, turn the event log on."""
    from video_etl_spark.session import get_spark

    conf = {
        "spark.local.dir": dirs.local,
        "spark.sql.warehouse.dir": dirs.warehouse,
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={dirs.tmp} -XX:-UsePerfData",
        "spark.ui.showConsoleProgress": "false",
        "spark.eventLog.enabled": "true" if trace else "false",
        "spark.eventLog.dir": f"file://{dirs.eventlog}",
        "spark.eventLog.rolling.enabled": "false",
        "spark.eventLog.compress": "false",
    }
    spark = get_spark("perfbench", conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_jvm() -> None:
    """Stop the active context and the JVM gateway process, and wait for
    the JVM to exit."""
    from pyspark import SparkContext
    from pyspark.sql import SparkSession

    active = SparkSession.getActiveSession()
    if active is not None:
        active.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    with contextlib.suppress(Exception):
        gw.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        with contextlib.suppress(OSError):
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)


# ---------------------------------------------------------------------------
# what Spark reports


def pinned_rdds(spark) -> int:
    return int(spark.sparkContext._jsc.getPersistentRDDs().size())


def storage_mem_used_mib(spark) -> float:
    infos = spark.sparkContext._jsc.sc().statusTracker().getExecutorInfos()
    used = sum(
        int(i.usedOnHeapStorageMemory()) + int(i.usedOffHeapStorageMemory())
        for i in infos
    )
    return used / 2**20


def jobs_in_group(spark, group: str) -> int:
    return len(spark.sparkContext.statusTracker().getJobIdsForGroup(group))


_MIB = 2**20
_STAGE_SUMS = {
    "spark.executor_run_s": ("internal.metrics.executorRunTime", 1e-3),
    "spark.executor_cpu_s": ("internal.metrics.executorCpuTime", 1e-9),
    "spark.gc_s": ("internal.metrics.jvmGCTime", 1e-3),
    "spark.shuffle_write_mib": ("internal.metrics.shuffle.write.bytesWritten", 1 / _MIB),
    "spark.input_mib": ("internal.metrics.input.bytesRead", 1 / _MIB),
    "spark.output_mib": ("internal.metrics.output.bytesWritten", 1 / _MIB),
    "python.bytes_sent_mib": ("data sent to Python workers", 1 / _MIB),
    "python.bytes_returned_mib": ("data returned from Python workers", 1 / _MIB),
}


def _num(v) -> float:
    try:
        return float(v)
    except (TypeError, ValueError):
        return 0.0


def event_log_metrics(eventlog_dir: str, app_id: str, t0_ms: float, t1_ms: float) -> dict[str, float]:
    """Job, stage and task totals from the event log of ``app_id`` for the
    jobs submitted inside the wall-clock window [t0_ms, t1_ms].  Call after
    the session has stopped, so the log is complete."""
    paths = [p for p in glob.glob(os.path.join(eventlog_dir, "*")) if os.path.basename(p).startswith(app_id)]
    if not paths:
        raise FileNotFoundError(f"no event log for {app_id} under {eventlog_dir}")
    job_stages: dict[int, list[int]] = {}
    job_t: dict[int, list[float]] = {}
    stage_acc: dict[int, dict[str, float]] = {}
    stage_tasks: dict[int, int] = {}
    with open(paths[0]) as fh:
        for line in fh:
            if '"Event":"SparkListenerJob' not in line and '"Event":"SparkListenerStageCompleted"' not in line:
                continue
            ev = json.loads(line)
            kind = ev["Event"]
            if kind == "SparkListenerJobStart":
                if t0_ms <= ev["Submission Time"] <= t1_ms:
                    job_stages[ev["Job ID"]] = list(ev.get("Stage IDs", []))
                    job_t[ev["Job ID"]] = [ev["Submission Time"], ev["Submission Time"]]
            elif kind == "SparkListenerJobEnd":
                if ev["Job ID"] in job_t:
                    job_t[ev["Job ID"]][1] = ev["Completion Time"]
            else:
                si = ev["Stage Info"]
                stage_tasks[si["Stage ID"]] = int(si.get("Number of Tasks", 0))
                stage_acc[si["Stage ID"]] = {
                    a["Name"]: _num(a.get("Value")) for a in si.get("Accumulables", [])
                }
    stages = {s for ss in job_stages.values() for s in ss if s in stage_acc}
    busy = union_length([(a / 1e3, b / 1e3) for a, b in job_t.values()])
    out = {
        "spark.jobs": float(len(job_t)),
        "spark.stages": float(len(stages)),
        "spark.tasks": float(sum(stage_tasks[s] for s in stages)),
        "spark.job_wall_s": busy,
        "driver.only_s": max(0.0, (t1_ms - t0_ms) / 1e3 - busy),
    }

    def total(name: str) -> float:
        return sum(stage_acc[s].get(name, 0.0) for s in stages)

    out["spark.shuffle_read_mib"] = (
        total("internal.metrics.shuffle.read.localBytesRead")
        + total("internal.metrics.shuffle.read.remoteBytesRead")
    ) / _MIB
    out["spark.spill_mib"] = (
        total("internal.metrics.memoryBytesSpilled")
        + total("internal.metrics.diskBytesSpilled")
    ) / _MIB
    for metric, (acc, scale) in _STAGE_SUMS.items():
        out[metric] = total(acc) * scale
    return out


def dir_stats(path: str) -> tuple[int, int]:
    """(files, bytes) of the data files under ``path``, a local path or a
    ``file:`` URI (the form a catalog table's Location takes)."""
    if path.startswith("file:"):
        path = urllib.parse.urlparse(path).path
    n = size = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            if f.startswith((".", "_")):
                continue
            n += 1
            size += os.path.getsize(os.path.join(root, f))
    return n, size


@dataclass
class WorkloadResult:
    """What a workload hands back to the runner."""

    attempted: int
    failed: int
    e2e: dict[str, float]
    layers: dict[str, float] = field(default_factory=dict)
    notes: dict[str, str] = field(default_factory=dict)
    summary: dict[str, object] = field(default_factory=dict)
    detail: list = field(default_factory=list)
    window_ms: tuple[float, float] = (0.0, 0.0)
