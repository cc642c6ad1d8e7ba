"""Measurement helpers: spans, percentiles, checkpoint joins and the
public Spark hooks the traced run reads.

Everything here observes the program from outside: the status store,
``QueryExecution.tracker()`` (through a ``QueryExecutionListener``), a
``StreamingQueryListener``, timed wrapper sinks and the stream
checkpoint logs. Nothing patches program code.
"""

from __future__ import annotations

import json
import math
import os
import time
from dataclasses import dataclass, field
from pathlib import Path

# --- spans -------------------------------------------------------------------


@dataclass
class Span:
    id: int
    name: str
    start: float
    end: float
    parent: int | None


@dataclass
class Spans:
    """In-memory span log; written out once, when the run ends."""

    spans: list[Span] = field(default_factory=list)

    def add(self, name: str, start: float, end: float, parent: int | None = None) -> int:
        self.spans.append(Span(len(self.spans), name, start, end, parent))
        return len(self.spans) - 1

    def self_times(self) -> dict[str, float]:
        """Seconds per span name: each span's duration minus the part of
        its interval that its children cover (children clipped to the
        parent, overlaps between children counted once)."""
        children: dict[int, list[Span]] = {}
        for s in self.spans:
            if s.parent is not None:
                children.setdefault(s.parent, []).append(s)
        out: dict[str, float] = {}
        for s in self.spans:
            covered = _union_length(
                [(max(c.start, s.start), min(c.end, s.end)) for c in children.get(s.id, [])]
            )
            out[s.name] = out.get(s.name, 0.0) + (s.end - s.start) - covered
        return out

    def to_json(self) -> list[dict]:
        return [s.__dict__ for s in self.spans]


def _union_length(intervals: list[tuple[float, float]]) -> float:
    total, cur_start, cur_end = 0.0, None, None
    for a, b in sorted(i for i in intervals if i[1] > i[0]):
        if cur_end is None or a > cur_end:
            if cur_end is not None:
                total += cur_end - cur_start
            cur_start, cur_end = a, b
        else:
            cur_end = max(cur_end, b)
    if cur_end is not None:
        total += cur_end - cur_start
    return total


# --- percentiles -------------------------------------------------------------

PERCENTILE_LADDER = (50.0, 90.0, 95.0, 99.0, 99.9)


def _rank(n: int, p: float) -> int:
    """1-based nearest rank of percentile ``p`` among ``n`` samples
    (the epsilon keeps 90 % of 100 at rank 90 despite float rounding)."""
    return max(1, math.ceil(p * n / 100.0 - 1e-9))


def percentile(values: list[float], p: float) -> float:
    """Nearest-rank percentile."""
    return sorted(values)[_rank(len(values), p) - 1]


def highest_supported_percentile(values: list[float], beyond: int = 10) -> tuple[float, float] | None:
    """The highest ladder percentile with at least ``beyond`` samples
    above it, as ``(p, value)``; None when even the median lacks them."""
    best = None
    for p in PERCENTILE_LADDER:
        if len(values) - _rank(len(values), p) >= beyond:
            best = (p, percentile(values, p))
    return best


# --- checkpoint logs ---------------------------------------------------------


def file_batches(checkpoint: Path) -> dict[str, int]:
    """Input file name -> micro-batch id, from the file source's log
    ``sources/0/<id>`` (and its ``<id>.compact`` roll-ups)."""
    out: dict[str, int] = {}
    for entry in (checkpoint / "sources" / "0").iterdir():
        if entry.name.startswith("."):
            continue
        for line in entry.read_text().splitlines()[1:]:  # line 0 is the version
            rec = json.loads(line)
            out[os.path.basename(rec["path"])] = int(rec["batchId"])
    return out


def commit_times(checkpoint: Path) -> dict[int, float]:
    """Micro-batch id -> wall time its ``commits/<id>`` entry was written."""
    return {
        int(p.name): p.stat().st_mtime
        for p in (checkpoint / "commits").iterdir()
        if p.name.isdigit()
    }


def file_latencies(checkpoint: Path, due: dict[str, float]) -> dict[str, float]:
    """Per input file: commit time of the batch that read it minus the
    time it was due. Files never committed are left out."""
    batch_of, committed = file_batches(checkpoint), commit_times(checkpoint)
    return {
        name: committed[batch_of[name]] - t
        for name, t in due.items()
        if name in batch_of and batch_of[name] in committed
    }


# --- CPU time ----------------------------------------------------------------


JIT_THREADS = ("C1 CompilerThre", "C2 CompilerThre")  # JVM thread names, cut at 15 chars


def _cpu_ticks(stat: str) -> tuple[int, int]:
    """(ppid, utime + stime + cutime + cstime) from a /proc stat line."""
    fields = stat[stat.rindex(")") + 2:].split()
    return int(fields[1]), sum(int(x) for x in fields[11:15])


def _read(path: str) -> str | None:
    try:
        with open(path) as f:
            return f.read()
    except OSError:  # the process or thread exited while listing
        return None


def tree_cpu_s() -> dict[str, float]:
    """CPU seconds (user + system) used so far by this process and all
    its live descendants (the Spark JVM and its Python workers), plus the
    children each has reaped: ``total``, and ``jit`` for the JVM's JIT
    compiler threads alone. Hypervisor steal is not CPU time, so these
    stretch far less than wall time on a busy host."""
    procs: dict[int, tuple[int, int]] = {}
    for entry in os.listdir("/proc"):
        stat = _read(f"/proc/{entry}/stat") if entry.isdigit() else None
        if stat is not None:
            procs[int(entry)] = _cpu_ticks(stat)
    tree, frontier = set(), [os.getpid()]
    while frontier:
        pid = frontier.pop()
        tree.add(pid)
        frontier.extend(c for c, (ppid, _) in procs.items() if ppid == pid and c not in tree)
    jit = 0
    for pid in tree:
        try:
            tids = os.listdir(f"/proc/{pid}/task")
        except OSError:
            continue
        for tid in tids:
            stat = _read(f"/proc/{pid}/task/{tid}/stat")
            if stat is not None and stat[stat.index("(") + 1:stat.rindex(")")] in JIT_THREADS:
                jit += _cpu_ticks(stat)[1]
    tick = os.sysconf("SC_CLK_TCK")
    return {"total": sum(procs[p][1] for p in tree if p in procs) / tick, "jit": jit / tick}


def cpu_delta(start: dict[str, float]) -> dict[str, float]:
    """CPU seconds since ``start`` (a ``tree_cpu_s`` reading). ``jit``
    misses compiler threads the JVM retires mid-window, so it is a lower
    bound on the JIT share of ``total``."""
    end = tree_cpu_s()
    return {k: end[k] - start[k] for k in end}


# --- Spark hooks -------------------------------------------------------------


class SparkCounters:
    """Job, stage and task totals from the status store for every job
    submitted after ``mark()``."""

    def __init__(self, spark):
        sc = spark.sparkContext
        self._sc = sc._jsc.sc()
        self._conv = sc._jvm.scala.jdk.javaapi.CollectionConverters

    def drain(self) -> None:
        """Block until the listener bus has delivered every event."""
        self._sc.listenerBus().waitUntilEmpty()

    def _jobs(self):
        return list(self._conv.asJava(self._sc.statusStore().jobsList(None)))

    def mark(self) -> int:
        self.drain()
        return max((j.jobId() for j in self._jobs()), default=-1)

    def since(self, mark: int) -> dict[str, float]:
        self.drain()
        store = self._sc.statusStore()
        jobs = [j for j in self._jobs() if j.jobId() > mark]
        totals = dict.fromkeys(
            ("jobs", "stages", "tasks", "task_run_s", "task_cpu_s", "gc_s", "input_records",
             "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes"),
            0.0,
        )
        totals["jobs"] = len(jobs)
        stage_ids = {int(s) for j in jobs for s in self._conv.asJava(j.stageIds())}
        for sid in stage_ids:
            sd = store.lastStageAttempt(sid)
            if sd.status().toString() in ("SKIPPED", "PENDING"):
                continue
            totals["stages"] += 1
            totals["tasks"] += sd.numCompleteTasks()
            totals["task_run_s"] += sd.executorRunTime() / 1e3
            totals["task_cpu_s"] += sd.executorCpuTime() / 1e9
            totals["gc_s"] += sd.jvmGcTime() / 1e3
            totals["input_records"] += sd.inputRecords()
            totals["shuffle_read_bytes"] += sd.shuffleReadBytes()
            totals["shuffle_write_bytes"] += sd.shuffleWriteBytes()
            totals["spill_bytes"] += sd.memoryBytesSpilled() + sd.diskBytesSpilled()
        return totals

    def storage_used_mb(self) -> float:
        infos = self._sc.getRDDStorageInfo()
        return sum(i.memSize() + i.diskSize() for i in infos) / 2**20


class CatalystListener:
    """``QueryExecutionListener`` summing ``QueryExecution.tracker()``
    phase times and executed-plan lines over every action."""

    PHASES = ("analysis", "optimization", "planning")

    def __init__(self, spark):
        from pyspark.java_gateway import ensure_callback_server_started

        ensure_callback_server_started(spark.sparkContext._gateway)
        self.phase_ms = dict.fromkeys(self.PHASES, 0.0)
        self.plan_lines = 0
        spark._jsparkSession.listenerManager().register(self)

    def onSuccess(self, func_name, qe, duration_ns):  # noqa: N802 (Java interface)
        phases = qe.tracker().phases()
        for name in self.PHASES:
            found = phases.get(name)
            if found.isDefined():
                self.phase_ms[name] += found.get().durationMs()
        self.plan_lines += qe.executedPlan().toString().count("\n") + 1

    def onFailure(self, func_name, qe, exception):  # noqa: N802 (Java interface)
        pass

    class Java:
        implements = ["org.apache.spark.sql.util.QueryExecutionListener"]


def spark_layer(totals: dict, catalyst: CatalystListener, counters: SparkCounters) -> dict:
    """Per-layer metrics both workloads read from the same Spark hooks."""
    return {
        "spark.jobs": totals["jobs"],
        "spark.stages": totals["stages"],
        "spark.tasks": totals["tasks"],
        "spark.task_run_s": totals["task_run_s"],
        "spark.task_cpu_s": totals["task_cpu_s"],
        "spark.gc_s": totals["gc_s"],
        "spark.plan_lines": catalyst.plan_lines,
        "catalyst.analysis_ms": catalyst.phase_ms["analysis"],
        "catalyst.optimization_ms": catalyst.phase_ms["optimization"],
        "catalyst.planning_ms": catalyst.phase_ms["planning"],
        "spark.input_rows": totals["input_records"],
        "spark.shuffle_read_bytes": totals["shuffle_read_bytes"],
        "spark.shuffle_write_bytes": totals["shuffle_write_bytes"],
        "spark.spill_bytes": totals["spill_bytes"],
        "spark.storage_used_mb_after": counters.storage_used_mb(),
    }


class TimedSink:
    """Wraps a sink and records the wall interval of every write."""

    def __init__(self, sink):
        self._sink = sink
        self.writes: list[tuple[float, float]] = []

    def write(self, batch) -> None:
        start = time.time()
        try:
            self._sink.write(batch)
        finally:
            self.writes.append((start, time.time()))


def uses_python_udf(df) -> bool:
    """True when the executed plan crosses the Python/Arrow boundary."""
    plan = df._jdf.queryExecution().executedPlan().toString()
    return any(tag in plan for tag in ("InPandas", "ArrowEvalPython", "BatchEvalPython"))


def host_block(spark, cpu_start: dict | None, root: Path) -> dict:
    """nproc, master and versions, plus steal/iowait from ``cpu_start``
    to now (``bench._host_signature``)."""
    import platform
    import subprocess

    import duckdb

    from bench import _host_signature

    sha = None
    if (root / ".git").exists():
        sha = subprocess.run(
            ["git", "-C", str(root), "rev-parse", "HEAD"], capture_output=True, text=True
        ).stdout.strip() or None
    return {
        "nproc": len(os.sched_getaffinity(0)),
        "master": spark.sparkContext.master,
        "spark": spark.version,
        "python": platform.python_version(),
        "duckdb": duckdb.__version__,
        "git_sha": sha,
        **_host_signature(cpu_start),
    }
