"""Spans, Spark scheduler/executor counters and the session-conf guard.

A span covers one public engine call made by the benchmark's single
client thread. Its Spark work is the window of job ids the scheduler
allocated between the span's start and end (`DAGScheduler.numTotalJobs`
read at both boundaries). Job groups are not used: they are
thread-local, so jobs that an engine call submits from its own pool
threads (`AnnIndex.train` overlaps its two trainers that way) would
escape a group set on the client thread, but they cannot escape the
id window.

At a span's end the tracer drains the listener bus (so the status
store has seen every job and stage end) and reads each job's stages
from the app status store. Records stay in memory; the caller
aggregates them after the run.
"""

from __future__ import annotations

import time
from dataclasses import dataclass, field

MB = 1024.0 * 1024.0

# Runtime SQL confs that `session.get_spark` sets. An engine call that
# leaves one of them changed alters every later query in the session.
GUARDED_CONFS = (
    "spark.sql.shuffle.partitions",
    "spark.sql.adaptive.enabled",
    "spark.sql.adaptive.coalescePartitions.enabled",
    "spark.sql.adaptive.skewJoin.enabled",
    "spark.sql.session.timeZone",
    "spark.sql.execution.arrow.pyspark.enabled",
)

COUNTERS = (
    "jobs", "stages", "tasks", "failed_tasks", "executor_run_s",
    "executor_cpu_s", "jvm_gc_s", "shuffle_read_mb", "shuffle_write_mb",
    "spill_mb", "input_mb", "output_mb", "driver_residual_s",
)


def conf_snapshot(spark) -> dict[str, str | None]:
    return {k: spark.conf.get(k, None) for k in GUARDED_CONFS}


class ConfGuard:
    """Compares the guarded confs after every phase with the values the
    first session started with. It only records differences; it never
    resets them, so a leak keeps showing in the phases after it."""

    def __init__(self, spark):
        self.baseline = conf_snapshot(spark)
        self.phases: list[tuple[str, dict]] = []

    def check(self, spark, phase: str) -> dict:
        now = conf_snapshot(spark)
        diff = {k: now[k] for k in GUARDED_CONFS if now[k] != self.baseline[k]}
        self.phases.append((phase, diff))
        return diff

    @property
    def leaks(self) -> int:
        return sum(1 for _, diff in self.phases if diff)

    def leaked_phases(self) -> dict[str, dict]:
        return {name: diff for name, diff in self.phases if diff}


@dataclass
class Span:
    name: str
    parent: "Span | None"
    t0: float
    job_lo: int
    t1: float = 0.0
    job_hi: int = 0
    counters: dict = field(default_factory=dict)
    children_s: float = 0.0

    @property
    def wall_s(self) -> float:
        return self.t1 - self.t0

    @property
    def self_s(self) -> float:
        return self.wall_s - self.children_s


class _NullSpan:
    def __enter__(self):
        return None

    def __exit__(self, *exc):
        return False


class Tracer:
    """Records spans when enabled; `span()` is a no-op context otherwise,
    so the untraced runs execute the same code path without reads."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[Span] = []
        self.overhead_s = 0.0  # time spent in boundary reads
        self._stack: list[Span] = []
        self._sc = None
        self._stage_cache: dict[int, dict] = {}

    def bind(self, spark) -> None:
        """Attach to the current SparkContext (again after a restart:
        job and stage ids start over in a new context)."""
        self._sc = spark.sparkContext
        self._stage_cache = {}

    def span(self, name: str):
        if not self.enabled:
            return _NullSpan()
        return _SpanCtx(self, name)

    # ---------------------------------------------------- boundary reads

    def _jsc(self):
        return self._sc._jsc.sc()

    def job_count(self) -> int:
        return int(self._jsc().dagScheduler().numTotalJobs())

    def drain(self) -> None:
        self._jsc().listenerBus().waitUntilEmpty()

    def _stage(self, store, sid: int) -> dict:
        got = self._stage_cache.get(sid)
        if got is not None:
            return got
        sd = store.lastStageAttempt(sid)
        sub, done = sd.submissionTime(), sd.completionTime()
        got = {
            "status": sd.status().toString(),
            "tasks": int(sd.numCompleteTasks()) + int(sd.numFailedTasks()),
            "failed_tasks": int(sd.numFailedTasks()),
            "executor_run_s": sd.executorRunTime() / 1e3,
            "executor_cpu_s": sd.executorCpuTime() / 1e9,
            "jvm_gc_s": sd.jvmGcTime() / 1e3,
            "shuffle_read_mb": sd.shuffleReadBytes() / MB,
            "shuffle_write_mb": sd.shuffleWriteBytes() / MB,
            "spill_mb": sd.diskBytesSpilled() / MB,
            "input_mb": sd.inputBytes() / MB,
            "output_mb": sd.outputBytes() / MB,
            "t0": sub.get().getTime() / 1e3 if sub.isDefined() else None,
            "t1": done.get().getTime() / 1e3 if done.isDefined() else None,
        }
        if got["status"] in ("COMPLETE", "SKIPPED", "FAILED"):
            self._stage_cache[sid] = got
        return got

    def read_window(self, job_lo: int, job_hi: int, t0: float, t1: float) -> dict:
        """Aggregate the counters of jobs [job_lo, job_hi). `t0`/`t1` are
        epoch seconds; the driver residual is the part of the wall time
        during which no stage of the window was running."""
        store = self._jsc().statusStore()
        out = dict.fromkeys(COUNTERS, 0.0)
        out["jobs"] = job_hi - job_lo
        stage_ids = set()
        for jid in range(job_lo, job_hi):
            it = store.job(jid).stageIds().iterator()
            while it.hasNext():
                stage_ids.add(int(it.next()))
        intervals = []
        for sid in sorted(stage_ids):
            st = self._stage(store, sid)
            # a stage that a job reuses from an earlier span ran before
            # this one started (status times have millisecond precision)
            if st["status"] == "SKIPPED" or (st["t0"] is not None and st["t0"] < t0 - 1e-3):
                continue
            out["stages"] += 1
            for k in ("tasks", "failed_tasks", "executor_run_s",
                      "executor_cpu_s", "jvm_gc_s", "shuffle_read_mb",
                      "shuffle_write_mb", "spill_mb", "input_mb",
                      "output_mb"):
                out[k] += st[k]
            if st["t0"] is not None and st["t1"] is not None:
                intervals.append((max(st["t0"], t0), min(st["t1"], t1)))
        busy, end = 0.0, t0
        for a, b in sorted(intervals):
            a = max(a, end)
            if b > a:
                busy += b - a
                end = b
        out["driver_residual_s"] = max(0.0, (t1 - t0) - busy)
        return out


class _SpanCtx:
    def __init__(self, tracer: Tracer, name: str):
        self.tr = tracer
        self.name = name

    def __enter__(self) -> Span:
        tr = self.tr
        h0 = time.perf_counter()
        parent = tr._stack[-1] if tr._stack else None
        job_lo = tr.job_count()
        sp = Span(self.name, parent, 0.0, job_lo)
        tr._stack.append(sp)
        spent = time.perf_counter() - h0
        tr.overhead_s += spent
        if parent is not None:
            parent.children_s += spent
        sp.t0 = time.time()
        return sp

    def __exit__(self, *exc):
        tr = self.tr
        sp = tr._stack.pop()
        sp.t1 = time.time()
        h0 = time.perf_counter()
        tr.drain()
        sp.job_hi = tr.job_count()
        sp.counters = tr.read_window(sp.job_lo, sp.job_hi, sp.t0, sp.t1)
        if sp.parent is not None:
            sp.parent.children_s += sp.wall_s
        tr.spans.append(sp)
        spent = time.perf_counter() - h0
        tr.overhead_s += spent
        # the parent's wall includes the child's boundary reads; they are
        # tracing cost, not the parent's own work
        if sp.parent is not None:
            sp.parent.children_s += spent
        return False
