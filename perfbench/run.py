"""Run one benchmark workload and print its result.

    python3 perfbench/run.py --workload kmeans_fit --seed 1 --seconds 20 --trace 0

Run from the repository root. The run generates its inputs from the
seed, starts Spark on `local[<cpus>]`, sets up `SETUP_REPEATS` times,
runs the workload's untimed warm-up ops, then timed ops until
`--seconds` have passed, checking every op's output. The last stdout
line is one JSON object: `correct`, `attempted`, `failed` and
`metrics` (the end-to-end metrics with `--trace 0`, the per-layer ones
with `--trace 1`). The line before it holds every named result with
its unit and sample count, plus diagnostics. See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import gc
import importlib.util
import json
import os
import shutil
import sys
import tempfile
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK_ROOT = os.path.join(ROOT, ".perfbench_work")


def log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


class Session:
    """Starts and stops `get_spark` sessions in one JVM and keeps the
    conf guard and the session start times."""

    def __init__(self, tracer, cpus: int):
        self.tr = tracer
        self.cpus = cpus
        self.spark = None
        self.guard = None
        self.start_s: list[float] = []

    def start(self):
        from apachebeamkmeans_spark import get_spark

        t0 = time.perf_counter()
        self.spark = get_spark(app_name="perfbench", cpus=self.cpus)
        self.start_s.append(time.perf_counter() - t0)
        self.spark.sparkContext.setLogLevel("ERROR")
        self.tr.bind(self.spark)
        if self.guard is None:
            from perfbench.spans import ConfGuard

            self.guard = ConfGuard(self.spark)
        return self.spark

    def stop(self) -> None:
        self.spark.stop()
        self.spark = None

    def phase(self, name: str) -> dict:
        diff = self.guard.check(self.spark, name)
        if diff:
            log(f"conf differs from get_spark's after {name}: {diff}")
        return diff

    def quiesce(self) -> None:
        gc.collect()
        if self.spark is not None:
            self.spark._jvm.System.gc()


def _descendants(pid: int) -> list[int]:
    out, todo = [], [pid]
    while todo:
        p = todo.pop()
        try:
            tasks = os.listdir(f"/proc/{p}/task")
        except OSError:
            continue
        for t in tasks:
            try:
                with open(f"/proc/{p}/task/{t}/children") as f:
                    kids = [int(c) for c in f.read().split()]
            except OSError:
                continue
            out += kids
            todo += kids
    return out


def shutdown_jvm() -> None:
    """Stop the gateway JVM and wait for it and the Python workers it
    started to end."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    if gw is None:
        return
    proc = gw.proc
    kids = _descendants(proc.pid)
    gw.shutdown()
    proc.stdin.close()  # the gateway server exits when its stdin closes
    try:
        proc.wait(timeout=60)
    except Exception:
        proc.kill()
        proc.wait()
    deadline = time.time() + 30
    for pid in kids:
        while time.time() < deadline:
            try:
                os.kill(pid, 0)
            except OSError:
                break
            time.sleep(0.1)


def cpu_ticks() -> tuple[int, int]:
    """(steal, total) jiffies of the machine's CPUs so far, or (0, 0)
    where /proc/stat is unreadable. Steal is time a virtual CPU was
    ready to run but the hypervisor ran another guest."""
    try:
        with open("/proc/stat") as f:
            ticks = [int(x) for x in f.readline().split()[1:]]
    except (OSError, ValueError):
        return 0, 0
    return (ticks[7] if len(ticks) > 7 else 0), sum(ticks[:8])


def prepare_env() -> str:
    """Point every file Spark, the JVM and Python write at a fresh
    directory inside the checkout; return it."""
    work = os.path.join(WORK_ROOT, f"run-{os.getpid()}")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ.setdefault("SPARK_DRIVER_MEM", "2g")
    os.chdir(work)
    return work


def cleanup(work: str) -> None:
    try:
        shutdown_jvm()
    finally:
        os.chdir(ROOT)
        shutil.rmtree(work, ignore_errors=True)


def drive(w, session, tracer, seconds: float) -> dict:
    marks = {}  # phase -> seconds since the run started (diagnostic)
    t_run = time.perf_counter()
    w.generate()
    gen_s = time.perf_counter() - t_run
    log(f"inputs generated in {gen_s:.2f}s")

    t0 = time.perf_counter()
    session.start()  # launches the JVM; not part of setup_s
    session.stop()
    jvm_s = time.perf_counter() - t0

    setup_s, first_span = [], 0
    for r in range(w.SETUP_REPEATS):
        if r:
            w.release()
        session.quiesce()
        t0 = time.perf_counter()
        w.setup(r)
        setup_s.append(time.perf_counter() - t0)
        session.phase(f"setup{r}")
    marks["setup_done"] = time.perf_counter() - t_run
    results, failures, overhead = [], [], []
    attempted = 0

    def attempt(i: int, phase: str):
        nonlocal attempted
        attempted += 1
        session.quiesce()
        ov0, ticks0 = tracer.overhead_s, cpu_ticks()
        try:
            res = w.op(i)
            steal, total = (b - a for a, b in zip(ticks0, cpu_ticks()))
            res["steal"] = steal / total if total else 0.0
            return res
        except Exception as e:  # an op that raises counts as failed
            failures.append(f"{phase}: {type(e).__name__}: {e}")
            log(traceback.format_exc())
        finally:
            overhead.append(tracer.overhead_s - ov0)
            session.phase(phase)

    try:
        # the JIT and Spark's plan caches keep speeding ops up for a
        # while; warming up for a fixed time lets the timed ops start
        # near the flat part of that curve on a slow host too
        i, t_warm = 0, time.perf_counter()
        while i < w.WARMUP_OPS or time.perf_counter() - t_warm < w.WARMUP_S:
            attempt(i, f"warmup{i}")
            i += 1
        first_span, n_warm = len(tracer.spans), len(failures)
        marks["warmup_done"] = time.perf_counter() - t_run
        overhead.clear()
        w.first_timed, t_start = i, time.perf_counter()
        while (len(results) + len(failures) - n_warm < w.MIN_OPS
               or time.perf_counter() - t_start < seconds):
            res = attempt(i, f"op{i}")
            if res is not None:
                results.append(res)
            i += 1
        marks["timed_done"] = time.perf_counter() - t_run
        persisted = int(session.spark.sparkContext._jsc.getPersistentRDDs().size())
    finally:
        w.release()
    marks["released"] = time.perf_counter() - t_run
    return {
        "gen_s": gen_s, "jvm_start_s": jvm_s, "setup_s": setup_s,
        "results": results, "failures": failures, "overhead": overhead,
        "attempted": attempted,
        "first_span": first_span, "persisted": persisted, "marks": marks,
    }


def e2e_metrics(out: dict) -> dict:
    from perfbench.workloads import median

    res = out["results"]
    lat = [r["latency_s"] for r in res]
    rows = sum(r["rows"] for r in res)
    rows_s = sum(r["rows_s"] for r in res)
    return {
        "setup_s": (median(out["setup_s"]), "s"),
        "latency_p50_ms": (1e3 * median(lat), "ms"),
        "rows_per_s": (rows / rows_s if rows_s else 0.0, "1/s"),
    }


def layer_metrics(w, session, tracer, out: dict) -> dict:
    from perfbench.spans import COUNTERS
    from perfbench.workloads import STAGES, median

    spans = tracer.spans
    setup = spans[: out["first_span"]]
    timed = spans[out["first_span"]:]

    def walls(name, pool):
        return [s.wall_s for s in pool if s.name == name]

    def cnt(name, pool, key="jobs"):
        return [s.counters[key] for s in pool if s.name == name]

    ops = [s for s in timed if s.name == "op"]
    m = {
        "session.start_s": (median(session.start_s[1:]), "s"),
        "session.conf_leaks": (session.guard.leaks, "count"),
        "io.points_load_s": (median(walls("sources.io", setup)), "s"),
        "kmeans.init_s": (median(walls("kmeans.init", timed)), "s"),
        "kmeans.init_jobs": (median(cnt("kmeans.init", timed)), "count"),
        "kmeans.lloyd_s": (median(walls("kmeans.lloyd", timed)), "s"),
        "kmeans.lloyd_iters": (median(w.report.get("lloyd_iters", [])), "count"),
        "kmeans.lloyd_jobs": (median(cnt("kmeans.lloyd", timed)), "count"),
        "kmeans.fit_self_s": (median([s.self_s for s in timed if s.name == "kmeans.fit"]), "s"),
        "kmeans.score_s": (median(walls("kmeans.model", timed)), "s"),
        "kmeans.score_jobs": (median(cnt("kmeans.model", timed)), "count"),
        "ann.train_s": (median(walls("ann.train", setup)), "s"),
        "ann.train_jobs": (median(cnt("ann.train", setup)), "count"),
        "ann.load_s": (median(walls("ann.load", setup)), "s"),
        "ann.search_jobs": (median(cnt("ann.serve", timed)), "count"),
        "ann.search_stages": (median(cnt("ann.serve", timed, "stages")), "count"),
        "ann.search_driver_s": (median(cnt("ann.serve", timed, "driver_residual_s")), "s"),
        "ann.search_executor_run_s": (median(cnt("ann.serve", timed, "executor_run_s")), "s"),
        "curate.build_s": (median(walls("pipeline.build", timed)), "s"),
        "curate.jobs": (median([s.counters["jobs"] for s in ops]) if w.name == "curation" else 0, "count"),
        "op.self_s": (median([s.self_s for s in ops]), "s"),
        "trace.overhead_s": (median(out["overhead"]), "s"),
        "spark.persisted_rdds": (out["persisted"], "count"),
    }
    m["kmeans.lloyd_s_per_iter"] = (
        m["kmeans.lloyd_s"][0] / m["kmeans.lloyd_iters"][0] if m["kmeans.lloyd_iters"][0] else 0.0, "s")
    # each stage's cost is the difference between consecutive pipeline
    # prefixes; pack+write is the full pass minus the longest prefix
    prefix = [walls(f"pipeline.prefix{n}", timed) for n in range(1, len(STAGES) + 1)]
    prefix.append(walls("pipeline.prefix_all", timed))
    for k, stage in enumerate(STAGES + ("pack_write",)):
        d = [b - a for a, b in zip([0.0] * len(prefix[k]) if k == 0 else prefix[k - 1], prefix[k])]
        m[f"curate.{stage}_s"] = (median(d), "s")
    units = {"s": "s", "mb": "MB"}
    for key in COUNTERS:
        unit = units.get(key.rsplit("_", 1)[-1], "count")
        m[f"spark.{key}"] = (median([s.counters[key] for s in ops]), unit)
    return m


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    # the script's own directory would shadow stdlib modules; the
    # checkout root makes both `perfbench` and the engine importable
    sys.path[0] = ROOT
    spec = importlib.util.find_spec("apachebeamkmeans_spark")
    if spec is None or not (spec.origin or "").startswith(ROOT + os.sep):
        log(f"the engine package apachebeamkmeans_spark is not under {ROOT}")
        return 2
    from perfbench.workloads import WORKLOADS, Record, median

    if args.workload not in WORKLOADS:
        log(f"unknown workload {args.workload!r}; choose from {sorted(WORKLOADS)}")
        return 2

    work = prepare_env()

    from perfbench.spans import Tracer

    cpus = len(os.sched_getaffinity(0))
    tracer = Tracer(bool(args.trace))
    session = Session(tracer, cpus)
    record = Record(os.path.join(WORK_ROOT, "record.json"))
    w = WORKLOADS[args.workload](args.seed, work, session, tracer, record)
    try:
        if args.trace:
            from perfbench.selftest import pool_job_attributed

            session.start()
            selftest_ok = pool_job_attributed(session.spark, tracer)
            session.stop()
        out = drive(w, session, tracer, args.seconds)
        metrics = (layer_metrics(w, session, tracer, out) if args.trace
                   else e2e_metrics(out))
        record.save()
    finally:
        cleanup(work)

    attempted, failed = out["attempted"], len(out["failures"])
    correct = failed == 0 and getattr(w, "serve_fresh", True)
    if args.trace:
        correct = correct and selftest_ok
    detail = {
        "workload": w.name, "seed": args.seed, "trace": args.trace, "cpus": cpus,
        "named": w.named(out["results"]),
        "ops": [{k: round(v, 4) for k, v in r.items()} for r in out["results"]],
        "setup_s": out["setup_s"], "gen_s": out["gen_s"], "jvm_start_s": out["jvm_start_s"],
        "phase_marks_s": out["marks"],
        "median_op_steal": round(median([r["steal"] for r in out["results"]]), 4),
        "conf_leaked_phases": session.guard.leaked_phases(),
        "failures": out["failures"],
    }
    print(json.dumps(detail))
    print(json.dumps({
        "correct": bool(correct), "attempted": attempted, "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in sorted(metrics.items())},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
