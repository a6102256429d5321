"""Benchmark runner.

    python3 perfbench/run.py --workload zipf_join --seed 1 --seconds 5 --trace 0

Run from the repository root. One run sets up ``SETUP_REPS`` times:
each time it starts a Spark JVM and session at ``local[k]`` (k = usable
cores, at most 4) and builds the workload's inputs from ``--seed``. On
the last session it times passes over the workload's operations: a
first pass, then warm passes until ``--seconds`` have been measured
(and at least ``MIN_WARM`` warm passes ran). After the timed passes,
and outside every timed span, it verifies each operation's full output.

The last stdout line is one JSON object::

    {"correct": ..., "attempted": N, "failed": N, "metrics": {...}}

With ``--trace 0`` the metrics are the end-to-end ones of
BENCHMARK.json; with ``--trace 1`` they are the per-layer ones, read
from traced passes interleaved with untraced ones (see spans.py). The
line before it is ``{"detail": ...}``: the run record (master, cores,
shuffle partitions, driver memory, Spark and Java versions), every
pass time, the errors list and, when tracing, every span.

All scratch data (staged inputs, ``spark.warehouse.dir``,
``spark.local.dir``, temp files) lives under ``.perfbench/`` in the
working directory and is removed at exit.
"""

from __future__ import annotations

import argparse
import gc
import json
import os
import shutil
import statistics
import sys
import tempfile
import threading
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

SETUP_REPS = 3  # setup_s is the median of this many JVM + session starts and input builds
MIN_WARM = 2  # warm passes measured at least, even past --seconds
TRACE_AFTER = 3  # a traced run's untraced warm passes before the first traced one
TRACED_MIN_WARM = TRACE_AFTER + 4  # then two traced passes, each between untraced ones
MAX_CORES = 4
DRIVER_MEMORY = "2g"
WARMUP_TOL = 0.03  # a leading warm pass this much slower than the rest is warm-up
# End-to-end timings printed with every untraced run but kept out of the
# result line's metrics: their spread over ten seeds on a shared 4-vCPU
# host is too wide for a regression bound (WORKLOADS.md).
REPORTED = {"first_pass_s": "s", "wall_s": "s", "rows_per_s": "1/s"}

# -- process memory -----------------------------------------------------------

def _process_tree(root: int) -> list[int]:
    """``root`` and all of its live descendants (the Spark JVM and the
    Python workers the JVM forks)."""
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        children.setdefault(ppid, []).append(int(entry))
    tree, todo = [], [root]
    while todo:
        pid = todo.pop()
        tree.append(pid)
        todo.extend(children.get(pid, []))
    return tree


def _rss_bytes(pid: int) -> int:
    """Proportional resident size: shared pages split among their users,
    so a JVM child that has forked but not yet exec'd the Python worker
    does not count the JVM's heap twice."""
    try:
        with open(f"/proc/{pid}/smaps_rollup") as f:
            for line in f:
                if line.startswith("Pss:"):
                    return int(line.split()[1]) << 10
    except OSError:  # exited between listing and reading
        pass
    return 0


def _name(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/cmdline", "rb") as f:
            args = f.read().split(b"\0")
    except OSError:
        return "?"
    return " ".join(os.path.basename(a.decode(errors="replace")) for a in args[:3])[:80]


class RssSampler(threading.Thread):
    """Peak of the summed resident size of this process and its
    descendants, sampled every ``interval`` seconds, and what made up
    that peak."""

    def __init__(self, interval: float = 0.2):
        super().__init__(daemon=True)
        self.interval = interval
        self.peak = 0
        self.peak_parts: list[tuple[str, int]] = []
        self._done = threading.Event()

    def run(self) -> None:
        while not self._done.is_set():
            parts = [(pid, _rss_bytes(pid)) for pid in _process_tree(os.getpid())]
            total = sum(rss for _, rss in parts)
            if total > self.peak:
                self.peak = total
                self.peak_parts = [(_name(pid), rss >> 20) for pid, rss in parts]
            self._done.wait(self.interval)

    def stop(self) -> float:
        self._done.set()
        self.join()
        return self.peak / 2**20


# -- session -----------------------------------------------------------------

def usable_cores() -> int:
    return min(MAX_CORES, len(os.sched_getaffinity(0)))


def configure_environment(scratch: str, cores: int) -> None:
    """Everything the session and its Python workers inherit: the core
    count the package's session factory reads, the package on the
    workers' import path, and temp files under the scratch dir."""
    tmp = os.path.join(scratch, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    os.environ.pop("SPARK_GRAFT_MASTER", None)
    # Spark prefers this variable over spark.local.dir
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(scratch, "local")
    paths = [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join(paths)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp


def start_session(scratch: str):
    from mapreduce_join_comparison_spark.session import get_spark

    spark = get_spark(app_name="perfbench", extra_conf={
        "spark.ui.enabled": "true",
        "spark.ui.showConsoleProgress": "false",
        "spark.driver.memory": DRIVER_MEMORY,
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={os.path.join(scratch, 'tmp')}",
        "spark.sql.warehouse.dir": os.path.join(scratch, "warehouse"),
        "spark.local.dir": os.path.join(scratch, "local"),
    })
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_jvm(spark) -> None:
    """Stop the session, then the JVM behind it, and wait for both."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    gateway.shutdown()
    proc = gateway.proc
    proc.stdin.close()  # the gateway JVM exits on EOF from its driver
    proc.wait(timeout=120)
    SparkContext._gateway = None
    SparkContext._jvm = None
    deadline = time.monotonic() + 60
    while len(_process_tree(os.getpid())) > 1:  # Python workers exit after the JVM
        if time.monotonic() > deadline:
            raise RuntimeError(f"processes still running: {_process_tree(os.getpid())[1:]}")
        time.sleep(0.1)


def run_record(spark) -> dict:
    sc = spark.sparkContext
    return {
        "master": sc.master,
        "cores": sc.defaultParallelism,
        "shuffle_partitions": spark.conf.get("spark.sql.shuffle.partitions"),
        "driver_memory": sc.getConf().get("spark.driver.memory"),
        "spark_version": spark.version,
        "java_version": sc._jvm.System.getProperty("java.version"),
        "python_version": sys.version.split()[0],
    }


# -- passes ------------------------------------------------------------------

class Record:
    """What the passes of one run leave behind: operations attempted and
    failed with the errors behind the failures, each operation's
    untraced times, and the DataFrames of the latest pass (verified
    after the timed passes)."""

    def __init__(self):
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []
        self.op_times: dict[str, list[float]] = {}
        self.outputs: dict = {}

    def fail(self, what: str, e: BaseException | str) -> None:
        self.failed += 1
        msg = e if isinstance(e, str) else f"{type(e).__name__}: {e}"
        self.errors.append(f"{what}: {msg}"[:800])


def timed_pass(ops, rec: Record) -> tuple[float | None, dict[str, float]]:
    """One untraced pass: the pass time, or None when an operation raised
    (a failed operation never yields a time), and each operation's time."""
    ok = True
    times = {}
    t_pass = time.perf_counter()
    for op in ops:
        rec.attempted += 1
        rec.outputs.pop(op.name, None)
        t0 = time.perf_counter()
        try:
            df = op.construct()
            df.write.format("noop").mode("overwrite").save()
        except Exception as e:  # noqa: BLE001 -- any failure of the program is counted
            rec.fail(op.name, e)
            ok = False
            continue
        times[op.name] = time.perf_counter() - t0
        rec.op_times.setdefault(op.name, []).append(times[op.name])
        rec.outputs[op.name] = df
    return (time.perf_counter() - t_pass if ok else None), times


def traced_pass(tracer, ops, pass_id: str, rec: Record) -> tuple[float | None, dict]:
    """One traced pass: a span per operation with construct, Catalyst and
    execute children. Execution goes through the df's own QueryExecution
    (``toRdd``), so its tracker holds all three Catalyst phases; they are
    read after the pass, outside every span."""
    qes = {}
    ok = True
    with tracer.span("pass", pass_id) as p:
        for op in ops:
            rec.attempted += 1
            rec.outputs.pop(op.name, None)
            with tracer.span("op", pass_id, op=op.name):
                try:
                    with tracer.span("construct", pass_id, job_group=True):
                        df = op.construct()
                    with tracer.span("catalyst", pass_id, job_group=True), tracer.own():
                        qe = df._jdf.queryExecution()
                        qe.executedPlan()
                    with tracer.span("execute", pass_id, job_group=True), tracer.own():
                        qe.toRdd().count()
                    qes[op.name] = qe
                    rec.outputs[op.name] = df
                except Exception as e:  # noqa: BLE001
                    rec.fail(op.name, e)
                    ok = False
    phases = {name: tracer.catalyst_phases(qe) for name, qe in qes.items()}
    return (p.seconds if ok else None), phases


def between_passes(spark) -> None:
    """Collect garbage on both sides, outside every timed span, so one
    pass's leftovers (and the JVM's shuffle cleanup) don't bill the next."""
    gc.collect()
    spark._jvm.System.gc()


def steady(times: list[float]) -> tuple[list[float], int]:
    """Drop leading warm passes while they are still falling: a pass more
    than WARMUP_TOL slower than the median of the passes after it. Keeps
    at least two. Returns (kept, dropped)."""
    i = 0
    while len(times) - i > 2 and times[i] > (1 + WARMUP_TOL) * statistics.median(times[i + 1:]):
        i += 1
    return times[i:], i


# -- layer metrics -----------------------------------------------------------

def layer_metrics(tracer, pass_id: str, phases: dict, stages: dict) -> dict:
    """Per-layer numbers of one traced pass."""
    import spans as sp

    spans = [(i, s) for i, s in enumerate(tracer.spans) if s.pass_id == pass_id]
    by_name = {}
    for i, s in spans:
        by_name.setdefault(s.name, []).append((i, s))
    construct = [s for _, s in by_name.get("construct", [])]
    leaves = [s for _, s in spans if s.group]
    m = {
        "operators.construct_s": sum(s.seconds for s in construct),
        "operators.construct_jobs": sum(s.attrs["jobs"] for s in construct),
        "operators.construct_job_s": sum(s.attrs["job_seconds"] for s in construct),
        "py4j.calls": sum(s.py4j_calls for s in leaves),
        "scheduler.jobs": sum(s.attrs["jobs"] for s in leaves),
        "scheduler.stages": sum(s.attrs["stages"] for s in leaves),
        "scheduler.tasks": sum(s.attrs["tasks"] for s in leaves),
        "execution.execute_s": sum(s.seconds for _, s in by_name.get("execute", [])),
    }
    m["operators.construct_self_s"] = m["operators.construct_s"] - m["operators.construct_job_s"]
    for phase in sp.PHASES:
        m[f"catalyst.{phase}_s"] = sum(p[phase] for p in phases.values())
    rows = list(stages.values())
    for key in ("executor_run_s", "executor_cpu_s", "jvm_gc_s"):
        m[f"execution.{key}"] = sum(r[key] for r in rows)
    for key in ("shuffle_write_bytes", "shuffle_read_bytes", "spill_bytes", "input_bytes"):
        m[f"execution.{key}"] = sum(r[key] for r in rows)
    task_ms = [t for r in rows for t in r["task_ms"]]
    m["execution.task_ms_max"] = max(task_ms) if task_ms else 0
    m["execution.task_ms_median"] = statistics.median(task_ms) if task_ms else 0
    for i, op_span in by_name.get("op", []):
        name = op_span.attrs["op"]
        kids = {s.name: s for s in tracer.spans if s.parent == i}
        m[f"op.{name}.construct_s"] = kids["construct"].seconds
        m[f"op.{name}.execute_s"] = kids["execute"].seconds
        m[f"op.{name}.jobs"] = sum(s.attrs["jobs"] for s in kids.values())
        m[f"op.{name}.traced_s"] = sum(s.seconds for s in kids.values())
    return m


# -- one run -----------------------------------------------------------------

def run(name: str, seed: int, seconds: float, trace: bool, make=None) -> dict:
    """One benchmark run; returns ``correct``, ``attempted``, ``failed``,
    ``metrics`` and ``detail``. ``make(name, seed, data_dir)`` builds
    the workload (tests pass their own)."""
    import workloads

    make = make or workloads.make
    scratch = os.path.join(os.getcwd(), ".perfbench", f"{name}-{os.getpid()}")
    os.makedirs(scratch)
    configure_environment(scratch, usable_cores())
    rec = Record()
    detail: dict = {"workload": name, "seed": seed, "seconds": seconds, "trace": trace}
    rss = RssSampler()
    rss.start()
    spark = None
    try:
        setup = []
        for rep in range(SETUP_REPS):
            if spark is not None:
                stop_jvm(spark)
            t0 = time.perf_counter()
            spark = start_session(scratch)
            t1 = time.perf_counter()
            data_dir = os.path.join(scratch, f"inputs{rep}")
            os.makedirs(data_dir)
            wl = make(name, seed, data_dir)
            wl.build(spark)
            setup.append({"session_s": t1 - t0, "inputs_s": time.perf_counter() - t1})
            if rep:
                shutil.rmtree(os.path.join(scratch, f"inputs{rep - 1}"))
        detail["run"] = run_record(spark)
        detail["setup"] = setup
        ops = wl.ops(spark)
        measure = traced_run if trace else untraced_run
        metrics = measure(spark, wl, ops, seconds, rec, detail)
        detail["peak_rss_mb"] = rss.stop()
        detail["peak_rss_parts_mb"] = rss.peak_parts
        from bench import calibration_anchor

        detail["anchor_s"] = calibration_anchor(spark)
        verify_all(spark, wl, ops, rec, detail)
    finally:
        if rss.is_alive():
            rss.stop()
        if spark is not None:
            stop_jvm(spark)
        shutil.rmtree(scratch, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(scratch))
        except OSError:  # another run's scratch is still there
            pass
    detail["errors"] = rec.errors
    detail["failed_frac"] = rec.failed / rec.attempted
    correct = rec.failed == 0 and not rec.errors
    if trace:
        metrics["session.start_s"] = statistics.median(s["session_s"] for s in setup)
        metrics["generator.stage_s"] = (statistics.median(s["inputs_s"] for s in setup)
                                        if wl.staged_by_generator else 0.0)
        metrics["anchor_s"] = detail["anchor_s"]
    else:
        metrics["setup_s"] = statistics.median(s["session_s"] + s["inputs_s"] for s in setup)
        metrics["rows_per_s"] = wl.pass_rows / metrics["wall_s"] if metrics["wall_s"] else None
        metrics["peak_rss_mb"] = detail["peak_rss_mb"]
    if not correct:  # a failed run reports no numbers; detail keeps what was measured
        metrics = {k: None for k in metrics}
    return {"correct": correct, "attempted": rec.attempted, "failed": rec.failed,
            "metrics": metrics, "detail": detail}


def _measure(spark, wl, seconds: float, first, warm, min_warm: int, last=lambda i: True) -> None:
    """Run ``first()`` once, then ``warm(i)`` for i = 1, 2, ... until
    ``seconds`` have passed since the first pass started, at least
    ``min_warm`` warm passes ran, and ``last(i)`` holds for the final i."""
    from mapreduce_join_comparison_spark.session import scoped_conf

    t0 = time.perf_counter()
    with scoped_conf(spark, **wl.pass_conf()):
        first()
        between_passes(spark)
        i = 0
        while i < min_warm or time.perf_counter() - t0 < seconds or not last(i):
            i += 1
            warm(i)
            between_passes(spark)


def untraced_run(spark, wl, ops, seconds, rec: Record, detail) -> dict:
    passes: list[float | None] = []

    def one(_i=0):
        passes.append(timed_pass(ops, rec)[0])

    _measure(spark, wl, seconds, one, one, MIN_WARM)
    warm = [t for t in passes[1:] if t is not None]
    kept, dropped = steady(warm) if len(warm) >= 2 else (warm, 0)
    detail.update(pass_s=passes, warmup_dropped=dropped, op_s=rec.op_times)
    return {"first_pass_s": passes[0], "wall_s": statistics.median(kept) if kept else None}


def traced_run(spark, wl, ops, seconds, rec: Record, detail) -> dict:
    """After an untraced first pass and ``TRACE_AFTER`` untraced warm
    passes, traced (even i) and untraced (odd i) passes alternate, ending
    on an untraced one. Each traced pass is compared with the mean of its
    two untraced neighbours, which cancels what is left of the warm-up
    trend, for the tracing overhead and for the traced-versus-untraced
    operation times (``coverage``)."""
    import spans as sp

    tracer = sp.Tracer(spark)
    untraced: dict[int, tuple[float | None, dict]] = {}
    traced: dict[int, tuple[float | None, dict | None]] = {}

    def untraced_pass(i=0):
        untraced[i] = timed_pass(ops, rec)

    def warm(i):
        if i % 2 or i < TRACE_AFTER:
            return untraced_pass(i)
        pass_id = f"p{i}"
        tracer.install()
        try:
            t, phases = traced_pass(tracer, ops, pass_id, rec)
        finally:
            tracer.uninstall()
        try:
            m = layer_metrics(tracer, pass_id, phases, tracer.pass_jobs(pass_id))
            m["sources.load_table_calls"] = tracer.load_calls
            m["sources.load_table_s"] = tracer.load_seconds
        except sp.TraceReadError as e:
            rec.errors.append(f"trace {pass_id}: {e}")
            m = None
        tracer.load_calls, tracer.load_seconds = 0, 0.0
        traced[i] = (t, m)

    _measure(spark, wl, seconds, untraced_pass, warm, TRACED_MIN_WARM,
             last=lambda i: i % 2 == 1)
    good = [m for _, m in traced.values() if m is not None]
    out: dict = {}
    drift = {}
    for k in sorted({k for m in good for k in m}):
        values = [m[k] for m in good]
        out[k] = statistics.median(values)
        if (k.endswith((".calls", "jobs")) or k.startswith("scheduler.")) and len(set(values)) > 1:
            drift[k] = values
    overhead, ratios = [], {}
    for i, (t, m) in traced.items():
        (u0, ops0), (u1, ops1) = untraced[i - 1], untraced[i + 1]
        if t is not None and u0 is not None and u1 is not None:
            overhead.append(t - (u0 + u1) / 2)
        for op in ops:
            key = f"op.{op.name}.traced_s"
            if m is not None and key in m and op.name in ops0 and op.name in ops1:
                ratios.setdefault(op.name, []).append(
                    m[key] / ((ops0[op.name] + ops1[op.name]) / 2))
    out["trace.overhead_s"] = statistics.median(overhead) if overhead else None
    detail.update(
        pass_s=[untraced[i][0] for i in sorted(untraced)],
        traced_pass_s=[traced[i][0] for i in sorted(traced)], op_s=rec.op_times,
        # traced construct + Catalyst + execute time of each operation over
        # its untraced time; near 1 when the trace accounts for what users pay
        coverage={name: statistics.median(r) for name, r in ratios.items()},
        count_drift=drift, traced_metrics=[traced[i][1] for i in sorted(traced)],
        spans=[vars(s) for s in tracer.spans])
    return {k: v for k, v in out.items() if not (k.startswith("op.") and k.endswith("traced_s"))}


def verify_all(spark, wl, ops, rec: Record, detail) -> None:
    """Check the full output of every operation's latest timed DataFrame,
    outside every timed span. An operation whose latest pass raised has
    no output and counts as failed."""
    verified, seconds = {}, {}
    for op in ops:
        rec.attempted += 1
        t0 = time.perf_counter()
        if op.name not in rec.outputs:
            msg = "no output: the operation raised in its latest pass"
        else:
            try:
                msg = wl.verify(spark, op.name, rec.outputs[op.name])
            except Exception as e:  # noqa: BLE001
                msg = f"{type(e).__name__}: {e}"
        seconds[op.name] = time.perf_counter() - t0
        verified[op.name] = msg or "ok"
        if msg:
            rec.fail(f"verify {op.name}", msg)
    detail.update(verified=verified, verify_s=seconds)


# -- CLI ---------------------------------------------------------------------

def _benchmark() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    for need in ("mapreduce_join_comparison_spark", "bench.py", os.path.join("tools", "parity_check.py")):
        if not os.path.exists(os.path.join(ROOT, need)):
            print(f"perfbench: {need} not found under {ROOT}; run from the root of a "
                  "checkout of the repository", file=sys.stderr)
            return 2
    sys.path[:0] = [ROOT, os.path.join(ROOT, "tools")]
    import workloads

    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2
    res = run(args.workload, args.seed, args.seconds, bool(args.trace))
    metrics = res["metrics"]
    if args.trace:
        units = {m["name"]: m["unit"] for m in _benchmark()["per_layer"]}
        for n in units:
            if n.startswith("op.") and n not in metrics:
                metrics[n] = 0  # an operation of the other workload
    else:
        units = {m["name"]: m["unit"] for m in _benchmark()["end_to_end"]}
    for n, unit in units.items():
        print(f"{args.workload} {n} = {metrics.get(n)} {unit}")
    if not args.trace:
        for n, unit in REPORTED.items():
            print(f"{args.workload} {n} = {metrics[n]} {unit} (reported, no bound)")
    print(f"{args.workload} failed_frac = {res['detail']['failed_frac']} fraction")
    print(json.dumps({"detail": res["detail"]}, default=str))
    print(json.dumps({
        "correct": res["correct"], "attempted": res["attempted"], "failed": res["failed"],
        "metrics": {n: {"value": metrics.get(n), "unit": u} for n, u in units.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
