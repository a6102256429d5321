"""Spans and counters for the traced benchmark run.

The package under test is not edited: spans wrap the runner's calls
into each layer, and the two counters below wrap the Py4J gateway
client and ``sources.load_table`` at run time.

* A span has a name, a start, an end, a parent and the id of the pass
  it belongs to. Spans stay in memory until the run ends.
* Each construct, Catalyst and execute span sets its own Spark job
  group, so the app status store attributes jobs, stages, tasks,
  shuffle and spill bytes and task times to it. Jobs submitted from
  threads that do not inherit the group (the package writes some
  tables from a thread pool) are attributed by submission time to the
  span that was open then; operations run one at a time, so that span
  is unique.
* Py4J commands are counted at the gateway client, minus the
  memory-delete commands that Python's garbage collector sends at
  unpredictable times, and minus the tracer's own calls.
* ``sources.load_table`` is wrapped to count its calls and time.

Status-store reads go through Spark's REST API, which serves the same
app status store as the UI. A failed read raises ``TraceReadError``;
the caller records it in ``errors`` and leaves the metrics it would
have produced unset, never zero.
"""

from __future__ import annotations

import datetime
import json
import threading
import time
import urllib.request
from contextlib import contextmanager
from dataclasses import dataclass, field

MEMORY_DELETE = "m\nd\n"  # py4j protocol: MEMORY_COMMAND_NAME + MEMORY_DEL_SUBCOMMAND_NAME
PHASES = ("analysis", "optimization", "planning")


class TraceReadError(RuntimeError):
    """Reading Spark telemetry failed; the affected metrics are unknown."""


@dataclass
class Span:
    name: str
    pass_id: str
    parent: int | None
    start: float  # time.perf_counter()
    wall_start: float  # time.time(), matched against status-store times
    end: float = 0.0
    wall_end: float = 0.0
    group: str | None = None
    py4j_calls: int = 0
    attrs: dict = field(default_factory=dict)

    @property
    def seconds(self) -> float:
        return self.end - self.start


class Tracer:
    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.spans: list[Span] = []
        self.py4j_calls = 0
        self.load_calls = 0
        self.load_seconds = 0.0
        self._stack: list[int] = []
        self._lock = threading.Lock()
        self._own = threading.local()
        self._client = None
        self._load_table = None
        self.rest = f"{self.sc.uiWebUrl}/api/v1/applications/{self.sc.applicationId}"

    # -- instrumentation ---------------------------------------------------

    def install(self) -> None:
        from mapreduce_join_comparison_spark import sources

        client = self.sc._gateway._gateway_client
        send = client.send_command

        def counting_send(command, *args, **kwargs):
            if not command.startswith(MEMORY_DELETE) and not getattr(self._own, "on", False):
                with self._lock:
                    self.py4j_calls += 1
            return send(command, *args, **kwargs)

        client.send_command = counting_send
        self._client = client

        load_table = sources.load_table

        def timed_load(spark, sf_dir, name):
            t0 = time.perf_counter()
            try:
                return load_table(spark, sf_dir, name)
            finally:
                with self._lock:
                    self.load_calls += 1
                    self.load_seconds += time.perf_counter() - t0

        sources.load_table = timed_load
        self._load_table = load_table

    def uninstall(self) -> None:
        from mapreduce_join_comparison_spark import sources

        if self._client is not None:
            del self._client.send_command
            self._client = None
        if self._load_table is not None:
            sources.load_table = self._load_table
            self._load_table = None

    @contextmanager
    def own(self):
        """Py4J calls made inside this block are the tracer's, not the program's."""
        prev = getattr(self._own, "on", False)
        self._own.on = True
        try:
            yield
        finally:
            self._own.on = prev

    @contextmanager
    def span(self, name: str, pass_id: str, job_group: bool = False, **attrs):
        parent = self._stack[-1] if self._stack else None
        s = Span(name, pass_id, parent, 0.0, 0.0, attrs=attrs)
        if job_group:
            s.group = f"perfbench/{pass_id}/{len(self.spans)}/{name}"
            with self.own():
                self.sc.setJobGroup(s.group, s.group)
        self.spans.append(s)
        self._stack.append(len(self.spans) - 1)
        calls0 = self.py4j_calls
        s.start, s.wall_start = time.perf_counter(), time.time()
        try:
            yield s
        finally:
            s.end, s.wall_end = time.perf_counter(), time.time()
            s.py4j_calls = self.py4j_calls - calls0
            self._stack.pop()
            if job_group:
                with self.own():
                    self.sc.setLocalProperty("spark.jobGroup.id", None)

    def catalyst_phases(self, qe) -> dict[str, float]:
        """Analysis/optimization/planning seconds from a QueryExecution's
        own tracker; a missing phase raises instead of reading as 0."""
        with self.own():
            phases = qe.tracker().phases()
            out = {}
            for name in PHASES:
                opt = phases.get(name)
                if not opt.isDefined():
                    raise TraceReadError(f"QueryPlanningTracker has no {name!r} phase")
                out[name] = opt.get().durationMs() / 1000.0
        return out

    # -- status store ------------------------------------------------------

    def _get(self, path: str):
        try:
            with urllib.request.urlopen(self.rest + path, timeout=30) as r:
                return json.load(r)
        except (OSError, ValueError) as e:
            raise TraceReadError(f"status store read {path!r} failed: {e}") from e

    def pass_jobs(self, pass_id: str) -> dict[tuple[int, int], dict]:
        """Read the status store for one pass: each of its op-phase spans
        gets ``jobs``, ``job_seconds`` (union of job intervals inside the
        span), and the stage/task aggregates of the stages its jobs ran.
        Returns the per-stage rows keyed by (stage id, attempt id)."""
        with self.own():
            self.sc._jsc.sc().listenerBus().waitUntilEmpty()
        leaves = [i for i, s in enumerate(self.spans) if s.pass_id == pass_id and s.group]
        by_group = {self.spans[i].group: i for i in leaves}
        jobs = self._get("/jobs")
        owner: dict[int, int] = {}  # job id -> span index
        for job in jobs:
            i = by_group.get(job.get("jobGroup"))
            if i is None and not job.get("jobGroup"):
                t = _epoch(job["submissionTime"])
                i = next((j for j in leaves
                          if self.spans[j].wall_start <= t <= self.spans[j].wall_end), None)
            if i is not None:
                owner[job["jobId"]] = i
        for i in leaves:
            self.spans[i].attrs.update(jobs=0, job_seconds=0.0, stages=0, tasks=0)
        stage_owner: dict[int, int] = {}
        intervals: dict[int, list[tuple[float, float]]] = {i: [] for i in leaves}
        for job in sorted(jobs, key=lambda j: j["jobId"]):
            i = owner.get(job["jobId"])
            if i is None:
                continue
            span = self.spans[i]
            span.attrs["jobs"] += 1
            if "completionTime" not in job:
                raise TraceReadError(f"job {job['jobId']} has not completed")
            lo = max(_epoch(job["submissionTime"]), span.wall_start)
            hi = min(_epoch(job["completionTime"]), span.wall_end)
            if hi > lo:
                intervals[i].append((lo, hi))
            for sid in job["stageIds"]:
                stage_owner.setdefault(sid, i)
        for i, iv in intervals.items():
            self.spans[i].attrs["job_seconds"] = _union(iv)
        stages = {}
        for st in self._get("/stages"):
            i = stage_owner.get(st["stageId"])
            if i is None or st["status"] == "SKIPPED":
                continue
            if st["status"] != "COMPLETE":
                raise TraceReadError(f"stage {st['stageId']} is {st['status']}")
            tasks = self._get(f"/stages/{st['stageId']}/{st['attemptId']}/taskList"
                              f"?length={st['numTasks'] + 1}")
            row = {
                "span": i,
                "tasks": st["numTasks"],
                "executor_run_s": st["executorRunTime"] / 1e3,
                "executor_cpu_s": st["executorCpuTime"] / 1e9,
                "jvm_gc_s": st["jvmGcTime"] / 1e3,
                "shuffle_write_bytes": st["shuffleWriteBytes"],
                "shuffle_read_bytes": st["shuffleReadBytes"],
                "spill_bytes": st["memoryBytesSpilled"] + st["diskBytesSpilled"],
                "input_bytes": st["inputBytes"],
                "task_ms": [t["duration"] for t in tasks],
            }
            if len(row["task_ms"]) != row["tasks"]:
                raise TraceReadError(
                    f"stage {st['stageId']}: {len(row['task_ms'])} task records "
                    f"for {row['tasks']} tasks")
            stages[(st["stageId"], st["attemptId"])] = row
            self.spans[i].attrs["stages"] += 1
            self.spans[i].attrs["tasks"] += row["tasks"]
        return stages


def _epoch(ts: str) -> float:
    """Status-store timestamps look like ``2026-01-31T12:34:56.789GMT``."""
    dt = datetime.datetime.strptime(ts.replace("GMT", ""), "%Y-%m-%dT%H:%M:%S.%f")
    return dt.replace(tzinfo=datetime.timezone.utc).timestamp()


def _union(intervals: list[tuple[float, float]]) -> float:
    total, end = 0.0, float("-inf")
    for lo, hi in sorted(intervals):
        if hi > end:
            total += hi - max(lo, end)
            end = hi
    return total
