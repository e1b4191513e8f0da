"""Per-layer ledger for one traced run.

Everything here sits outside the engine: spans come from wrapping the
engine's public functions (and PySpark's parquet reader and writer) for the
duration of one call, py4j round trips from wrapping the gateway client's
`send_command`, and Spark job and task timings from the Spark event log,
which the traced session writes uncompressed to the run's work dir and which
is read after the session stops. Each wrapped call runs under its own job
group, so jobs in the event log map back to the layer that started them.
"""

from __future__ import annotations

import contextlib
import glob
import json
import os
import time
from collections import defaultdict
from dataclasses import dataclass, field

GROUP_PREFIX = "perfbench:"

# report sinks as pipeline.build names them -> ledger metric name
SINK_METRICS = {
    "main_ops": "aggregates.main_ops_s",
    "ttl_ops": "aggregates.ttl_ops_s",
    "op_stats": "aggregates.op_stats_s",
    "query_hash": "aggregates.query_hash_s",
    "plan_cache": "aggregates.plan_cache_s",
    "index_stats": "aggregates.index_stats_s",
    "error_codes": "aggregates.error_codes_s",
    "transactions": "aggregates.transactions_s",
    "slow_planning": "aggregates.slow_planning_s",
    "app_conn_stats": "aggregates.app_conn_stats_s",
    "ignored": "aggregates.ignored_s",
    "ignored_sample": "aggregates.ignored_sample_s",
    "driver_stats": "joins.driver_stats_s",
}

# public sink builders whose py4j round trips count as aggregates.py4j_calls
AGGREGATE_BUILDERS = {
    "aggregates": ("main_ops", "ttl_ops", "op_stats", "query_hash", "plan_cache",
                   "index_stats", "error_codes", "transactions", "slow_planning",
                   "app_conn_stats", "ignored_stats"),
    "route": ("ignored_sample",),
    "joins": ("driver_stats",),
}


class Py4jCounter:
    """Counts py4j commands sent while installed, and records the time
    windows of Hadoop output-stream commits (a `create` command through the
    next `close`), which is how the manifest writes its commit row."""

    def __init__(self, spark):
        self._client = spark.sparkContext._gateway._gateway_client
        self._orig = None
        self.calls = 0
        self.commits: list[tuple[float, float]] = []
        self._open_create: float | None = None

    def _send(self, command, *args, **kwargs):
        self.calls += 1
        method = command.split("\n", 3)[2] if command.startswith("c\n") else ""
        if method == "create":
            self._open_create = time.time()
        try:
            return self._orig(command, *args, **kwargs)
        finally:
            if method == "close" and self._open_create is not None:
                self.commits.append((self._open_create, time.time()))
                self._open_create = None

    def __enter__(self):
        self._orig = self._client.send_command
        self._client.send_command = self._send
        return self

    def __exit__(self, *exc):
        self._client.send_command = self._orig

    def per_call_cost(self, n: int = 20_000) -> float:
        """Seconds the counter adds to one py4j command: its bookkeeping
        timed against a no-op command, minus the bare no-op call."""
        saved, self._orig = self._orig, lambda command: None
        calls, commits = self.calls, list(self.commits)
        try:
            t0 = time.perf_counter()
            for _ in range(n):
                self._send("c\nt\nmethod\ne\n")
            wrapped = time.perf_counter() - t0
            t0 = time.perf_counter()
            for _ in range(n):
                self._orig("c\nt\nmethod\ne\n")
            bare = time.perf_counter() - t0
        finally:
            self._orig, self.calls, self.commits = saved, calls, commits
        return max(0.0, wrapped - bare) / n


@dataclass
class Span:
    name: str
    group: str
    start: float
    end: float = 0.0
    py4j_calls: int = 0
    extra: dict = field(default_factory=dict)

    @property
    def wall(self) -> float:
        return self.end - self.start


class Tracer:
    """Records spans around calls into the engine's public functions."""

    def __init__(self, spark, counter: Py4jCounter):
        self.sc = spark.sparkContext
        self.counter = counter
        self.spans: list[Span] = []
        self._groups: list[str] = []
        self.builder_calls = 0
        self._builder_depth = 0
        self._bookkeeping: list[tuple[float, float]] = []

    def _set_group(self, group: str | None) -> None:
        t = time.time()
        if group is None:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)
        else:
            self.sc.setJobGroup(group, group)
        self._bookkeeping.append((t, time.time()))

    def bookkeeping_in(self, lo: float, hi: float) -> float:
        """Seconds spent setting job groups and in `after` hooks in [lo, hi]."""
        return sum(e - s for s, e in self._bookkeeping if s >= lo and e <= hi)

    @contextlib.contextmanager
    def span(self, name: str):
        """Time a block under the job group `perfbench:<outer>/<name>`."""
        group = (self._groups[-1] + "/" if self._groups else GROUP_PREFIX) + name
        self._groups.append(group)
        self._set_group(group)
        s = Span(name, group, time.time())
        calls0 = self.counter.calls
        try:
            yield s
        finally:
            s.end = time.time()
            s.py4j_calls = self.counter.calls - calls0
            self.spans.append(s)
            self._groups.pop()
            self._set_group(self._groups[-1] if self._groups else None)

    def wrap(self, stack: contextlib.ExitStack, module, fn_name: str, span_name,
             after=None):
        """Patch module.fn_name (a module function or a class method) so each
        call runs inside span(span_name); span_name may be a function of the
        call's arguments. `after(span, result)` may record extra facts before
        the span closes."""
        orig = getattr(module, fn_name)

        def traced(*args, **kwargs):
            name = span_name(*args, **kwargs) if callable(span_name) else span_name
            with self.span(name) as s:
                result = orig(*args, **kwargs)
                if after is not None:
                    t = time.time()
                    after(s, result)
                    self._bookkeeping.append((t, time.time()))
                return result

        stack.enter_context(_patched(module, fn_name, traced))

    def count_builders(self, stack: contextlib.ExitStack, modules: dict):
        """Patch the sink builders so py4j calls made inside them are counted
        (outermost builder only; builders may call each other)."""
        for mod_name, names in AGGREGATE_BUILDERS.items():
            module = modules[mod_name]
            for fn_name in names:
                stack.enter_context(
                    _patched(module, fn_name, self._counted(getattr(module, fn_name))))

    def _counted(self, orig):
        def counted(*args, **kwargs):
            self._builder_depth += 1
            calls0 = self.counter.calls
            try:
                return orig(*args, **kwargs)
            finally:
                self._builder_depth -= 1
                if self._builder_depth == 0:
                    self.builder_calls += self.counter.calls - calls0
        return counted

    def find(self, name: str) -> list[Span]:
        return [s for s in self.spans if s.name == name]

    def children(self, parent: Span) -> list[Span]:
        """Spans opened directly inside `parent` (not nested deeper)."""
        return [s for s in self.spans if s.group == parent.group + "/" + s.name]


@contextlib.contextmanager
def _patched(module, name, value):
    orig = getattr(module, name)
    setattr(module, name, value)
    try:
        yield
    finally:
        setattr(module, name, orig)


# ----------------------------------------------------------- event log

@dataclass
class Job:
    job_id: int
    start: float
    end: float
    group: str
    stages: list[int]


@dataclass
class EventLog:
    jobs: list[Job]
    stage_tasks: dict[int, list[dict]]    # stage id -> task metric dicts

    def jobs_in(self, group_prefix: str) -> list[Job]:
        return [j for j in self.jobs if j.group.startswith(group_prefix)]

    def task_totals(self, jobs: list[Job]) -> dict[str, float]:
        tasks = [t for j in jobs for st in j.stages for t in self.stage_tasks.get(st, [])]
        return {
            "tasks": len(tasks),
            "executor_cpu_s": sum(t.get("Executor CPU Time", 0) for t in tasks) / 1e9,
            "gc_s": sum(t.get("JVM GC Time", 0) for t in tasks) / 1e3,
            "shuffle_write_mb": sum(
                t.get("Shuffle Write Metrics", {}).get("Shuffle Bytes Written", 0)
                for t in tasks) / 1e6,
        }


def read_event_log(event_dir: str) -> EventLog:
    files = [f for f in glob.glob(os.path.join(event_dir, "*")) if os.path.isfile(f)]
    if len(files) != 1:
        raise RuntimeError(f"expected one event log in {event_dir}, found {files}")
    starts, ends = {}, {}
    stage_tasks: dict[int, list[dict]] = defaultdict(list)
    with open(files[0]) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev["Event"]
            if kind == "SparkListenerJobStart":
                starts[ev["Job ID"]] = ev
            elif kind == "SparkListenerJobEnd":
                ends[ev["Job ID"]] = ev["Completion Time"]
            elif kind == "SparkListenerTaskEnd":
                stage_tasks[ev["Stage ID"]].append(ev.get("Task Metrics") or {})
    jobs = []
    for jid, ev in sorted(starts.items()):
        props = ev.get("Properties") or {}
        jobs.append(Job(jid, ev["Submission Time"] / 1e3,
                        ends.get(jid, ev["Submission Time"]) / 1e3,
                        props.get("spark.jobGroup.id") or "",
                        list(ev.get("Stage IDs", []))))
    return EventLog(jobs, dict(stage_tasks))


def busy(intervals, lo: float, hi: float) -> float:
    """Length of the union of intervals, clipped to [lo, hi]."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted((max(s, lo), min(e, hi)) for s, e in intervals):
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def peak_rss_mb(root_pid: int) -> dict[str, float]:
    """Peak resident set (VmHWM) in MB of root_pid ("driver"), the JVMs
    among its descendants ("jvm") and the other descendants, which are the
    Python workers the JVM forks ("workers")."""
    children: dict[int, list[int]] = defaultdict(list)
    for entry in os.listdir("/proc"):
        if entry.isdigit():
            try:
                with open(f"/proc/{entry}/stat") as f:
                    children[int(f.read().rsplit(")", 1)[1].split()[1])].append(int(entry))
            except OSError:
                continue
    peaks = {"driver": 0.0, "jvm": 0.0, "workers": 0.0}
    todo = [root_pid]
    while todo:
        pid = todo.pop()
        todo.extend(children.get(pid, []))
        try:
            with open(f"/proc/{pid}/status") as f:
                fields = dict(line.split(":", 1) for line in f if ":" in line)
        except OSError:
            continue
        kind = ("driver" if pid == root_pid
                else "jvm" if fields["Name"].strip() == "java" else "workers")
        peaks[kind] += int(fields.get("VmHWM", "0 kB").split()[0]) / 1024
    return peaks
