"""Layer tracing for the benchmark's traced mode.

Spans are recorded from the benchmark's own files only: the harness
opens a span around each operation, its registry callable and its final
action, and ``Recorder.install`` wraps the engine's layer entry points
(catalog loads, the materialization policy, the fsutil small-file
helpers and every operator function that returns a DataFrame) by object
identity in every loaded module, because most modules bind these
functions by name at import time. No engine module is edited.

A span has a name, start, end, parent and the id of the operation it
belongs to. A layer's self time is its spans' durations minus the time
their child spans cover. Spark-side numbers come from the UI's REST API
(jobs, stages, SQL executions) and from the queries' planning trackers,
and are attributed to operations and spans by time.
"""

from __future__ import annotations

import datetime as dt
import functools
import importlib
import inspect
import json
import math
import os
import pkgutil
import statistics
import sys
import threading
import time
import urllib.request
from contextlib import contextmanager
from dataclasses import dataclass, field


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: int | None
    op: int | None


@dataclass
class Op:
    """One traced operation: its root span and the facts read after it."""
    id: int
    name: str
    pass_no: int
    root: int
    plan: dict[str, float] = field(default_factory=dict)
    progress: list[dict] = field(default_factory=list)
    catalog_hits: int = 0
    state_bytes: int = 0
    input_bytes: int = 0
    versions_live: int = 0


class Recorder:
    """In-memory span recorder. ``enabled`` false makes every wrapper a
    pass-through, so traced and untraced passes run in one process."""

    def __init__(self):
        self.spans: list[Span] = []
        self.ops: list[Op] = []
        self.enabled = True
        self._local = threading.local()
        self._lock = threading.Lock()
        self._main_stack: list[int] = []
        self.pass_no = 0
        self._catalog_returns: dict[tuple, int] = {}
        # name -> callable(*args) run before each traced call of name
        self.hooks: dict = {}

    def _stack(self) -> list[int]:
        if threading.current_thread() is threading.main_thread():
            return self._main_stack
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        stack = self._stack()
        # a span opened on a callback thread (streaming foreachBatch)
        # hangs under whatever the main thread is waiting in
        parent = stack[-1] if stack else (
            self._main_stack[-1] if self._main_stack else None)
        op = self.ops[-1].id if self.ops else None
        with self._lock:
            idx = len(self.spans)
            self.spans.append(Span(name, time.time(), 0.0, parent, op))
        stack.append(idx)
        try:
            yield
        finally:
            stack.pop()
            self.spans[idx].end = time.time()

    @contextmanager
    def op(self, name: str):
        if not self.enabled:
            yield None
            return
        op = Op(id=len(self.ops), name=name, pass_no=self.pass_no,
                root=len(self.spans))
        self.ops.append(op)
        with self.span("op"):
            yield op

    def wrap(self, fn, name: str):
        if name == "catalog.load":
            return self._wrap_load(fn)

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            hook = self.hooks.get(name) if self.enabled else None
            if hook is not None:
                hook(*args, **kwargs)
            with self.span(name):
                return fn(*args, **kwargs)
        return traced

    def _wrap_load(self, fn):
        @functools.wraps(fn)
        def traced(spark, sf_dir, name):
            with self.span("catalog.load"):
                df = fn(spark, sf_dir, name)
            # a hit hands back the very frame an earlier call built
            key = (spark.sparkContext.applicationId, sf_dir, name)
            if self.enabled and self.ops:
                self.ops[-1].catalog_hits += self._catalog_returns.get(key) == id(df)
            self._catalog_returns[key] = id(df)
            return df
        return traced

    def install(self) -> int:
        """Wrap the layer entry points wherever a loaded engine module
        binds them; returns the number of bindings replaced."""
        import myhadoop_spark
        from myhadoop_spark import catalog, fsutil, materialize

        # query modules import some operators inside function bodies:
        # load every module first so each binding exists to be replaced
        for info in pkgutil.walk_packages(myhadoop_spark.__path__, "myhadoop_spark."):
            importlib.import_module(info.name)
        targets = {
            id(catalog.load): (catalog.load, "catalog.load"),
            id(catalog.load_wide): (catalog.load_wide, "catalog.load_wide"),
            id(materialize.materialize): (materialize.materialize,
                                          "materialize.materialize"),
            id(materialize.materialize_lazy): (materialize.materialize_lazy,
                                               "materialize.materialize_lazy"),
            id(fsutil.read_small_file): (fsutil.read_small_file,
                                         "fsutil.read_small_file"),
            id(fsutil.write_small_file): (fsutil.write_small_file,
                                          "fsutil.write_small_file"),
        }
        prefix = "myhadoop_spark.operators."
        for mod_name, mod in list(sys.modules.items()):
            if not mod_name.startswith(prefix):
                continue
            for attr, fn in vars(mod).items():
                # DataFrame-returning functions are plan builders that
                # run on the driver; executor-side functions are never
                # wrapped, so nothing traced is ever pickled
                if (inspect.isfunction(fn) and fn.__module__ == mod_name
                        and not attr.startswith("_")
                        and fn.__annotations__.get("return") == "DataFrame"):
                    targets[id(fn)] = (fn, "operators." + mod_name[len(prefix):])
        wrappers = {k: self.wrap(fn, name) for k, (fn, name) in targets.items()}
        replaced = 0
        for mod_name, mod in list(sys.modules.items()):
            if not mod_name.startswith("myhadoop_spark"):
                continue
            for attr, value in list(vars(mod).items()):
                w = wrappers.get(id(value))
                if w is not None and value is targets[id(value)][0]:
                    setattr(mod, attr, w)
                    replaced += 1
        return replaced


# ---------------------------------------------------------------------------
# Spark UI REST API
# ---------------------------------------------------------------------------

def _epoch(ts: str | None) -> float | None:
    if not ts:
        return None
    return dt.datetime.strptime(ts.replace("GMT", "+0000"),
                                "%Y-%m-%dT%H:%M:%S.%f%z").timestamp()


_SIZE = {"B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30, "TiB": 1 << 40}


def _size_total(value: str) -> float:
    """Total of an SQL size metric as the UI renders it: either
    '12.0 KiB' or 'total (min, med, max ...)\\n12.0 KiB (...)'."""
    line = value.split("\n")[-1] if "\n" in value else value
    num, unit = line.split()[:2]
    return float(num.replace(",", "")) * _SIZE.get(unit, 1)


class SparkRest:
    def __init__(self, spark):
        sc = spark.sparkContext
        self.base = (f"{sc.uiWebUrl}/api/v1/applications/"
                     f"{sc.applicationId}")

    def get(self, path: str):
        with urllib.request.urlopen(self.base + path, timeout=30) as r:
            return json.loads(r.read())

    def settled(self) -> tuple[list, list, list]:
        """(jobs, stages, sql executions) once the listener bus has
        delivered every event: two equal reads in a row."""
        last = None
        for _ in range(40):
            jobs = self.get("/jobs")
            key = (len(jobs), sum(j["status"] == "RUNNING" for j in jobs))
            if key == last and key[1] == 0:
                break
            last = key
            time.sleep(0.25)
        stages = self.get("/stages")
        sql = self.get("/sql?details=true&planDescription=false&length=100000")
        return jobs, stages, sql


# ---------------------------------------------------------------------------
# process samples
# ---------------------------------------------------------------------------

def _children(pid: int) -> list[int]:
    out = []
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as f:
                    fields = f.read().rsplit(")", 1)[1].split()
            except OSError:
                continue
            if int(fields[1]) == pid:
                out.append(int(d))
    return out


def _tree(pid: int) -> list[int]:
    out, todo = [], [pid]
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(_children(p))
    return out


def _comm(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/comm") as f:
            return f.read().strip()
    except OSError:
        return ""


class ProcessSampler:
    """Peak JVM RSS, peak heap-after-GC and peak Python worker count."""

    def __init__(self, spark):
        self.spark = spark
        self.jvm_pid = next((p for p in _children(os.getpid())
                             if _comm(p) == "java"), None)
        self.workers_peak = 0
        self.heap_after_gc_peak = 0

    def sample(self) -> None:
        if self.jvm_pid is not None:
            workers = sum(_comm(p).startswith("python")
                          for p in _tree(self.jvm_pid)[1:])
            # the daemon that forks workers is one of them
            self.workers_peak = max(self.workers_peak, max(workers - 1, 0))
        mf = self.spark._jvm.java.lang.management.ManagementFactory
        used = 0
        for pool in mf.getMemoryPoolMXBeans():
            if pool.getType().toString() == "Heap memory":
                usage = pool.getCollectionUsage()
                if usage is not None:
                    used += usage.getUsed()
        self.heap_after_gc_peak = max(self.heap_after_gc_peak, used)

    def peak_rss_bytes(self) -> int:
        if self.jvm_pid is None:
            return 0
        with open(f"/proc/{self.jvm_pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) * 1024
        return 0


def plan_phases(df) -> dict[str, float]:
    """Catalyst's QueryPlanningTracker phase times of the query whose
    action has run, in seconds."""
    phases = df._jdf.queryExecution().tracker().phases()
    out = {}
    for phase in ("analysis", "optimization", "planning"):
        summary = phases.get(phase)
        out[phase] = summary.get().durationMs() / 1000.0 if summary.isDefined() else 0.0
    return out


# ---------------------------------------------------------------------------
# per-layer metrics
# ---------------------------------------------------------------------------

def _union_len(intervals: list[tuple[float, float]]) -> float:
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


def _clip(iv, lo, hi):
    return [(max(s, lo), min(e, hi)) for s, e in iv if e > lo and s < hi]


STAGE_SUMS = {
    "spark.exec.run_s": ("executorRunTime", 1e-3),
    "spark.exec.cpu_s": ("executorCpuTime", 1e-9),
    "spark.exec.gc_s": ("jvmGcTime", 1e-3),
    "spark.scan.input_bytes": ("inputBytes", 1),
    "spark.shuffle.write_bytes": ("shuffleWriteBytes", 1),
    "spark.shuffle.write_rows": ("shuffleWriteRecords", 1),
    "spark.shuffle.read_bytes": ("shuffleReadBytes", 1),
    "spark.shuffle.fetch_wait_s": ("shuffleFetchWaitTime", 1e-3),
    "spark.spill.disk_bytes": ("diskBytesSpilled", 1),
}

# span name -> self-time metric; other spans report as "<name>.s"
SELF_TIME_KEY = {
    "catalog.load": "catalog.load_s",
    "catalog.load_wide": "catalog.load_wide_s",
    "materialize.materialize": "materialize.s",
    "materialize.materialize_lazy": "materialize.s",
    "queries.build": "queries.build_s",
    "action": "action.s",
    "streaming.drain": "streaming.drain_s",
}


def op_metrics(rec: Recorder, op: Op, jobs: list, stages: list,
               sql: list) -> dict[str, float]:
    """Additive per-layer numbers of one operation, plus its wall and
    the self time of its root span (time no layer span covers)."""
    spans = [i for i, s in enumerate(rec.spans) if s.op == op.id]
    root = rec.spans[op.root]
    lo, hi = root.start, root.end
    wall = hi - lo
    children: dict[int, list[int]] = {}
    for i in spans:
        p = rec.spans[i].parent
        if p is not None:
            children.setdefault(p, []).append(i)
    self_s: dict[int, float] = {}
    for i in spans:
        s = rec.spans[i]
        kids = [(rec.spans[c].start, rec.spans[c].end) for c in children.get(i, [])]
        self_s[i] = (s.end - s.start) - _union_len(_clip(kids, s.start, s.end))

    m: dict[str, float] = {}

    def add(key: str, v: float) -> None:
        m[key] = m.get(key, 0.0) + v

    for i in spans:
        name = rec.spans[i].name
        if name == "op":
            continue
        add(SELF_TIME_KEY.get(name, name + ".s"), self_s[i])
        if name == "catalog.load":
            add("catalog.load_calls", 1)
        elif name == "materialize.materialize":
            add("materialize.calls", 1)
        elif name == "materialize.materialize_lazy":
            add("materialize.lazy_calls", 1)
        elif name.startswith(("operators.", "fsutil.")):
            add(name + ".calls", 1)
    m["unattributed_s"] = self_s[op.root]

    op_jobs = [j for j in jobs if j.get("submissionTime")
               and lo <= _epoch(j["submissionTime"]) <= hi]
    for j in op_jobs:
        group = j.get("jobGroup") or ""
        if ":build:" in group:
            add("queries.build_jobs", 1)
        elif ":action:" in group:
            add("action.jobs", 1)
        elif op.progress:
            add("streaming.batch_jobs", 1)
    stage_ids = {s for j in op_jobs for s in j.get("stageIds", [])}
    done = [s for s in stages
            if s["stageId"] in stage_ids and s["status"] == "COMPLETE"]
    add("spark.stages", len(done))
    add("spark.tasks", sum(s.get("numCompleteTasks", 0) for s in done))
    for key, (fld, scale) in STAGE_SUMS.items():
        add(key, sum(s.get(fld, 0) for s in done) * scale)
    busy = _union_len(_clip([(_epoch(s["submissionTime"]),
                              _epoch(s["completionTime"])) for s in done
                             if s.get("submissionTime") and s.get("completionTime")],
                            lo, hi))
    m["driver.idle_s"] = wall - busy

    for ex in sql:
        t = _epoch(ex.get("submissionTime"))
        if t is None or not lo <= t <= hi:
            continue
        for node in ex.get("nodes", []):
            for metric in node.get("metrics", []):
                if metric["name"] == "data sent to Python workers":
                    add("spark.python.bytes_sent", _size_total(metric["value"]))
                elif metric["name"] == "data returned from Python workers":
                    add("spark.python.bytes_received", _size_total(metric["value"]))

    for phase, v in op.plan.items():
        add(f"plan.{phase}_s", v)
    for p in op.progress:
        d = p.get("durationMs", {})
        add("streaming.add_batch_s", d.get("addBatch", 0) / 1000)
        add("streaming.query_planning_s", d.get("queryPlanning", 0) / 1000)
        add("streaming.wal_commit_s", d.get("walCommit", 0) / 1000)
        add("streaming.commit_offsets_s", d.get("commitOffsets", 0) / 1000)
    add("catalog.hits", op.catalog_hits)
    add("state.bytes_written", op.state_bytes)
    add("state.input_bytes", op.input_bytes)
    m["state.versions_live"] = op.versions_live
    m["wall_s"] = wall
    return m


def median_by_key(rows: list[dict[str, float]]) -> dict[str, float]:
    """Per-key median over rows; a key missing from a row counts as 0."""
    keys = set().union(*rows) if rows else set()
    return {k: statistics.median(r.get(k, 0.0) for r in rows) for k in keys}


def percentile(values: list[float], q: float) -> float:
    """Nearest-rank percentile."""
    vals = sorted(values)
    return vals[max(0, math.ceil(q * len(vals)) - 1)]
