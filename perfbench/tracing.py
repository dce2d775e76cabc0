"""Per-layer tracing for the benchmark's traced mode.

Everything is measured from outside the program:

* ``Tracer`` wraps the driver-side public functions of the layers
  (``sources.readers.load_table``, the two ``plans.tuning`` helpers and
  every public function of ``operators``, ``graph``, ``ml`` and
  ``streaming``) in every module that holds them by name, and records a
  span (name, start, end, parent, query id) around each call.
* ``StreamProgress`` is a ``StreamingQueryListener``: micro-batches run
  on the stream thread, where job-group tags do not reach.
* ``jvm_counters`` reads GC, JIT and heap-pool peaks over JMX.
* ``status`` reads jobs, stages and SQL executions from the UI REST
  status store, and ``layer_totals`` attributes them to query windows.
"""

from __future__ import annotations

import contextlib
import datetime
import functools
import importlib
import inspect
import json
import pkgutil
import statistics
import sys
import time
import urllib.request

ROOT = "cs744_big_data_system_spark"
#: layer -> packages whose public functions are wrapped whole
PACKAGE_LAYERS = ("operators", "graph", "ml", "streaming")
#: (layer, module, function) wrapped one by one; the plans.tuning
#: helpers get a layer of their own, apart from plan-phase spans
SINGLE = (
    ("sources", "sources.readers", "load_table"),
    ("tuning", "plans.tuning", "fan_out_small_scan"),
    ("tuning", "plans.tuning", "loop_shuffle_partitions"),
)


class Tracer:
    """Spans kept in memory; wrappers record only while ``active``."""

    def __init__(self):
        self.spans: list[tuple] = []  # (id, name, start, end, parent, qid)
        self._stack: list[int] = []
        self.active = False
        self.qid: str | None = None

    @contextlib.contextmanager
    def span(self, name: str):
        sid = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        self.spans.append(None)  # reserve the id; filled on exit
        self._stack.append(sid)
        t0 = time.perf_counter()
        try:
            yield
        finally:
            self._stack.pop()
            self.spans[sid] = (sid, name, t0, time.perf_counter(), parent, self.qid)

    def _wrap(self, layer: str, fn):
        name = f"{layer}.{fn.__name__}"
        tracer = self
        inner = getattr(fn, "__wrapped__", None)
        if inner is not None and inspect.isgeneratorfunction(inner):
            # A @contextmanager helper: time entering and leaving it,
            # not the caller's body in between.
            @functools.wraps(fn)
            @contextlib.contextmanager
            def cm_wrapper(*args, **kwargs):
                cm = fn(*args, **kwargs)
                if not tracer.active:
                    with cm as value:
                        yield value
                    return
                with tracer.span(name):
                    value = cm.__enter__()
                try:
                    yield value
                except BaseException:
                    with tracer.span(name + ".exit"):
                        if not cm.__exit__(*sys.exc_info()):
                            raise
                else:
                    with tracer.span(name + ".exit"):
                        cm.__exit__(None, None, None)

            return cm_wrapper

        # functools.wraps keeps __module__/__qualname__, and the wrapper
        # replaces the module attribute, so cloudpickle still pickles a
        # wrapped UDF body by reference (workers import it unwrapped).
        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            if not tracer.active:
                return fn(*args, **kwargs)
            with tracer.span(name):
                return fn(*args, **kwargs)

        return wrapper

    def install(self) -> int:
        """Wrap the layer functions in every loaded module of the program
        that imported them by name; return how many were wrapped."""
        layer_of = {}
        for layer in PACKAGE_LAYERS:
            pkg = importlib.import_module(f"{ROOT}.{layer}")
            for info in pkgutil.iter_modules(pkg.__path__):
                mod = importlib.import_module(f"{pkg.__name__}.{info.name}")
                for attr, obj in vars(mod).items():
                    if inspect.isfunction(obj) and obj.__module__ == mod.__name__ and not attr.startswith("_"):
                        layer_of[obj] = layer
        for layer, mod_name, fn_name in SINGLE:
            layer_of[getattr(importlib.import_module(f"{ROOT}.{mod_name}"), fn_name)] = layer
        wrappers = {fn: self._wrap(layer, fn) for fn, layer in layer_of.items()}
        for name, mod in list(sys.modules.items()):
            if mod is None or not (name == ROOT or name.startswith(ROOT + ".")):
                continue
            for attr, obj in list(vars(mod).items()):
                if inspect.isfunction(obj) and obj in wrappers:
                    setattr(mod, attr, wrappers[obj])
        return len(wrappers)

    def layer_times(self, qids: set[str]) -> dict[str, float]:
        """Inclusive seconds per layer over the given queries, counting
        only the outermost span of a layer (a layer calling itself is
        not counted twice)."""
        by_id = {s[0]: s for s in self.spans}
        out: dict[str, float] = {}
        for sid, name, t0, t1, parent, qid in self.spans:
            if qid not in qids:
                continue
            layer = name.split(".", 1)[0]
            p = parent
            while p is not None and by_id[p][1].split(".", 1)[0] != layer:
                p = by_id[p][4]
            if p is None:
                out[layer] = out.get(layer, 0.0) + (t1 - t0)
        return out

    def count(self, qids: set[str], prefix: str) -> int:
        return sum(
            1 for s in self.spans
            if s[5] in qids and s[1].startswith(prefix) and not s[1].endswith(".exit")
        )

    def span_seconds(self, qids: set[str], name: str) -> float:
        return sum(s[3] - s[2] for s in self.spans if s[5] in qids and s[1] == name)

    def dump(self, path: str) -> None:
        """Write the spans plus each span name's total self time (its
        duration minus the part its child spans cover)."""
        child = {}
        for s in self.spans:
            if s[4] is not None:
                child[s[4]] = child.get(s[4], 0.0) + (s[3] - s[2])
        self_s: dict[str, float] = {}
        for sid, name, t0, t1, _, _ in self.spans:
            self_s[name] = self_s.get(name, 0.0) + (t1 - t0) - child.get(sid, 0.0)
        rows = [
            {"id": sid, "name": name, "start": t0, "end": t1, "parent": parent, "query": qid}
            for sid, name, t0, t1, parent, qid in self.spans
        ]
        with open(path, "w") as f:
            json.dump({"spans": rows, "self_s": self_s}, f)


def stream_listener_class():
    """Build the listener class lazily: pyspark is imported by the
    benchmark only after set-up is timed."""
    from pyspark.sql.streaming import StreamingQueryListener

    class StreamProgress(StreamingQueryListener):
        def __init__(self):
            self.started = 0
            self.terminated = 0
            self.progress: list[tuple[dict, int]] = []

        def onQueryStarted(self, event):
            self.started += 1

        def onQueryProgress(self, event):
            p = event.progress
            commit = sum(op.commitTimeMs or 0 for op in p.stateOperators)
            self.progress.append((dict(p.durationMs), commit))

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            self.terminated += 1

        def drain(self, timeout_s: float = 5.0) -> None:
            """Wait until every started query's events have arrived."""
            deadline = time.monotonic() + timeout_s
            while self.terminated < self.started and time.monotonic() < deadline:
                time.sleep(0.01)

    return StreamProgress


def stream_totals(progress: list[tuple[dict, int]]) -> dict[str, float]:
    trig = [d.get("triggerExecution", 0) / 1e3 for d, _ in progress]
    add = sum(d.get("addBatch", 0) for d, _ in progress) / 1e3
    wal = sum(d.get("walCommit", 0) + d.get("commitOffsets", 0) for d, _ in progress) / 1e3
    return {
        "stream.batches": len(progress),
        "stream.trigger_s": sum(trig),
        "stream.add_batch_s": add,
        "stream.state_commit_s": sum(c for _, c in progress) / 1e3,
        "stream.wal_commit_s": wal,
        "stream.outside_s": sum(trig) - add,
        "stream.batch_p50_s": statistics.median(trig) if trig else 0.0,
    }


def jvm_counters(spark, reset_peaks: bool = False) -> dict[str, float]:
    """Cumulative GC and JIT seconds, and the sum of the heap pools'
    peak usage in MB since the last reset."""
    mf = spark.sparkContext._jvm.java.lang.management.ManagementFactory
    gc_ms = sum(b.getCollectionTime() for b in mf.getGarbageCollectorMXBeans())
    jit_ms = mf.getCompilationMXBean().getTotalCompilationTime()
    peak = 0
    for pool in mf.getMemoryPoolMXBeans():
        if pool.getType().toString() == "Heap memory":
            peak += pool.getPeakUsage().getUsed()
            if reset_peaks:
                pool.resetPeakUsage()
    return {"gc_s": gc_ms / 1e3, "jit_s": jit_ms / 1e3, "heap_peak_mb": peak / 2**20}


def retained_heap_mb(spark) -> float:
    """Heap the session still holds: in use after a full collection. The
    ContextCleaner drops unreferenced blocks only after a GC has cleared
    their references, and on its own thread: collect, give it a moment,
    collect again."""
    jvm = spark.sparkContext._jvm
    jvm.System.gc()
    time.sleep(0.5)
    jvm.System.gc()
    heap = jvm.java.lang.management.ManagementFactory.getMemoryMXBean().getHeapMemoryUsage()
    return heap.getUsed() / 2**20


def status(spark, path: str):
    """One UI REST status-store endpoint of this application."""
    sc = spark.sparkContext
    url = f"{sc.uiWebUrl}/api/v1/applications/{sc.applicationId}/{path}"
    with urllib.request.urlopen(url, timeout=30) as r:
        return json.loads(r.read())


def _epoch(v: str | None) -> float | None:
    if not v:
        return None
    t = datetime.datetime.strptime(v, "%Y-%m-%dT%H:%M:%S.%fGMT")
    return t.replace(tzinfo=datetime.timezone.utc).timestamp()


_UNITS = {"B": 1, "KiB": 2**10, "MiB": 2**20, "GiB": 2**30, "TiB": 2**40}


def _metric_value(v: str) -> float:
    """A SQL node metric as a number of rows or bytes: either a plain
    count ("1,234") or the size form whose second line starts with the
    total ("total (min, med, max ...)\\n1.5 KiB (...)")."""
    text = v.split("\n")[1] if "\n" in v else v
    parts = text.split(" (")[0].replace(",", "").split()
    num = float(parts[0])
    return num * _UNITS.get(parts[1], 1) if len(parts) > 1 else num


def _union(intervals: list[tuple[float, float]]) -> float:
    total, end = 0.0, None
    for a, b in sorted(intervals):
        if end is None or a > end:
            total += b - a
            end = b
        elif b > end:
            total += b - end
            end = b
    return total


def layer_totals(spark, windows: list[tuple[str, float, float]]) -> dict[str, float]:
    """Sum the status store's jobs, stages and SQL executions over the
    given query windows (query id, epoch start, epoch end). Jobs are
    attributed by submission time, so jobs the stream thread runs are
    counted too; stages through their jobs."""
    slack = 0.002  # REST times have millisecond resolution
    jobs = status(spark, "jobs")
    stages: dict[int, list[dict]] = {}
    for s in status(spark, "stages"):
        stages.setdefault(s["stageId"], []).append(s)
    execs = status(spark, "sql?details=true&planDescription=false&length=1000000")

    def within(t: float | None, a: float, b: float) -> bool:
        return t is not None and a - slack <= t <= b + slack

    out = dict.fromkeys((
        "exec.jobs", "workloads.build_jobs", "exec.stages", "exec.tasks",
        "exec.task_run_s", "exec.task_cpu_s", "exec.stage_wall_s",
        "exec.driver_gap_s", "exec.failed_tasks", "sources.input_mb",
        "sources.output_mb", "input_rows", "shuffle.write_mb",
        "shuffle.read_mb", "shuffle.fetch_wait_s", "spill.mb",
        "join_rows", "python.sent_mb", "python.recv_mb",
    ), 0.0)
    for qid, a, b in windows:
        qjobs = [j for j in jobs if within(_epoch(j.get("submissionTime")), a, b)]
        out["exec.jobs"] += len(qjobs)
        out["workloads.build_jobs"] += sum(1 for j in qjobs if j.get("jobGroup") == f"{qid}/build")
        intervals = []
        for sid in {sid for j in qjobs for sid in j.get("stageIds", [])}:
            for s in stages.get(sid, []):
                if s["status"] not in ("COMPLETE", "FAILED"):
                    continue
                out["exec.stages"] += 1
                out["exec.tasks"] += s.get("numCompleteTasks", 0) + s.get("numFailedTasks", 0)
                out["exec.failed_tasks"] += s.get("numFailedTasks", 0)
                out["exec.task_run_s"] += s.get("executorRunTime", 0) / 1e3
                out["exec.task_cpu_s"] += s.get("executorCpuTime", 0) / 1e9
                out["sources.input_mb"] += s.get("inputBytes", 0) / 2**20
                out["input_rows"] += s.get("inputRecords", 0)
                out["sources.output_mb"] += s.get("outputBytes", 0) / 2**20
                out["shuffle.write_mb"] += s.get("shuffleWriteBytes", 0) / 2**20
                out["shuffle.read_mb"] += s.get("shuffleReadBytes", 0) / 2**20
                out["shuffle.fetch_wait_s"] += s.get("shuffleFetchWaitTime", 0) / 1e3
                out["spill.mb"] += s.get("diskBytesSpilled", 0) / 2**20
                t0 = _epoch(s.get("firstTaskLaunchedTime")) or _epoch(s.get("submissionTime"))
                t1 = _epoch(s.get("completionTime"))
                if t0 is not None and t1 is not None:
                    intervals.append((t0, t1))
        busy = _union(intervals)
        out["exec.stage_wall_s"] += busy
        out["exec.driver_gap_s"] += max(0.0, (b - a) - busy)
        for e in execs:
            if not within(_epoch(e.get("submissionTime")), a, b):
                continue
            for node in e.get("nodes", []):
                for m in node.get("metrics", []):
                    if m["name"] == "number of output rows" and "Join" in node["nodeName"]:
                        out["join_rows"] += _metric_value(m["value"])
                    elif m["name"] == "data sent to Python workers":
                        out["python.sent_mb"] += _metric_value(m["value"]) / 2**20
                    elif m["name"] == "data returned from Python workers":
                        out["python.recv_mb"] += _metric_value(m["value"]) / 2**20
    return out
