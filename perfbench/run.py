"""The repository's benchmark: query-mix workloads on local[4], one client.

    python3 perfbench/run.py --workload curation --seed 1 --seconds 8 --trace 0

One run, from the root of a checkout (see README.md for the metrics):

1. Set-up, timed: import the package and its workload registry, and
   build the session with ``get_spark`` on ``local[4]``. An untraced
   run starts the session ``SETUP_LAUNCHES`` times, each in a fresh
   JVM, and keeps the last; ``setup_s`` is the import plus the median
   start.
2. Inputs: ``gen.py`` derives a foreign-key-closed subsample of the
   vendored base dataset (``data/sf0.01``) from the seed, and prints the
   row count of every table. Queries receive only that directory.
3. First pass, timed on its own: every query of the mix once, in the
   listed order, as ``fn(spark, inputs_dir)`` followed by a ``noop``
   sink. After each query's clock stops its output is collected.
4. Steady passes, in the same order, until ``--seconds`` have passed
   and at least ``mixes.STEADY_PASSES`` passes (four when traced) are
   done, as a closed loop with one client. The seed picks the inputs,
   not the order, so each query's times compare across runs. The run
   reports the fastest steady pass and each query's fastest steady
   execution.
5. Check: every query's first-pass output is compared with its
   ``oracle_sql()`` entry on DuckDB over the same files, in the
   canonical form of ``tools/selfcheck.py``; a verdict per query is
   printed. Raised queries and mismatches count as failed.

``--trace 1`` alternates traced and untraced steady passes (traced,
untraced, untraced, traced, so that JIT warm-up over the run favours
neither side) and prints the per-layer metrics (see ``tracing.py``, and
``mixes.MOVES`` for which end-to-end metric each should move) instead of
the end-to-end ones, with the tracing overhead; it writes the spans to
``.perfbench/spans-<workload>-<seed>.json``.

The benchmark points every file it controls under ``.perfbench/`` in
the checkout: Python and JVM temp files, Spark's local and warehouse
dirs. The streaming replays keep the program's own choice of scratch
dir (``/dev/shm`` when it has room) and delete it when they finish.
The last line of standard output is one JSON object:
``{"correct", "attempted", "failed", "metrics"}``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile
import threading
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BASE = os.path.join(HERE, "data", "sf0.01")
WORK = os.path.join(ROOT, ".perfbench")
CORES = 4
#: steady passes a traced run makes at least: traced, untraced,
#: untraced, traced
TRACED_PASSES = 4
#: session starts an untraced run times for setup_s
SETUP_LAUNCHES = 3

sys.path.insert(0, HERE)
sys.path.insert(0, ROOT)

from mixes import MIXES, MOVES, STEADY_PASSES  # noqa: E402


def confine_writes() -> dict[str, str]:
    """Point every temp/scratch location of Python, the JVM and Spark
    into the work dir; return the session conf that completes it."""
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "spark-local")
    os.environ["SPARK_GRAFT_CPUS"] = str(CORES)
    # Every JVM (Spark's launcher too) keeps its perf counters in memory
    # instead of an hsperfdata file under the system /tmp.
    os.environ["JAVA_TOOL_OPTIONS"] = "-XX:+PerfDisableSharedMem"
    return {
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp}",
        "spark.sql.warehouse.dir": os.path.join(WORK, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
    }


def set_up(conf: dict[str, str], launches: int):
    """The timed set-up: package import, then ``launches`` session
    starts with ``get_spark``, each in a fresh JVM (all but the last are
    stopped again). Returns the last session, the registry, the import
    time and each start's time."""
    t0 = time.perf_counter()
    from cs744_big_data_system_spark.session import get_spark
    from cs744_big_data_system_spark.workloads import all_workloads

    registry = all_workloads()
    import_s = time.perf_counter() - t0
    starts = []
    for i in range(launches):
        t0 = time.perf_counter()
        spark = get_spark("perfbench", master=f"local[{CORES}]", extra_conf=conf)
        starts.append(time.perf_counter() - t0)
        if i < launches - 1:
            stop_spark(spark)
    return spark, registry, import_s, starts


def stop_spark(spark) -> None:
    """Stop the session and wait for its JVM (and the Python workers it
    forked) to exit."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()  # the JVM exits on EOF
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def _proc_table() -> dict[int, tuple[int, int]]:
    """pid -> (ppid, rss pages) for every visible process."""
    out = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        fields = stat[stat.rfind(")") + 2:].split()
        out[int(d)] = (int(fields[1]), int(fields[21]))
    return out


def cpu_ticks() -> tuple[int, int]:
    """(all, steal) jiffies of the machine since boot, from /proc/stat."""
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:]]
    return sum(fields[:8]), fields[7]


def _tree(root: int) -> list[tuple[int, int]]:
    table = _proc_table()
    children: dict[int, list[int]] = {}
    for pid, row in table.items():
        children.setdefault(row[0], []).append(pid)
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        if pid in table:
            out.append(table[pid])
        todo.extend(children.get(pid, []))
    return out


def tree_rss_mb(root: int) -> float:
    return sum(r[1] for r in _tree(root)) * os.sysconf("SC_PAGE_SIZE") / 2**20


class RssSampler(threading.Thread):
    """Peak resident memory of this process tree (driver, JVM, Python
    workers), sampled from /proc every ``interval`` seconds."""

    def __init__(self, interval: float = 0.2):
        super().__init__(daemon=True)
        self.interval = interval
        self.peak = 0.0
        self._done = threading.Event()

    def run(self):
        while not self._done.wait(self.interval):
            self.peak = max(self.peak, tree_rss_mb(os.getpid()))

    def finish(self) -> float:
        self._done.set()
        self.join()
        return max(self.peak, tree_rss_mb(os.getpid()))


def release(df) -> None:
    """Drop the loop-invariant tables iterative operators persist and
    hand back as ``cached_links``/``cached_nodes`` (as bench.py does)."""
    for attr in ("cached_links", "cached_nodes"):
        cached = getattr(df, attr, None)
        if cached is not None:
            cached.unpersist()


class Runner:
    def __init__(self, spark, registry, inputs: str, mix: list[str], tracer=None):
        self.spark = spark
        self.registry = registry
        self.inputs = inputs
        self.mix = mix
        self.tracer = tracer
        self.attempted = 0
        self.raised = 0  # executions that raised
        self.raised_queries: set[str] = set()
        self.errors: dict[str, str] = {}  # query -> first traceback
        self.outputs: dict = {}  # query -> pandas frame from the first pass
        self.passes = 0

    def _execute(self, q: str, qid: str, traced: bool):
        fn = self.registry[q][0]
        if not traced:
            df = fn(self.spark, self.inputs)
            df.write.format("noop").mode("overwrite").save()
            return df
        tr, sc = self.tracer, self.spark.sparkContext
        tr.qid = qid
        try:
            with tr.span("query"):
                sc.setJobGroup(f"{qid}/build", q)
                with tr.span("workloads.build"):
                    df = fn(self.spark, self.inputs)
                sc.setJobGroup(f"{qid}/sink", q)
                qe = df._jdf.queryExecution()
                with tr.span("plans.optimize"):
                    qe.optimizedPlan()
                with tr.span("plans.physical"):
                    qe.executedPlan()
                with tr.span("sink"):
                    df.write.format("noop").mode("overwrite").save()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            tr.qid = None
        return df

    def run_pass(self, collect: bool = False, traced: bool = False) -> dict:
        """One pass over the mix. Returns the per-query seconds of the
        queries that succeeded and each query's epoch window (for
        attributing status-store records)."""
        times, windows = {}, []
        for q in self.mix:
            qid = f"{q}@{self.passes}"
            self.attempted += 1
            w0, t0 = time.time(), time.perf_counter()
            try:
                df = self._execute(q, qid, traced)
                ok = True
            except Exception:
                self.errors.setdefault(q, traceback.format_exc(limit=4))
                self.raised += 1
                self.raised_queries.add(q)
                ok = False
            dt, w1 = time.perf_counter() - t0, time.time()
            windows.append((qid, w0, w1))
            if not ok:
                continue
            times[q] = dt
            if collect:
                try:
                    self.outputs[q] = df.toPandas()
                except Exception:
                    self.errors.setdefault(q, traceback.format_exc(limit=4))
            release(df)
        self.passes += 1
        return {"times": times, "total": sum(times.values()), "windows": windows}


def check(runner: Runner, registry, inputs: str) -> dict[str, str]:
    """Verdict per mix query: OK, or why it failed."""
    import duckdb

    from cs744_big_data_system_spark.sources.readers import TABLES
    from tools.selfcheck import canon

    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{inputs}/{t}.parquet'")
    verdicts = {}
    for q in runner.mix:
        if q in runner.errors:
            verdicts[q] = "RAISED: " + runner.errors[q].strip().splitlines()[-1]
            continue
        try:
            scols, srows = canon(runner.outputs[q])
            ocols, orows = canon(con.sql(registry[q][1]).df())
        except Exception as e:
            verdicts[q] = f"CHECK-ERROR: {type(e).__name__}: {e}"
            continue
        if not orows:
            verdicts[q] = "EMPTY: the oracle result is empty"
        elif scols != ocols:
            verdicts[q] = f"SCHEMA-MISMATCH: spark={scols} oracle={ocols}"
        elif srows != orows:
            verdicts[q] = f"VALUE-MISMATCH: {len(srows)} rows vs {len(orows)} oracle rows"
        else:
            verdicts[q] = f"OK ({len(srows)} rows)"
    con.close()
    return verdicts


def traced_metrics(spark, runner: Runner, traced: list[dict], untraced: list[dict],
                   first_jit_s: float, jvm_steady: dict, listener_progress, memory: dict) -> dict:
    from tracing import layer_totals, stream_totals

    n = len(traced)
    rows = sum(len(runner.outputs.get(q, [])) for q in runner.mix) * n
    windows = [w for p in traced for w in p["windows"]]
    qids = {w[0] for w in windows}
    st = layer_totals(spark, windows)
    tr = runner.tracer
    layers = tr.layer_times(qids)
    m = {
        "workloads.build_s": tr.span_seconds(qids, "workloads.build"),
        "workloads.build_jobs": st["workloads.build_jobs"],
        "sources.load_table_calls": tr.count(qids, "sources.load_table"),
        "sources.load_table_s": layers.get("sources", 0.0),
        "sources.input_mb": st["sources.input_mb"],
        "sources.output_mb": st["sources.output_mb"],
        "sources.rows_read_per_row_returned": st["input_rows"] / max(rows, 1),
        "plans.optimize_s": tr.span_seconds(qids, "plans.optimize"),
        "plans.physical_s": tr.span_seconds(qids, "plans.physical"),
        "plans.tuning_calls": tr.count(qids, "tuning."),
        "plans.tuning_s": layers.get("tuning", 0.0),
        "operators.call_s": layers.get("operators", 0.0),
        "graph.call_s": layers.get("graph", 0.0),
        "ml.call_s": layers.get("ml", 0.0),
        "streaming.call_s": layers.get("streaming", 0.0),
    }
    for k in ("exec.jobs", "exec.stages", "exec.tasks", "exec.task_run_s", "exec.task_cpu_s"):
        m[k] = st[k]
    m["exec.cpu_per_run"] = st["exec.task_cpu_s"] / st["exec.task_run_s"] if st["exec.task_run_s"] else 0.0
    for k in ("exec.stage_wall_s", "exec.driver_gap_s", "exec.failed_tasks", "shuffle.write_mb",
              "shuffle.read_mb", "shuffle.fetch_wait_s", "spill.mb", "python.sent_mb", "python.recv_mb"):
        m[k] = st[k]
    m["join.rows_per_result"] = st["join_rows"] / max(rows, 1)
    m["jvm.gc_s"] = jvm_steady["gc_s"]
    m["jvm.jit_compile_s"] = jvm_steady["jit_s"]
    m.update(stream_totals(listener_progress))
    # Everything above is a sum over the traced passes: report per pass,
    # except the ratios and the batch median.
    per_pass_exempt = {"exec.cpu_per_run", "join.rows_per_result",
                       "sources.rows_read_per_row_returned", "stream.batch_p50_s"}
    m = {k: (v if k in per_pass_exempt else v / n) for k, v in m.items()}
    m["jvm.heap_peak_mb"] = jvm_steady["heap_peak_mb"]
    m["jvm.first_pass_jit_s"] = first_jit_s
    m.update(memory)
    tp = statistics.median(p["total"] for p in traced)
    up = statistics.median(p["total"] for p in untraced)
    m["trace.pass_s"] = tp
    m["trace.untraced_pass_s"] = up
    m["trace.overhead_frac"] = tp / up - 1.0
    return {k: m[k] for k in MOVES}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", choices=sorted(MIXES), required=True)
    ap.add_argument("--seed", type=int, default=0)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--base", default=BASE, help="base dataset the inputs are derived from")
    args = ap.parse_args(argv)
    # Runs are independent: nothing a previous run wrote is read again.
    for d in ("tmp", "warehouse"):
        shutil.rmtree(os.path.join(WORK, d), ignore_errors=True)
    conf = confine_writes()
    if args.trace:
        # Keep a whole pass of jobs/stages in the status store.
        conf.update({"spark.ui.retainedJobs": "20000", "spark.ui.retainedStages": "20000",
                     "spark.sql.ui.retainedExecutions": "20000"})
    rss = RssSampler()
    rss.start()
    ticks0 = cpu_ticks()
    spark, registry, import_s, starts = set_up(conf, 1 if args.trace else SETUP_LAUNCHES)
    setup_s = import_s + statistics.median(starts)
    print(f"set-up: import {import_s:.3f} s, session starts " + " ".join(f"{t:.3f}" for t in starts) + " s")
    spark.sparkContext.setLogLevel("ERROR")
    from gen import generate

    inputs = os.path.join(WORK, f"inputs-{args.workload}-{args.seed}")
    shutil.rmtree(inputs, ignore_errors=True)
    counts = generate(args.base, inputs, args.seed)
    print("inputs: " + " ".join(f"{t}={n}" for t, n in counts.items()))

    mix = MIXES[args.workload]
    tracer = listener = None
    if args.trace:
        from tracing import Tracer, jvm_counters, retained_heap_mb, stream_listener_class

        tracer = Tracer()
        wrapped = tracer.install()
        listener = stream_listener_class()()
        jvm0 = jvm_counters(spark)
    runner = Runner(spark, registry, inputs, mix, tracer)
    first = runner.run_pass(collect=True)
    first_jit_s = jvm_counters(spark)["jit_s"] - jvm0["jit_s"] if args.trace else 0.0

    traced, untraced = [], []
    progress = []
    jvm_steady = {"gc_s": 0.0, "jit_s": 0.0, "heap_peak_mb": 0.0}
    t0 = time.perf_counter()
    min_passes = TRACED_PASSES if args.trace else STEADY_PASSES[args.workload]
    while time.perf_counter() - t0 < args.seconds or len(traced) + len(untraced) < min_passes:
        spark.sparkContext._jvm.System.gc()  # same heap state at every pass start
        n = len(traced) + len(untraced)
        if not args.trace or n % 4 in (1, 2):
            untraced.append(runner.run_pass())
            continue
        before = jvm_counters(spark, reset_peaks=True)
        spark.streams.addListener(listener)
        tracer.active = True
        traced.append(runner.run_pass(traced=True))
        tracer.active = False
        listener.drain()
        spark.streams.removeListener(listener)
        after = jvm_counters(spark)
        jvm_steady["gc_s"] += after["gc_s"] - before["gc_s"]
        jvm_steady["jit_s"] += after["jit_s"] - before["jit_s"]
        jvm_steady["heap_peak_mb"] = max(jvm_steady["heap_peak_mb"], after["heap_peak_mb"])
    if listener is not None:
        progress = listener.progress
    peak_rss = rss.finish()
    ticks1 = cpu_ticks()
    # CPU time the hypervisor gave to other guests while this run was
    # measured: a host-health figure, printed beside the metrics.
    steal = (ticks1[1] - ticks0[1]) / max(1, ticks1[0] - ticks0[0])
    print(f"host steal {steal * 100:.1f}% of CPU time; peak RSS {peak_rss:.0f} MB")

    verdicts = check(runner, registry, inputs)
    for q, v in verdicts.items():
        print(f"check {q}: {v}")
    failed_queries = {q for q, v in verdicts.items() if not v.startswith("OK")}
    # Each execution that raised counts; a query whose first-pass output
    # failed the check counts once (steady outputs go to a noop sink).
    failed = runner.raised + len(failed_queries - runner.raised_queries)
    steady = traced + untraced

    if args.trace:
        memory = {"jvm.retained_heap_mb": retained_heap_mb(spark), "proc.peak_rss_mb": peak_rss}
        metrics = traced_metrics(spark, runner, traced, untraced, first_jit_s, jvm_steady, progress, memory)
        spans = os.path.join(WORK, f"spans-{args.workload}-{args.seed}.json")
        tracer.dump(spans)
        print(f"spans: {spans} ({len(tracer.spans)} spans over {wrapped} wrapped functions, {len(traced)} traced and "
              f"{len(untraced)} untraced passes, tracing overhead "
              f"{metrics['trace.overhead_frac'] * 100:.1f}% of pass_s)")
    stop_spark(spark)

    if not args.trace:
        # A slow spell of the shared host only ever adds time, and it
        # can cover several passes, so a run reports each query's (and
        # the pass total's) fastest steady execution, not the median.
        best = {}
        for q in mix:
            runs = [p["times"][q] for p in steady if q in p["times"]]
            if runs:
                best[q] = min(runs)
            print(f"query {q}: first {first['times'].get(q, float('nan')):.3f} s, steady "
                  + " ".join(f"{t:.3f}" for t in runs) + " s")
        print("steady passes: " + " ".join(f"{p['total']:.3f}" for p in steady) + " s")
        lat = sorted(best.values())
        q = statistics.quantiles(lat, n=10, method="inclusive")
        metrics = {
            "setup_s": setup_s,
            "first_pass_s": first["total"],
            "pass_s": min(p["total"] for p in steady),
            "query_p50_s": statistics.median(lat),
            "query_p90_s": q[8],
        }
        print(f"steady passes: {len(steady)}; query latencies: {len(lat)} queries, each the fastest "
              f"of its {len(steady)} steady executions; failed_frac: {failed / runner.attempted:.4f}")
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    units = {m["name"]: m["unit"] for m in spec["end_to_end"] + spec["per_layer"]}
    for name, value in metrics.items():
        print(f"metric {name} = {value:.6g} {units[name]}")
    shutil.rmtree(inputs, ignore_errors=True)
    result = {
        "correct": failed == 0,
        "attempted": runner.attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
    }
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
