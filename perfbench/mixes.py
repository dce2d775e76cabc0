"""The benchmark's workloads and the predictions it is read against.

Each workload is a fixed mix of oracle-backed registry queries, run in
passes; every pass runs each query of the mix once, in the listed order. ``BENCHMARK.json`` carries each workload's name and its
one-line reason; this module carries the query lists and, for every
per-layer metric, the end-to-end metric and workload it should move.
"""

from __future__ import annotations

MIXES: dict[str, list[str]] = {
    # Time goes to operators/functions: pandas/Arrow UDFs, banded LSH
    # self-joins on (band, bucket) with a distinct(), plans.tuning
    # fan-outs.
    "curation": [
        "dedup_minhash_lsh", "dedup_embedding_cosine_lsh", "text_quality",
        "udf_grouped_arrow", "udf_map_in_arrow",
    ],
    # Driver-looped supersteps (BFS, logistic GD), a streaming replay of
    # per-key CDC state (streaming.stateful through streaming.windows,
    # three micro-batches with state-store commits), and a
    # partition-overwrite table write: the write path beside the
    # read-only curation mix.
    "stateful": [
        "graph_bfs_hops", "ml_logreg_gd", "stream_cdc_replay",
        "insert_overwrite_partitions",
    ],
}

#: Steady passes an untraced run makes at least, per workload: enough
#: to outlast the benchmark's --seconds, so the pass count (and with it
#: the share of JIT warm-up in pass_s) does not flip between runs with
#: the host's speed.
STEADY_PASSES: dict[str, int] = {"curation": 4, "stateful": 1}

#: per-layer metric -> (end-to-end metric it should move, workloads).
#: "flat" names a workload on which the prediction is no change.
MOVES: dict[str, tuple[str, str]] = {
    "workloads.build_s": ("query_p50_s", "all; stateful (eager supersteps)"),
    "workloads.build_jobs": ("query_p50_s", "all; stateful (eager supersteps)"),
    "sources.load_table_calls": ("query_p50_s", "all"),
    "sources.load_table_s": ("query_p50_s", "all"),
    "sources.input_mb": ("query_p50_s", "all"),
    "sources.output_mb": ("pass_s", "stateful only"),
    "sources.rows_read_per_row_returned": ("query_p50_s", "all"),
    "plans.optimize_s": ("query_p50_s", "all"),
    "plans.physical_s": ("query_p50_s", "all"),
    "plans.tuning_calls": ("pass_s", "curation, stateful"),
    "plans.tuning_s": ("pass_s", "curation, stateful"),
    "operators.call_s": ("pass_s", "curation"),
    "graph.call_s": ("pass_s", "stateful"),
    "ml.call_s": ("pass_s", "stateful"),
    "streaming.call_s": ("pass_s", "stateful only"),
    "exec.jobs": ("pass_s", "stateful"),
    "exec.stages": ("pass_s", "stateful"),
    "exec.tasks": ("pass_s", "all"),
    "exec.task_run_s": ("pass_s", "all"),
    "exec.task_cpu_s": ("pass_s", "curation"),
    "exec.cpu_per_run": ("pass_s", "curation"),
    "exec.stage_wall_s": ("pass_s", "all"),
    "exec.driver_gap_s": ("pass_s", "stateful"),
    "exec.failed_tasks": ("failed (count in the result line)", "all"),
    "shuffle.write_mb": ("query_p90_s", "curation"),
    "shuffle.read_mb": ("query_p90_s", "curation"),
    "shuffle.fetch_wait_s": ("query_p90_s", "curation"),
    "spill.mb": ("query_p90_s", "curation"),
    "join.rows_per_result": ("query_p90_s", "curation"),
    "python.sent_mb": ("pass_s", "curation"),
    "python.recv_mb": ("pass_s", "curation"),
    "jvm.gc_s": ("query_p90_s", "curation"),
    "jvm.heap_peak_mb": ("query_p90_s", "curation"),
    "jvm.retained_heap_mb": ("(memory; no bounded end-to-end metric)", "curation"),
    "jvm.jit_compile_s": ("pass_s", "all"),
    "jvm.first_pass_jit_s": ("first_pass_s", "all"),
    "proc.peak_rss_mb": ("(memory; no bounded end-to-end metric)", "curation"),
    "stream.batches": ("pass_s", "stateful only"),
    "stream.trigger_s": ("pass_s", "stateful only"),
    "stream.add_batch_s": ("pass_s", "stateful only"),
    "stream.state_commit_s": ("pass_s", "stateful only"),
    "stream.wal_commit_s": ("pass_s", "stateful only"),
    "stream.outside_s": ("pass_s", "stateful only"),
    "stream.batch_p50_s": ("pass_s", "stateful only"),
    "trace.pass_s": ("(traced pass_s)", "all"),
    "trace.untraced_pass_s": ("(untraced pass_s in the traced run)", "all"),
    "trace.overhead_frac": ("(tracing overhead)", "all"),
}
