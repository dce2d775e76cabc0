"""The benchmark's own tests: python3 -m pytest perfbench -q

The smoke tests start Spark (about half a minute each); the rest run
without it.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import duckdb
import pyarrow.parquet as pq
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
sys.path.insert(0, ROOT)

from gen import TABLES, generate  # noqa: E402
from mixes import MIXES, MOVES, STEADY_PASSES  # noqa: E402
from tracing import _metric_value, _union  # noqa: E402

SF0001 = os.path.join(HERE, "data", "sf0.001")
SF001 = os.path.join(HERE, "data", "sf0.01")
with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
    SPEC = json.load(f)


def _bytes(d):
    return {t: open(os.path.join(d, f"{t}.parquet"), "rb").read() for t in TABLES}


def test_same_seed_same_files_other_seed_other_files(tmp_path):
    a, b, c = (str(tmp_path / n) for n in "abc")
    generate(SF0001, a, 7)
    generate(SF0001, b, 7)
    generate(SF0001, c, 8)
    assert _bytes(a) == _bytes(b)
    differ = [t for t in TABLES if _bytes(a)[t] != _bytes(c)[t]]
    assert set(differ) == {"customer", "orders", "lineitem", "events", "documents"}


def test_generated_files_keep_physical_types_and_foreign_keys(tmp_path):
    out = str(tmp_path / "g")
    counts = generate(SF001, out, 3)
    for t in TABLES:
        src = pq.ParquetFile(os.path.join(SF001, f"{t}.parquet"))
        dst = pq.ParquetFile(os.path.join(out, f"{t}.parquet"))
        assert dst.schema.equals(src.schema), t
        assert dst.metadata.num_rows == counts[t]
    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{out}/{t}.parquet'")
    orphans = con.sql("""
        SELECT (SELECT count(*) FROM orders WHERE o_custkey NOT IN (SELECT c_custkey FROM customer))
             + (SELECT count(*) FROM lineitem WHERE l_orderkey NOT IN (SELECT o_orderkey FROM orders))
    """).fetchone()[0]
    assert orphans == 0
    # whole orders go with their lineitems: every kept order keeps all of its lines
    base_lines = duckdb.sql(
        f"SELECT count(*) FROM '{SF001}/lineitem.parquet' "
        f"WHERE l_orderkey IN (SELECT o_orderkey FROM '{out}/orders.parquet')"
    ).fetchone()[0]
    assert base_lines == counts["lineitem"]
    for t in ("customer", "orders", "events", "documents"):
        base = pq.ParquetFile(os.path.join(SF001, f"{t}.parquet")).metadata.num_rows
        assert 0.75 * base < counts[t] < base, t


def _registry():
    from cs744_big_data_system_spark.workloads import all_workloads

    return all_workloads()


def test_every_mix_query_is_registered_with_an_oracle():
    reg = _registry()
    for wl, mix in MIXES.items():
        for q in mix:
            assert q in reg, (wl, q)
            assert reg[q][1], f"{q} has no oracle"


@pytest.mark.parametrize("seed", range(6))
def test_every_oracle_result_is_non_empty(tmp_path, seed):
    out = str(tmp_path / "g")
    generate(SF001, out, seed)
    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{out}/{t}.parquet'")
    reg = _registry()
    for q in {q for mix in MIXES.values() for q in mix}:
        assert len(con.sql(reg[q][1]).df()) > 0, (seed, q)


def test_workloads_and_predictions_match_benchmark_json():
    assert [w["name"] for w in SPEC["workloads"]] == list(MIXES)
    assert [m["name"] for m in SPEC["per_layer"]] == list(MOVES)


def test_metric_parsing_and_interval_union():
    assert _metric_value("1,234") == 1234
    assert _metric_value("total (min, med, max (stageId: taskId))\n1.5 KiB (0.0 B, 0.0 B, 1.5 KiB (stage 3.0: task 7))") == 1536
    assert _union([(0, 2), (1, 3), (5, 6)]) == 4


def _run(cwd, *args):
    return subprocess.run(
        [sys.executable, "perfbench/run.py", *args], cwd=cwd,
        capture_output=True, text=True, timeout=300,
    )


def test_fails_without_the_program(tmp_path):
    # Only BENCHMARK.json and the benchmark's own files: the import of
    # the package fails, so the run exits nonzero without a result.
    shutil.copytree(HERE, tmp_path / "perfbench", ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    r = _run(tmp_path, "--workload", "curation", "--seed", "1", "--seconds", "1", "--trace", "0")
    assert r.returncode != 0
    assert "metrics" not in r.stdout


def _smoke(workload, trace):
    r = _run(ROOT, "--workload", workload, "--seed", "5", "--seconds", "0",
             "--trace", str(trace), "--base", SF0001)
    assert r.returncode == 0, r.stderr[-3000:]
    return r.stdout, json.loads(r.stdout.strip().splitlines()[-1])


@pytest.mark.parametrize("workload", list(MIXES))
def test_smoke_untraced(workload):
    out, res = _smoke(workload, 0)
    assert res["correct"] and res["failed"] == 0, out
    assert res["attempted"] == (1 + STEADY_PASSES[workload]) * len(MIXES[workload])
    assert list(res["metrics"]) == [m["name"] for m in SPEC["end_to_end"]]
    for m in SPEC["end_to_end"]:
        assert res["metrics"][m["name"]]["unit"] == m["unit"]
        assert res["metrics"][m["name"]]["value"] > 0
    assert sum(line.startswith("check ") for line in out.splitlines()) == len(MIXES[workload])


def test_smoke_traced():
    out, res = _smoke("stateful", 1)
    assert res["correct"], out
    assert list(res["metrics"]) == [m["name"] for m in SPEC["per_layer"]]
    for m in SPEC["per_layer"]:
        assert res["metrics"][m["name"]]["unit"] == m["unit"]
    metrics = {k: v["value"] for k, v in res["metrics"].items()}
    assert metrics["stream.batches"] > 0
    assert metrics["graph.call_s"] > 0 and metrics["ml.call_s"] > 0
    assert metrics["streaming.call_s"] > 0  # stream_cdc_replay's replay_waves_to_batch
    assert metrics["plans.tuning_calls"] > 0  # graph_bfs_hops scopes its loop width
    assert metrics["exec.jobs"] >= metrics["workloads.build_jobs"] > 0
    spans = os.path.join(ROOT, ".perfbench", "spans-stateful-5.json")
    with open(spans) as f:
        dumped = json.load(f)
    assert dumped["spans"] and "workloads.build" in dumped["self_s"]
