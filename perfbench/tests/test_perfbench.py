"""The benchmark's own tests.

    python3 -m pytest perfbench/tests -q

The first tests need no Spark.  The command tests run the benchmark
itself (a Spark session per run, about a minute each).
"""

from __future__ import annotations

import filecmp
import json
import os
import shutil
import subprocess
import sys

import duckdb
import pandas as pd
import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, ROOT)

from perfbench import checks, datagen, run, trace, workloads  # noqa: E402


def _files(d: str) -> list[str]:
    return sorted(os.path.relpath(os.path.join(b, f), d) for b, _, fs in os.walk(d) for f in fs)


def test_same_seed_gives_byte_identical_day_snapshots(tmp_path):
    a = datagen.write_days(str(tmp_path / "a"), 11, 3, sf=0.01)
    b = datagen.write_days(str(tmp_path / "b"), 11, 3, sf=0.01)
    c = datagen.write_days(str(tmp_path / "c"), 12, 3, sf=0.01)
    names = _files(a[0])
    assert names == [f"{t}.parquet" for t in sorted(datagen.TABLES)]
    for x, y, z in zip(a, b, c):
        _, mismatch, errors = filecmp.cmpfiles(x, y, names, shallow=False)
        assert not mismatch and not errors
        _, mismatch, _ = filecmp.cmpfiles(x, z, names, shallow=False)
        assert mismatch  # another seed changes the snapshots


def test_days_churn_orders_and_part_and_share_the_rest(tmp_path):
    days = datagen.write_days(str(tmp_path), 3, 2, sf=0.01)
    for name in datagen.TABLES:
        p0, p1 = (os.path.join(d, f"{name}.parquet") for d in days)
        if name in ("orders", "part"):
            assert not filecmp.cmp(p0, p1, shallow=False)
        else:
            assert os.stat(p0).st_ino == os.stat(p1).st_ino  # a hard link, not a copy


def test_pass_order_is_seeded():
    names = workloads.QUERY_MIX
    assert workloads.pass_order(names, 1, 1) == workloads.pass_order(names, 1, 1)
    assert workloads.pass_order(names, 1, 1) != workloads.pass_order(names, 2, 1)
    assert sorted(workloads.pass_order(names, 1, 1)) == sorted(names)


def test_oracle_check_ignores_row_order_but_not_values():
    con = duckdb.connect()
    sql = "SELECT * FROM (VALUES (1, 'x'), (2, NULL)) t(a, b)"
    same = pd.DataFrame({"b": [None, "x"], "a": [2, 1]})
    other = pd.DataFrame({"a": [1, 3], "b": ["x", None]})
    assert checks.oracle_mismatch(con, "q", same, sql) is None
    assert checks.oracle_mismatch(con, "q", other, sql)


def test_query_rows_are_the_oracle_tables_rows(tmp_path):
    rows = datagen.write_tables(str(tmp_path), 4, sf=0.01)
    sql = "WITH c AS (SELECT * FROM orders) SELECT * FROM c JOIN lineitem ON o_orderkey = l_orderkey"
    assert workloads.source_rows(str(tmp_path), sql) == rows["orders"] + rows["lineitem"]


def test_metrics_are_those_of_the_median_pass():
    class Ops:
        def rows(self, sample):
            return 10

    samples = [{"op": "a", "s": s, "err": None} for s in (1.0, 9.0, 1.0)]
    samples += [{"op": "b", "s": s, "err": None} for s in (4.0, 4.0)]
    samples += [{"op": "b", "s": 0.1, "err": "wrong result"}]
    m = run.e2e_metrics(Ops(), samples, 3.0)
    assert m == pytest.approx({"setup_s": 3.0, "op_geomean_s": 2.0, "ops_per_s": 2 / 5, "rows_per_s": 20 / 5})


def test_benchmark_json_matches_the_metric_tables():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    assert {m["name"]: m["unit"] for m in bench["end_to_end"]} == run.E2E
    assert {m["name"]: m["unit"] for m in bench["per_layer"]} == run.PER_LAYER
    assert [w["name"] for w in bench["workloads"]] == list(workloads.WORKLOADS)


def _run(workload: str, traced: int, cwd: str = ROOT) -> subprocess.CompletedProcess:
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "5",
           "--seconds", "1", "--trace", str(traced)]
    return subprocess.run(cmd, cwd=cwd, capture_output=True, text=True, timeout=600)


def _result(proc) -> dict:
    assert proc.returncode == 0, proc.stderr[-3000:]
    out = json.loads(proc.stdout.strip().splitlines()[-1])
    assert set(out) == {"correct", "attempted", "failed", "metrics"}
    assert out["correct"] and out["failed"] == 0 and out["attempted"] >= 1
    return out


def test_command_prints_every_end_to_end_metric():
    out = _result(_run("daily_ingest", 0))
    assert {k: v["unit"] for k, v in out["metrics"].items()} == run.E2E
    assert all(v["value"] > 0 for v in out["metrics"].values())


# Spans each workload's traced run must contain; together they cover
# every layer call the tracer wraps.
TRACED = {
    "daily_ingest": {name for _, _, name in trace.LAYER_CALLS
                     if name.split(".")[0] in ("store", "journal", "ingest", "api")}
    | {"sources.read_table", "ingest.run"},
    "query_mix": {"sources.read_table", "sources.read_events_stream", "plans.build", "plans.exec",
                  "llm.dedup", "llm.simsearch"},
}


def test_traced_spans_cover_every_layer_call():
    assert set().union(*TRACED.values()) >= {name for _, _, name in trace.LAYER_CALLS}


@pytest.mark.parametrize("workload", sorted(TRACED))
def test_traced_run_emits_a_span_per_layer_call(workload):
    out = _result(_run(workload, 1))
    assert {k: v["unit"] for k, v in out["metrics"].items()} == run.PER_LAYER
    with open(os.path.join(ROOT, ".perfbench", "traces", f"{workload}-seed5.json")) as f:
        spans = json.load(f)["spans"]
    assert TRACED[workload] <= {s["name"] for s in spans}
    assert all({"name", "start", "end", "parent", "run"} <= set(s) for s in spans)


def test_command_fails_without_the_program(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(os.path.join(ROOT, "perfbench"), tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    proc = _run("query_mix", 0, cwd=str(tmp_path))
    assert proc.returncode != 0
    assert '"metrics"' not in proc.stdout
