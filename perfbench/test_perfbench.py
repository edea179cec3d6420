"""The benchmark's own tests: ``python3 -m pytest perfbench -q`` from the
repository root. The smoke runs execute every workload and every output
check at the sf0.001 size."""

from __future__ import annotations

import json
import os
import subprocess
import sys

import numpy as np
import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from perfbench import layers, oracle  # noqa: E402
from perfbench.run import WORKLOADS  # noqa: E402
from perfbench.spatial_ingest_knn import Field  # noqa: E402
from perfbench.tracer import RELEASE_COMMAND, NullTracer, plan_fingerprint  # noqa: E402


def _bench() -> dict:
    with open(os.path.join(REPO, "BENCHMARK.json")) as f:
        return json.load(f)


def test_every_layer_metric_has_its_end_to_end_map():
    bench = _bench()
    assert {w["name"] for w in bench["workloads"]} <= set(WORKLOADS)
    assert {m["name"] for m in bench["per_layer"]} == set(layers.MOVES)


def test_percentile_is_a_smooth_weighted_quantile():
    from perfbench.run import percentile

    assert percentile([0.3], 0.9) == 0.3
    assert percentile([0.25] * 9, 0.5) == pytest.approx(0.25)
    xs = list(range(1, 46))
    assert percentile(xs, 0.5) == pytest.approx(23.0, abs=1e-3)
    assert percentile(xs, 0.5) < percentile(xs, 0.9) < 45
    # two clusters, the upper one a tenth of the samples: the p90 sits
    # between them instead of on either cluster's edge
    two = [1.0] * 40 + [2.0] * 5
    assert 1.0 < percentile(two, 0.9) < 2.0


def test_fingerprint_ignores_ids_and_literals():
    a = ("AdaptiveSparkPlan isFinalPlan=false\n"
         "+- Filter (id#12L < 40)\n"
         "   +- *(1) FileScan parquet [id#12L] PushedFilters: [LessThan(id,40)]")
    b = a.replace("#12L", "#907L").replace("40", "313").replace("*(1) ", "*(3) ")
    c = a.replace("Filter", "Project")
    assert plan_fingerprint(a) == plan_fingerprint(b) != plan_fingerprint(c)


def test_neighbor_pairs_match_brute_force():
    rng = np.random.default_rng(3)
    x, y = rng.uniform(0, 2, 400), rng.uniform(0, 2, 400)
    i, j = oracle.neighbor_pairs(x, y, 0.1)
    d = np.hypot(x[:, None] - x[None, :], y[:, None] - y[None, :])
    bi, bj = np.nonzero(np.triu(d <= 0.1, 1))
    assert sorted(zip(np.minimum(i, j), np.maximum(i, j))) == sorted(zip(bi, bj))


def test_dbscan_oracle_labels_chain_and_noise():
    x = np.array([0.0, 0.1, 0.2, 0.3, 5.0, 9.0])
    y = np.zeros(6)
    ids = np.array([10, 11, 12, 13, 14, 15])
    # cores need 3 rows within 0.15: 11 and 12; 10 and 13 are borders
    assert oracle.dbscan(ids, x, y, 0.15, 3) == {10: 11, 11: 11, 12: 11, 13: 11}


def test_jvm_side_points_match_their_numpy_mirror():
    from datafusion_spatial_spark.session import get_spark

    spark = get_spark(app_name="perfbench-test", shuffle_partitions=4)
    field = Field(seed=9, pass_=2, n=3000)
    rows = sorted(field.frame(spark, 3).select("id", "x", "y").collect())
    assert [r.id for r in rows] == field.ids.tolist()
    # bit-for-bit: the output checks compare coordinates with ==
    assert [r.x for r in rows] == field.x.tolist()
    assert [r.y for r in rows] == field.y.tolist()
    assert set(field.cluster.tolist()) == set(range(-1, 16))
    assert field.x.min() >= -180.0 and field.x.max() <= 180.0
    assert field.y.min() >= -90.0 and field.y.max() <= 90.0


def test_null_tracer_adds_no_py4j_calls():
    from datafusion_spatial_spark.session import get_spark

    spark = get_spark(app_name="perfbench-test", shuffle_partitions=4)
    client = spark.sparkContext._gateway._gateway_client
    send, calls = client.send_command, []

    def counted(command, *args, **kwargs):
        if not command.startswith(RELEASE_COMMAND):
            calls.append(command)
        return send(command, *args, **kwargs)

    df = spark.range(10).selectExpr("id * 2 AS v")
    df.collect()
    client.send_command = counted
    try:
        df.collect()
        bare = len(calls)
        calls.clear()
        tr = NullTracer()
        with tr.op("t"):
            tr.note("k", 1)
            tr.call("plans", lambda: None)
            tr.collect(df)
            tr.explain(df)
        assert len(calls) == bare
    finally:
        client.send_command = send


def _run(workload: str, trace: int, cwd: str = REPO):
    return subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "5",
         "--seconds", "1", "--trace", str(trace), "--size", "smoke"],
        cwd=cwd, capture_output=True, text=True, timeout=600,
    )


@pytest.mark.parametrize("workload", WORKLOADS)
def test_smoke_run_reports_every_end_to_end_metric(workload):
    out = _run(workload, 0)
    assert out.returncode == 0, out.stdout[-2000:] + out.stderr[-2000:]
    result = json.loads(out.stdout.strip().splitlines()[-1])
    assert result["correct"] and result["failed"] == 0 and result["attempted"] >= 1
    want = {m["name"]: m["unit"] for m in _bench()["end_to_end"]}
    assert {k: v["unit"] for k, v in result["metrics"].items()} == want
    assert all(v["value"] > 0 for v in result["metrics"].values())


@pytest.mark.parametrize("workload", ["spatial_sql", "llm_pipeline"])  # interactive and pipeline
def test_smoke_traced_run_reports_every_layer_metric(workload):
    out = _run(workload, 1)
    assert out.returncode == 0, out.stdout[-2000:] + out.stderr[-2000:]
    result = json.loads(out.stdout.strip().splitlines()[-1])
    want = {m["name"]: m["unit"] for m in _bench()["per_layer"]}
    assert {k: v["unit"] for k, v in result["metrics"].items()} == want
    assert result["metrics"]["bench.unattributed_share"]["value"] < 0.1
    assert result["metrics"]["plans.fingerprint_mismatches"]["value"] == 0


def test_fails_without_the_library(tmp_path):
    import shutil

    shutil.copytree(os.path.join(REPO, "perfbench"), tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(REPO, "BENCHMARK.json"), tmp_path)
    out = _run("spatial_sql", 0, cwd=str(tmp_path))
    assert out.returncode != 0
    assert '"correct"' not in out.stdout
