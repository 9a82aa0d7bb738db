"""Tests of the benchmark itself: seeded inputs, failure isolation,
layer wrapping and Python-stage detection.

    python3 -m pytest perfbench/test_perfbench.py -q
"""

from __future__ import annotations

import hashlib
import os
import sys

import numpy as np
import pandas as pd
import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)
os.environ.setdefault("SPARK_GRAFT_CPUS", "2")
os.environ["PYTHONPATH"] = os.pathsep.join(
    p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
)

from perfbench import inputs, trace, workloads  # noqa: E402
from perfbench.run import run_pass  # noqa: E402


@pytest.fixture(scope="module")
def spark():
    from var_elasticnet_bigdata_spark.session import get_spark

    s = get_spark(
        "perfbench-tests",
        shuffle_partitions=2,
        extra_conf={"spark.ui.enabled": "true", "spark.ui.showConsoleProgress": "false"},
    )
    s.sparkContext.setLogLevel("ERROR")
    yield s
    s.stop()


# ---------------------------------------------------------------------------
# seeded inputs
# ---------------------------------------------------------------------------


def _file_digest(path: str) -> str:
    with open(path, "rb") as f:
        return hashlib.sha256(f.read()).hexdigest()


def test_panel_same_seed_identical_other_seed_differs():
    a, b, c = inputs.macro_panel(7), inputs.macro_panel(7), inputs.macro_panel(8)
    for x, y in ((a[0], b[0]), (a[2], b[2])):
        assert x.to_csv().encode() == y.to_csv().encode()
    assert a[1] == b[1]
    assert not a[0]["value"].equals(c[0]["value"]) and a[1] != c[1]


def test_corpus_same_seed_byte_identical(tmp_path):
    for d, seed in (("a", 3), ("b", 3), ("c", 4)):
        inputs.write_corpus(seed, str(tmp_path / d), n_docs=300, n_vecs=100)
    for t in ("documents.parquet", "embeddings.parquet"):
        same = [_file_digest(str(tmp_path / d / t)) for d in ("a", "b")]
        assert same[0] == same[1]
        assert same[0] != _file_digest(str(tmp_path / "c" / t))


def test_panel_shape():
    long, currency, gdp = inputs.macro_panel(11)
    assert long["series_id"].nunique() == inputs.N_SERIES
    assert long["obs_date"].nunique() == inputs.N_MONTHS
    assert len(currency) == inputs.N_CURRENCY
    assert len(gdp) == inputs.N_QUARTERS and (gdp["gdp"] > 0).all()
    positive = long[long["series_id"].isin(currency)].dropna()["value"]
    assert (positive > 0).all()
    leads = long[long["value"].isna()].groupby("series_id").size()
    assert len(leads) == inputs.N_RAGGED and leads.nunique() == inputs.N_RAGGED


def test_panel_drives_stationarity_loop(spark):
    """The loop takes the log-diff branch, at least one extra diff round,
    and the wide frame's na.omit drops the ragged leading quarters."""
    from var_elasticnet_bigdata_spark.operators.stationarity import (
        stationarity_pipeline,
    )

    long, currency, _ = inputs.macro_panel(5)
    res = stationarity_pipeline(spark.createDataFrame(long), set(currency))
    logd = [s for s, t in res.transforms.items() if t[0].startswith("logdiff")]
    extra = [s for s, t in res.transforms.items() if t[-1] == "diff"]
    assert res.rounds >= 2
    assert len(logd) >= 20 and set(logd) <= set(currency)
    assert len(extra) >= 4
    assert res.still_non_stationary == []
    wide = res.data.toPandas().pivot(index="obs_date", columns="series_id",
                                     values="value")
    complete = wide.dropna()
    assert len(complete) < len(wide) - 12  # the ragged starts cost quarters
    first_valid = wide.apply(pd.Series.first_valid_index)
    assert first_valid.nunique() > 2  # leading runs of differing lengths


# ---------------------------------------------------------------------------
# output hash
# ---------------------------------------------------------------------------


def test_frame_digest_ignores_order_and_width():
    a = pd.DataFrame({"x": [1, 2], "y": [0.5, float("nan")]})
    b = pd.DataFrame({"y": [np.nan, 0.5], "x": np.array([2, 1], dtype=np.int32)})
    assert workloads.frame_digest(a) == workloads.frame_digest(b)
    c = pd.DataFrame({"x": [1, 3], "y": [0.5, float("nan")]})
    assert workloads.frame_digest(a) != workloads.frame_digest(c)


# ---------------------------------------------------------------------------
# failure isolation
# ---------------------------------------------------------------------------


def test_failing_operation_is_recorded_and_the_pass_goes_on(spark):
    from var_elasticnet_bigdata_spark.ml.gram import compute_moments

    df = spark.range(100).selectExpr("CAST(id AS DOUBLE) AS a", "CAST(id % 7 AS DOUBLE) AS b")
    ops = [
        workloads.Op("count", lambda: df.count()),
        workloads.Op("bad_sql", lambda: spark.sql("SELECT no_such_col FROM range(3)").collect()),
        workloads.Op("moments", lambda: compute_moments(df, ["a", "b"])),
        workloads.Op("count_again", lambda: df.count()),
    ]
    wl = workloads.Workload("t", ops)
    results, first_ok = [], {}
    run_pass(wl, results, first_ok)
    assert [r["op"] for r in results] == ["count", "bad_sql", "moments", "count_again"]
    assert [r["error"] for r in results] == [None, "AnalysisException", None, None]
    assert first_ok["count_again"] == 100
    assert first_ok["moments"].n == 100


# ---------------------------------------------------------------------------
# layer wrapping
# ---------------------------------------------------------------------------


def test_wrapping_catches_by_name_imports_without_spark():
    """``ml.local`` imports ``enet_path`` by name: one span per equation."""
    from var_elasticnet_bigdata_spark.ml import elastic_net, local

    y = np.random.default_rng(0).normal(size=(60, 3))
    original = local.enet_path
    tracer = trace.Tracer()
    with trace.LayerPatch(tracer, ["ml.solve"]):
        assert local.enet_path is elastic_net.enet_path is not original
        local.LocalEnetVAR(y, ["a", "b", "c"], p=1, lam=0.1)
        fixed = [s.name for s in tracer.spans]
        tracer.reset()
        local.LocalEnetVAR(y, ["a", "b", "c"], p=1)  # CV: one joint call
        cv = [s.name for s in tracer.spans]
    assert fixed == ["ml.solve:enet_path"] * 3
    assert cv == ["ml.solve:multi_cv_enet"]
    assert local.enet_path is original


def test_wrapping_counts_spans_of_a_spark_fit(spark):
    """``var_model`` imports ``compute_moments`` by name; the CV fit
    makes exactly one moments pass and one joint solve, which sums the
    fold moments again through a call-time import."""
    from var_elasticnet_bigdata_spark.ml import gram, var_model

    rng = np.random.default_rng(1)
    pdf = pd.DataFrame(rng.normal(size=(40, 2)), columns=["a", "b"])
    pdf.insert(0, "obs_date", pd.date_range("2000-01-01", periods=40, freq="QS").date)
    wide = spark.createDataFrame(pdf)
    original = var_model.compute_moments
    tracer = trace.Tracer()
    with trace.LayerPatch(tracer, ["ml.gram", "ml.solve"]):
        assert var_model.compute_moments is gram.compute_moments is not original
        var_model.fit_enet_var(wide, ["a", "b"], p=1)
    names = [s.name for s in tracer.spans]
    assert names == [
        "ml.gram:blocked_fold_column",
        "ml.gram:compute_moments",
        "ml.gram:moments_total",
        "ml.solve:multi_cv_enet",
        "ml.gram:moments_total",
    ]
    assert [s.parent for s in tracer.spans] == [None, None, None, None, 3]
    assert all(s.end >= s.start for s in tracer.spans)
    assert var_model.compute_moments is gram.compute_moments is original


def test_self_time_subtracts_children():
    spans = [
        trace.Span("outer", "operators.text", 0.0, 10.0),
        trace.Span("inner", "plans.spread", 2.0, 5.0, parent=0),
        trace.Span("inner2", "plans.spread", 4.0, 6.0, parent=0),
    ]
    assert trace.self_times(spans) == [6.0, 3.0, 2.0]


# ---------------------------------------------------------------------------
# Python-stage detection
# ---------------------------------------------------------------------------


def test_python_tasks_counted_from_evaluator_nodes(spark):
    import time

    status = trace.SparkStatus(spark)
    df = spark.range(0, 300, 1, 3).selectExpr("CAST(id AS DOUBLE) AS v")
    t0 = time.time()
    df.mapInPandas(lambda it: it, "v double").collect()
    t1 = time.time()
    df.selectExpr("sum(v)").collect()
    t2 = time.time()
    snap = status.snapshot()
    py = trace.window_counters(snap, [(t0, t1)], cores=2)
    jvm = trace.window_counters(snap, [(t1, t2)], cores=2)
    assert py["spark.python_tasks"] == 3
    assert jvm["spark.python_tasks"] == 0
    assert jvm["spark.jobs"] >= 1 and jvm["spark.tasks"] >= 1


def test_python_stage_parse_on_recorded_execution():
    snap = trace.StatusSnapshot(
        jobs=[],
        stages=[{"stageId": 4, "attemptId": 0, "numTasks": 8, "_t0": 1.0}],
        executions=[{
            "_t0": 1.0,
            "nodes": [
                {"nodeName": "FlatMapCoGroupsInPandas", "metrics": [
                    {"name": "time to run Python workers",
                     "value": "total (min, med, max (stageId: taskId))\n"
                              "1.2 s (1 ms, 2 ms, 30 ms (stage 4.0: task 17))"}]},
                {"nodeName": "ArrowEvalPython", "metrics": [
                    {"name": "number of output rows", "value": "12"}]},
                {"nodeName": "Project", "metrics": [
                    {"name": "x", "value": "(stage 9.0: task 1)"}]},
            ],
        }],
    )
    stages, single = trace.python_stage_tasks(snap, 0.0, 2.0)
    assert stages == {4} and single == 1


# ---------------------------------------------------------------------------
# BENCHMARK.json agrees with what the runner prints
# ---------------------------------------------------------------------------


def test_benchmark_json_lists_every_printed_metric():
    import json

    from perfbench.run import END_TO_END_UNITS

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    snap = trace.StatusSnapshot(jobs=[], stages=[], executions=[])
    layers = trace.layer_metrics([], snap, (0.0, 1.0), cores=4)
    for extra in ("jvm.rss_peak_mb", "jvm.live_heap_mb", "trace.pass_s", "trace.overhead_s"):
        layers[extra] = 0.0
    assert {m["name"]: m["unit"] for m in bench["per_layer"]} == {
        k: trace.unit_of(k) for k in layers
    }
    assert {m["name"]: m["unit"] for m in bench["end_to_end"]} == END_TO_END_UNITS
    assert [w["name"] for w in bench["workloads"]] == list(workloads.WORKLOADS)
