"""M15-M17 selection operators and the M19 stationarity fixpoint."""

from __future__ import annotations

import datetime as dt
import hashlib
import json
import uuid
from pathlib import Path

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from var_elasticnet_bigdata_spark.ml.selection import (
    acf_var_selection,
    acf_var_selection2,
    pacf_var_selection,
)
from var_elasticnet_bigdata_spark.operators.stationarity import (
    StationarityResult,
    make_quarterly_diffs,
    stationarity_pipeline,
    unscale,
)


def long_frame(spark, arrs: dict[str, np.ndarray], freq_days=30):
    rows = []
    for sid, v in arrs.items():
        for i, x in enumerate(v):
            rows.append(
                (sid, dt.date(1990, 1, 1) + dt.timedelta(days=freq_days * i),
                 float(x) if not np.isnan(x) else None)
            )
    return spark.createDataFrame(rows, "series_id string, obs_date date, value double")


@pytest.fixture(scope="module")
def sel_frame(spark):
    rng = np.random.default_rng(0)
    T = 160
    target = np.zeros(T)
    lead1 = rng.normal(size=T).cumsum() * 0.2
    for t in range(2, T):
        target[t] = 0.3 * target[t - 1] + 0.6 * lead1[t - 1] + rng.normal(scale=0.2)
    lead_copy = lead1 + rng.normal(scale=0.05, size=T)  # near-duplicate profile
    noise = {f"n{i}": rng.normal(size=T) for i in range(3)}
    return long_frame(
        spark, {"GDP": target, "lead1": lead1, "leadcopy": lead_copy, **noise}
    )


def test_acf_selection_ranks_leading_indicator(spark, sel_frame):
    sel = acf_var_selection(sel_frame, "GDP", lag=4, maxnrvar=3)
    assert sel[0] == "GDP"
    assert "lead1" in sel or "leadcopy" in sel
    # noise series rank below the correlated ones
    assert sel[1] not in ("n0", "n1", "n2")


def test_acf_selection_q10_faithful_drops_top(spark, sel_frame):
    fixed = acf_var_selection(sel_frame, "GDP", lag=4, maxnrvar=3)
    faithful = acf_var_selection(
        sel_frame, "GDP", lag=4, maxnrvar=3, faithful_q10=True
    )
    # GDP autocorrelates with itself → it IS in the top-3, triggering
    # the quirk: faithful drops the top-ranked element instead of GDP
    assert fixed[0] == faithful[0] == "GDP"
    assert "GDP" not in fixed[1:]
    assert len(faithful) <= len(fixed) + 1


def test_acf_selection2_diversity(spark, sel_frame):
    sel = acf_var_selection2(sel_frame, "GDP", lag=4, maxnrvar=4)
    assert sel[0] == "GDP"
    assert len(sel) == len(set(sel))
    # diversity: lead1 and its near-copy should not BOTH be picked
    assert not ({"lead1", "leadcopy"} <= set(sel[1:2]))


def test_pacf_selection_runs(spark, sel_frame):
    sel = pacf_var_selection(sel_frame, "GDP", lag=4, maxnrvar=3)
    assert sel[0] == "GDP"
    assert len(sel) >= 2
    assert len(sel) == len(set(sel))


def test_pacf_blocked_faithful_mode(spark):
    """faithful_blocked replicates the reference's 4-series-block
    multivariate pacf (enetVAR.R:710-724): target-first selection,
    deterministic, and the reference's NCOL %% 4 restriction raises."""
    rng = np.random.default_rng(6)
    T = 150
    arrs = {"GDP": rng.normal(size=T)}
    for i in range(10):  # K=11 ≡ 3 (mod 4) — valid for the blocked scheme
        arrs[f"s{i}"] = rng.normal(size=T)
    frame9 = long_frame(spark, arrs)
    sel = pacf_var_selection(
        frame9, "GDP", lag=4, maxnrvar=4, faithful_blocked=True
    )
    assert sel[0] == "GDP"
    assert len(sel) == len(set(sel))
    assert 2 <= len(sel) <= 5
    # same call is deterministic
    assert sel == pacf_var_selection(
        frame9, "GDP", lag=4, maxnrvar=4, faithful_blocked=True
    )
    # block composition matters: a different column_order may change
    # the partials — the call must at least honor the order contract
    with pytest.raises(ValueError):
        pacf_var_selection(
            frame9, "GDP", lag=4, maxnrvar=4, faithful_blocked=True,
            column_order=["s0", "GDP", *[f"s{i}" for i in range(1, 10)]],
        )


def test_pacf_blocked_ncol_restriction(spark, sel_frame):
    # sel_frame has K=6 ≡ 2 (mod 4): the reference's ind=(i+1)*4-1
    # fallback indexes past the frame — we raise where R would error
    with pytest.raises(IndexError):
        pacf_var_selection(
            sel_frame, "GDP", lag=4, maxnrvar=3, faithful_blocked=True
        )


def test_multivariate_pacf_univariate_reduction_and_var1():
    from var_elasticnet_bigdata_spark.operators.acf import (
        multivariate_pacf,
        pacf_from_acf,
    )

    rng = np.random.default_rng(5)
    x = np.zeros(400)
    for t in range(1, 400):
        x[t] = 0.6 * x[t - 1] + rng.normal()
    xc = x - x.mean()
    r = np.array([(xc[k:] @ xc[: 400 - k]) / (xc @ xc) for k in range(1, 7)])
    uni = pacf_from_acf(r)
    multi = multivariate_pacf(x[:, None], 6)[:, 0, 0]
    assert np.allclose(uni, multi, atol=1e-12)
    # VAR(1): partial matrices at lag ≥ 2 vanish
    A = np.array([[0.5, 0.2, 0.0], [0.0, 0.4, 0.1], [0.1, 0.0, 0.3]])
    Y = np.zeros((3000, 3))
    for t in range(1, 3000):
        Y[t] = Y[t - 1] @ A.T + rng.normal(size=3)
    P = multivariate_pacf(Y, 4)
    assert np.linalg.norm(P[0]) > 0.5
    assert all(np.linalg.norm(P[k]) < 0.12 for k in (1, 2, 3))


def _simulate_monthly(spark):
    rng = np.random.default_rng(1)
    T = 480  # 40 years monthly
    stat = rng.normal(size=T).cumsum()  # diff-stationary
    trend_growth = 100 * np.exp(
        np.cumsum(rng.normal(loc=0.02, scale=0.004, size=T))
    )  # currency-ish: positive, log-diff-stationary
    # diff non-stationary, I(2)-ish: cumsum of a random walk
    i2 = np.cumsum(rng.normal(size=T).cumsum()) * 0.01
    return long_frame(
        spark,
        {"stat": stat, "curr": trend_growth, "dd": i2},
        freq_days=30,
    )


def test_stationarity_pipeline_branches(spark):
    monthly = _simulate_monthly(spark)
    res = stationarity_pipeline(monthly, currency_series={"curr"}, crit=0.05)
    assert isinstance(res, StationarityResult)
    assert res.still_non_stationary == []
    assert res.transforms["stat"] == ["diff_quarterly_sum"]
    # the currency series went through the log-diff branch iff it was
    # flagged non-stationary in some round; the I(2) series must have
    # at least one extra diff
    assert res.transforms["dd"][0] == "diff_quarterly_sum"
    if len(res.transforms["dd"]) > 1:
        assert set(res.transforms["dd"][1:]) == {"diff"}
    # result is a quarterly frame
    dates = [r["obs_date"] for r in res.data.select("obs_date").distinct().collect()]
    assert all(d.month in (1, 4, 7, 10) for d in dates)


# The fixpoint's parity fixture: recorded from the earlier driver-loop
# implementation (one batch-ADF job per round over a growing union
# lineage) by running this file as a script, and asserted exactly.
PARITY_FIXTURE = Path(__file__).with_name("stationarity_parity.json")
PARITY_CURRENCY = ("cur0", "cur1", "cur_i2", "cur_neg", "cur_rag")
PARITY_SETTINGS = {
    "main_r": {},
    "testing_r": dict(
        adf_k=7, crit=0.05, flag_ge=True, consume_currency=False,
        currency_fallback_diff=False,
    ),
    "max_rounds_1": dict(max_rounds=1),
    "flag_every_series": dict(crit=-1.0),  # no p-value is <= -1
}


def parity_panel() -> pd.DataFrame:
    """20 years of monthly levels whose fixpoint takes every branch:
    plain diff (rw*), log-diff (cur0/cur1), log-diff then extra diffs
    (cur_i2), extra diff rounds (lvl_i2, rw0/rw1), ragged NULL starts
    (rag0, and the log-diffed currency series cur_rag), and a currency
    series with a non-positive level (cur_neg)."""
    rng = np.random.default_rng(2024)
    n = 240
    cols = {}
    for i in range(3):
        cols[f"rw{i}"] = np.cumsum(rng.normal(0.0, 1.0, n))
    for i in range(2):
        cols[f"cur{i}"] = 50.0 * np.exp(np.cumsum(0.012 + rng.normal(0.0, 0.004, n)))
    rate = 0.004 + np.cumsum(rng.normal(0.0, 0.0008, n))
    cols["cur_i2"] = 80.0 * np.exp(np.cumsum(rate + rng.normal(0.0, 0.002, n)))
    neg = np.cumsum(np.cumsum(rng.normal(0.0, 0.05, n)))
    neg[n // 2] = -abs(neg[n // 2]) - 1.0
    cols["cur_neg"] = neg
    cols["lvl_i2"] = np.cumsum(np.cumsum(rng.normal(0.0, 0.05, n)))
    cols["rag0"] = np.cumsum(rng.normal(0.0, 1.0, n))
    cols["rag0"][:14] = np.nan
    cols["cur_rag"] = 30.0 * np.exp(np.cumsum(0.012 + rng.normal(0.0, 0.003, n)))
    cols["cur_rag"][:31] = np.nan
    wide = pd.DataFrame(cols)
    wide["obs_date"] = [dt.date(1990 + m // 12, 1 + m % 12, 1) for m in range(n)]
    long = wide.melt(id_vars="obs_date", var_name="series_id", value_name="value")
    return long[["series_id", "obs_date", "value"]]


def parity_record(res: StationarityResult) -> dict:
    """Everything the fixpoint returns; ``data`` as an order-insensitive
    digest that tells NULL from NaN and compares floats bit for bit."""
    rows = sorted(
        (r["series_id"], r["obs_date"].isoformat(),
         None if r["value"] is None else float(r["value"]).hex())
        for r in res.data.collect()
    )
    return {
        "transforms": {s: "+".join(t) for s, t in sorted(res.transforms.items())},
        "rounds": res.rounds,
        "still_non_stationary": res.still_non_stationary,
        "rows": len(rows),
        "data_sha256": hashlib.sha256(json.dumps(rows).encode()).hexdigest(),
    }


@pytest.fixture(scope="module")
def parity_monthly(spark):
    return spark.createDataFrame(parity_panel())


@pytest.mark.parametrize("setting", sorted(PARITY_SETTINGS))
def test_stationarity_matches_recorded_fixpoint(spark, parity_monthly, setting):
    expected = json.loads(PARITY_FIXTURE.read_text())[setting]
    res = stationarity_pipeline(
        parity_monthly, set(PARITY_CURRENCY), **PARITY_SETTINGS[setting]
    )
    assert parity_record(res) == expected


def _jobs_run_by(spark, fn):
    """``fn()``'s result and the number of Spark jobs it ran."""
    sc = spark.sparkContext
    group = f"jobs-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "job count")
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


@pytest.mark.parametrize("setting", ["main_r", "flag_every_series"])
def test_stationarity_job_count_independent_of_rounds(spark, parity_monthly, setting):
    """The whole fixpoint is one grouped pass: a fixed handful of jobs
    whether it takes 3 rounds or 8."""
    res, jobs = _jobs_run_by(spark, lambda: stationarity_pipeline(
        parity_monthly, set(PARITY_CURRENCY), **PARITY_SETTINGS[setting]
    ))
    assert res.rounds >= 3
    assert jobs <= 6, f"{jobs} Spark jobs for {res.rounds} rounds"


def test_make_quarterly_diffs_drops_first_quarter(spark):
    monthly = _simulate_monthly(spark)
    q = make_quarterly_diffs(monthly)
    first = q.agg(F.min("obs_date")).collect()[0][0]
    # first quarter of the sample (1990Q1) was dropped
    assert first > dt.date(1990, 1, 1)


def test_unscale_inverts_standardization(spark):
    pdf = pd.DataFrame({"a": [1.0, 2.0, 3.0], "b": [10.0, 20.0, 30.0]})
    centers = {"a": pdf.a.mean(), "b": pdf.b.mean()}
    scales = {"a": pdf.a.std(), "b": pdf.b.std()}
    scaled = (pdf - pd.Series(centers)) / pd.Series(scales)
    sdf = spark.createDataFrame(scaled)
    back = unscale(sdf, centers, scales).toPandas()
    assert back.to_numpy() == pytest.approx(pdf.to_numpy())


if __name__ == "__main__":
    # re-record the parity fixture with the installed implementation
    from var_elasticnet_bigdata_spark.session import get_spark

    session = get_spark("tests", shuffle_partitions=8)
    monthly = session.createDataFrame(parity_panel())
    PARITY_FIXTURE.write_text(json.dumps({
        name: parity_record(
            stationarity_pipeline(monthly, set(PARITY_CURRENCY), **kw)
        )
        for name, kw in sorted(PARITY_SETTINGS.items())
    }, indent=1) + "\n")
    session.stop()
