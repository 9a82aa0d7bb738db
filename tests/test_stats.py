"""Distribution CDFs vs pinned reference values (R/scipy) and the
statistical-test operators' behavioral oracles."""

from __future__ import annotations

import math

import numpy as np
import pytest

from var_elasticnet_bigdata_spark.functions.dist import (
    chi2_cdf,
    chi2_sf,
    norm_cdf,
    norm_sf,
    t_cdf,
    t_sf,
)
from var_elasticnet_bigdata_spark.functions.stats import (
    adf_table,
    adf_test,
    aug_dick_fuller,
    cw_test,
    dm_test,
    ljung_box,
    ljung_box_table,
    nw,
)


def test_norm_cdf_pinned():
    assert norm_cdf(0.0) == pytest.approx(0.5)
    assert norm_cdf(1.959963985) == pytest.approx(0.975, abs=1e-9)
    assert norm_sf(1.644853627) == pytest.approx(0.05, abs=1e-9)
    assert norm_cdf(-3.0) == pytest.approx(0.001349898, abs=1e-9)


def test_t_cdf_pinned():
    # quantiles from R qt()
    assert t_cdf(2.015048373, 5) == pytest.approx(0.95, abs=1e-8)
    assert t_cdf(1.812461123, 10) == pytest.approx(0.95, abs=1e-8)
    assert t_cdf(-2.570581836, 5) == pytest.approx(0.025, abs=1e-8)
    assert t_cdf(0.0, 7) == pytest.approx(0.5)
    assert t_sf(12.70620474, 1) == pytest.approx(0.025, abs=1e-8)


def test_chi2_cdf_pinned():
    # quantiles from R qchisq()
    assert chi2_cdf(3.841458821, 1) == pytest.approx(0.95, abs=1e-8)
    assert chi2_cdf(11.07049769, 5) == pytest.approx(0.95, abs=1e-8)
    assert chi2_cdf(23.20925116, 10) == pytest.approx(0.99, abs=1e-8)
    assert chi2_sf(0.0, 3) == pytest.approx(1.0)


def test_nw_white_noise_approx_variance():
    rng = np.random.default_rng(0)
    y = rng.normal(size=20_000)
    assert nw(y, 4) == pytest.approx(1.0, abs=0.05)


def test_nw_faithful_denominators():
    # transcription check against the reference formula with its
    # mixed T / (T−1) denominators (enetVAR.R:798-803)
    y = np.array([1.0, 3.0, 2.0, 5.0, 4.0])
    t = 5
    dy = y - y.mean()
    qn = 3
    want = dy @ dy / t
    for j in (1, 2):
        g = (dy[j:] @ dy[:-j]) / (t - 1)
        want += 2 * g * (1 - j / qn)
    assert nw(y, qn) == pytest.approx(want)


def test_cw_test_behavior():
    rng = np.random.default_rng(1)
    P = 120
    truth = rng.normal(size=P)
    # model 2 strictly better (nested-model alternative)
    e1 = truth + rng.normal(scale=1.0, size=P)
    e2 = truth * 0.1 + rng.normal(scale=0.3, size=P)
    yf1 = -e1
    yf2 = -e2
    r = cw_test(e1, e2, yf1, yf2, nwlag=4)
    assert r["CWStat"] > 2.0
    assert r["p_value"] < 0.05
    assert 0.0 <= r["p_value"] <= 1.0


def test_dm_test_behavior():
    rng = np.random.default_rng(2)
    P = 150
    e1 = rng.normal(scale=2.0, size=P)
    e2 = rng.normal(scale=1.0, size=P)
    d = e1**2 - e2**2
    r = dm_test(d, l=4)
    assert r["DMStat"] > 1.5
    assert r["p_value"] < 0.1
    same = dm_test(rng.normal(size=P), l=4)
    assert same["p_value"] > 0.01


def test_ljung_box_behavior():
    rng = np.random.default_rng(3)
    white = rng.normal(size=400)
    ar = np.zeros(400)
    for t in range(1, 400):
        ar[t] = 0.7 * ar[t - 1] + rng.normal(scale=0.3)
    assert ljung_box(white, 10)["p_value"] > 0.01
    assert ljung_box(ar, 10)["p_value"] < 1e-6
    # fitdf reduces the χ² dof
    q1 = ljung_box(ar, 10, fitdf=0)
    q2 = ljung_box(ar, 10, fitdf=2)
    assert q1["statistic"] == pytest.approx(q2["statistic"])
    assert q2["p_value"] <= q1["p_value"] + 1e-12


def test_hosking_matches_bruteforce():
    """Q*_m = n² Σ (n−j)⁻¹ tr(C_j'C₀⁻¹C_jC₀⁻¹) — literal double-loop
    replication of the Hosking (1980) formula."""
    from var_elasticnet_bigdata_spark.functions.stats import hosking_test

    rng = np.random.default_rng(7)
    n, k = 120, 3
    U = rng.normal(size=(n, k))
    rows = hosking_test(U, lags=(4, 8), order=1)
    c0 = sum(np.outer(U[t], U[t]) for t in range(n)) / n
    c0i = np.linalg.inv(c0)
    for row, m in zip(rows, (4, 8)):
        q = 0.0
        for j in range(1, m + 1):
            cj = sum(np.outer(U[t], U[t - j]) for t in range(j, n)) / n
            q += np.trace(cj.T @ c0i @ cj @ c0i) / (n - j)
        q *= n * n
        assert row["statistic"] == pytest.approx(q, rel=1e-12)
        assert row["df"] == k * k * (m - 1)
        assert 0.0 <= row["p_value"] <= 1.0


def test_hosking_univariate_reduction_and_detection():
    """At K=1 the modified=False (Ljung–Box scaling) variant equals
    the univariate ljung_box on mean-zero data; white noise passes,
    AR(1) residual correlation is detected."""
    from var_elasticnet_bigdata_spark.functions.stats import hosking_test

    rng = np.random.default_rng(11)
    x = rng.normal(size=300)
    x -= x.mean()
    uni = ljung_box(x, 6)
    multi = hosking_test(x, lags=(6,), order=0, modified=False)[0]
    assert multi["statistic"] == pytest.approx(uni["statistic"], rel=1e-9)
    assert multi["p_value"] == pytest.approx(uni["p_value"], rel=1e-6, abs=1e-9)

    white = rng.normal(size=(300, 2))
    ar = np.zeros((300, 2))
    for t in range(1, 300):
        ar[t] = 0.7 * ar[t - 1] + rng.normal(scale=0.3, size=2)
    assert hosking_test(white, lags=(10,))[0]["p_value"] > 0.01
    assert hosking_test(ar, lags=(10,))[0]["p_value"] < 1e-8


def test_adf_stationary_vs_random_walk():
    rng = np.random.default_rng(4)
    T = 300
    stat_series = np.zeros(T)
    for t in range(1, T):
        stat_series[t] = 0.4 * stat_series[t - 1] + rng.normal()
    walk = rng.normal(size=T).cumsum()
    r_stat = adf_test(stat_series)
    r_walk = adf_test(walk)
    assert r_stat["p_value"] <= 0.05
    assert r_walk["p_value"] > 0.10
    assert r_stat["k"] == int((T - 1) ** (1 / 3))
    # tseries clips to the table range
    assert 0.01 <= r_stat["p_value"] <= 0.99


def test_adf_batch_and_q1_fix(spark):
    import datetime as dt

    import pandas as pd

    rng = np.random.default_rng(5)
    T = 250
    frames = []
    for sid, series in [
        ("stat1", rng.normal(size=T)),
        ("walk1", rng.normal(size=T).cumsum()),
        ("walk2", (rng.normal(size=T) + 0.01).cumsum()),
    ]:
        frames.append(
            pd.DataFrame(
                {
                    "series_id": sid,
                    "obs_date": [
                        dt.date(2000, 1, 1) + dt.timedelta(days=i) for i in range(T)
                    ],
                    "value": series,
                }
            )
        )
    df = spark.createDataFrame(pd.concat(frames))
    tab = adf_table(df).toPandas().set_index("series_id")
    assert tab.loc["stat1", "p_value"] <= 0.05
    assert tab.loc["walk1", "p_value"] > 0.05
    non_stat = aug_dick_fuller(df, crit=0.05)
    # Q1 fixed: names come from the data itself
    assert "walk1" in non_stat and "walk2" in non_stat
    assert "stat1" not in non_stat


def test_grouped_tests_raise_no_type_hint_warning(spark):
    """The grouped-map functions carry no partial type hints, so PySpark
    does not warn that it cannot infer their eval type."""
    import datetime as dt
    import warnings

    df = spark.createDataFrame(
        [("a", dt.date(2000, 1, 1) + dt.timedelta(days=i), float(i % 7))
         for i in range(40)],
        "series_id string, obs_date date, value double",
    )
    with warnings.catch_warnings(record=True) as caught:
        warnings.simplefilter("always")
        adf_table(df)
        ljung_box_table(df, lags=4)
    assert not [w for w in caught if issubclass(w.category, UserWarning)]


def test_nw_q12_qn1_loop_quirk():
    """Q12: R's ``for (j in 1:(qn-1))`` with qn=1 iterates 1:0 =
    c(1, 0) — j=1 gets Bartlett weight 0, but j=0 adds
    2*dy'dy/(T-1) on top of gamma0 (enetVAR.R:801-803)."""
    import numpy as np

    from var_elasticnet_bigdata_spark.functions.stats import nw

    rng = np.random.default_rng(0)
    y = rng.normal(size=50)
    dy = y - y.mean()
    g0 = float(dy @ dy) / 50
    assert nw(y, 1) == pytest.approx(g0 + 2.0 * float(dy @ dy) / 49)
    # qn>=2 keeps the plain Bartlett form
    gam1 = float(dy[1:] @ dy[:-1]) / 49
    assert nw(y, 2) == pytest.approx(g0 + 2.0 * gam1 * 0.5)


def test_dm_test_constant_differential_is_nan():
    import math

    import numpy as np

    from var_elasticnet_bigdata_spark.functions.stats import dm_test

    out = dm_test(np.zeros(30), 2)
    assert math.isnan(out["DMStat"]) and math.isnan(out["p_value"])
