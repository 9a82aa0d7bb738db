"""Statistical-test operators (SURVEY §2.8 M18, M20-M24).

Reference semantics (studied from /root/reference/enetVAR.R):

- ``nw`` (enetVAR.R:794-806): Newey–West/Bartlett HAC variance,
  Hayashi formulas — NOTE the reference divides the lagged
  autocovariances by (T−1) while Γ₀ uses T; replicated as-is.
- ``CW_test`` (enetVAR.R:775-792): Clark–West MSPE-adjusted statistic
  f̂ = e₁² − (e₂² − (yf₁−yf₂)²); stat = √P·mean(f̂)/√NW(f̂);
  p = P(t_{df=nwlag} > |stat|).
- ``DMtest`` (enetVAR.R:811-843): Diebold–Mariano with its own NW
  variance (denominator T for every lag, weights 1−|j|/(l+1),
  s² = Σγw/T), p = P(N(0,1) > |stat|).
- ``theils_u`` ratios are in the harness (M23).
- Ljung–Box (M24, the reference calls stats::Box.test /
  portes::LjungBox at Main.R:304): Q = T(T+2)·Σ r_k²/(T−k),
  p = P(χ²_{lags−fitdf} > Q).
- ``adf_test`` (M18): R ``tseries::adf.test`` semantics — regression
  Δy_t on (1, t, y_{t−1}, Δy_{t−1..k−1}? no: k lagged Δy), default
  lag k = trunc((n−1)^(1/3)), statistic = t(ρ); p-value by two-way
  interpolation in the published Dickey–Fuller trend-case table
  (Banerjee et al. 1993 Table 4.2 / Fuller 1976), as tseries does.
  Quirk Q1 (enetVAR.R:769: names taken from a GLOBAL, not the
  argument) is fixed: names always come from the input itself.

Batch (per-series) variants run as one ``applyInPandas`` pass
partitioned by series — at 100 TB each series' history is one group;
the tests themselves are O(T) per series.
"""

from __future__ import annotations

import math

import numpy as np

from .dist import chi2_sf, norm_sf, t_sf


def nw(y: np.ndarray, qn: int) -> float:
    """Newey–West HAC variance of a 1-D series (enetVAR.R:794-806).
    Faithful to the reference's mixed denominators (T for Γ₀,
    T−1 for the lagged terms) AND to its qn=1 loop quirk (Q12):
    R's ``for (j in 1:(qn-1))`` with qn=1 iterates ``1:0 = c(1, 0)``
    — j=1 carries Bartlett weight 0, but the j=0 pass adds
    ``2·dy'dy/(T−1)`` on top of Γ₀. Every horizon-1 CW test in the
    reference runs through this branch, so it is replicated here."""
    y = np.asarray(y, dtype=float)
    t = len(y)
    dy = y - y.mean()
    g0 = float(dy @ dy) / t
    if qn == 1:
        return g0 + 2.0 * float(dy @ dy) / (t - 1)
    for j in range(1, qn):
        gamma = float(dy[j:] @ dy[:-j]) / (t - 1)
        g0 += 2.0 * gamma * (1.0 - abs(j / qn))
    return g0


def cw_test(
    e1: np.ndarray, e2: np.ndarray, yf1: np.ndarray, yf2: np.ndarray, nwlag: int
) -> dict[str, float]:
    """Clark–West MSPE-adjusted test (enetVAR.R:775-792).
    e1/yf1: parsimonious benchmark errors/forecasts; e2/yf2: larger
    model. Alternative: larger model has smaller MSPE."""
    e1 = np.asarray(e1, float)
    e2 = np.asarray(e2, float)
    yf1 = np.asarray(yf1, float)
    yf2 = np.asarray(yf2, float)
    P = len(e1)
    froll = e1**2 - (e2**2 - (yf1 - yf2) ** 2)
    var = nw(froll, nwlag)
    stat = math.sqrt(P) * froll.mean() / math.sqrt(var)
    return {"CWStat": stat, "p_value": t_sf(abs(stat), nwlag)}


def dm_test(d: np.ndarray, l: int) -> dict[str, float]:
    """Diebold–Mariano test (enetVAR.R:811-843): d is the loss
    differential (e1² − e2²); its own NW variance with denominator T
    at every lag and weights 1 − |j|/(l+1)."""
    d = np.asarray(d, float)
    t = len(d)
    m = d.mean()
    e = d - m
    s = 0.0
    for j in range(-l, l + 1):
        a = abs(j)
        gamma = float(e[a:] @ e[: t - a]) / t
        s += gamma * (1.0 - a / (l + 1))
    s2 = s / t
    if s2 <= 0:
        # constant loss differential (e.g. a model against itself):
        # the statistic is undefined — NaN, not ZeroDivisionError
        return {"DMStat": float("nan"), "p_value": float("nan")}
    stat = m / math.sqrt(s2)
    return {"DMStat": stat, "p_value": norm_sf(abs(stat))}


def ljung_box(
    resid: np.ndarray, lags: int, fitdf: int = 0
) -> dict[str, float]:
    """Ljung–Box portmanteau Q test (M24): Q = T(T+2)Σ r_k²/(T−k),
    r_k the R-normalization ACF of the residuals."""
    x = np.asarray(resid, float)
    x = x[~np.isnan(x)]
    t = len(x)
    m = x.mean()
    dx = x - m
    denom = float(dx @ dx)
    q = 0.0
    for k in range(1, lags + 1):
        r = float(dx[k:] @ dx[:-k]) / denom
        q += r * r / (t - k)
    q *= t * (t + 2.0)
    df = max(lags - fitdf, 1)
    return {"statistic": q, "p_value": chi2_sf(q, df)}


def hosking_test(
    resid: np.ndarray,
    lags: tuple[int, ...] = (5, 10, 15, 20, 25, 30),
    order: int = 0,
    modified: bool = True,
) -> list[dict[str, float]]:
    """Hosking (1980) multivariate portmanteau on a (T, K) residual
    matrix — the reference's final-model residual diagnostic
    (``portes::Hosking(resids, order=3)``, Main.R:304; the
    ``LjungBox(residuals, lags=seq(6,18,3), order=3)`` variant,
    Testing.R:389-390).

        Q*_m = n² Σ_{j=1..m} (n−j)⁻¹ tr(Ĉ_j' Ĉ₀⁻¹ Ĉ_j Ĉ₀⁻¹),
        Ĉ_j = (1/n) Σ_{t>j} e_t e_{t−j}',   df = K²·(m − order)

    ``modified=False`` swaps the n² factor for the multivariate
    Ljung–Box scaling n(n+2) (portes ``LjungBox``), which reduces to
    the univariate ``ljung_box`` statistic at K=1 on mean-zero
    residuals. One row per requested lag, χ² p-values.
    """
    U = np.asarray(resid, float)
    if U.ndim == 1:
        U = U[:, None]
    U = U[~np.isnan(U).any(axis=1)]
    n, k = U.shape
    c0 = U.T @ U / n
    try:
        c0i = np.linalg.inv(c0)
    except np.linalg.LinAlgError:
        c0i = np.linalg.pinv(c0)
    max_lag = max(lags)
    terms = np.zeros(max_lag + 1)
    for j in range(1, max_lag + 1):
        cj = U[j:].T @ U[:-j] / n
        terms[j] = float(np.trace(cj.T @ c0i @ cj @ c0i)) / (n - j)
    cum = np.cumsum(terms)
    factor = float(n * n) if modified else float(n * (n + 2))
    out = []
    for m in lags:
        df = max(k * k * (m - order), 1)
        stat = factor * float(cum[m])
        out.append(
            {"lag": m, "statistic": stat, "df": df, "p_value": chi2_sf(stat, df)}
        )
    return out


# Dickey–Fuller trend-case ("ct") percentiles — the published table
# tseries::adf.test interpolates (Banerjee, Dolado, Galbraith &
# Hendry 1993, Table 4.2; Fuller 1976). Rows: n = 25,50,100,250,500,∞.
_ADF_TABLE = np.array(
    [
        [-4.38, -3.95, -3.60, -3.24, -1.14, -0.80, -0.50, -0.15],
        [-4.15, -3.80, -3.50, -3.18, -1.19, -0.87, -0.58, -0.24],
        [-4.04, -3.73, -3.45, -3.15, -1.22, -0.90, -0.62, -0.28],
        [-3.99, -3.69, -3.43, -3.13, -1.23, -0.92, -0.64, -0.31],
        [-3.98, -3.68, -3.42, -3.13, -1.24, -0.93, -0.65, -0.32],
        [-3.96, -3.66, -3.41, -3.12, -1.25, -0.94, -0.66, -0.33],
    ]
)
_ADF_NS = np.array([25.0, 50.0, 100.0, 250.0, 500.0, 1e5])
_ADF_PROBS = np.array([0.01, 0.025, 0.05, 0.10, 0.90, 0.95, 0.975, 0.99])


def adf_test(x: np.ndarray, k: int | None = None) -> dict[str, float]:
    """Augmented Dickey–Fuller with constant + trend (tseries
    semantics). Returns statistic, p-value (interpolated, clipped to
    [0.01, 0.99] like tseries' rule=2 extrapolation), and lag k."""
    x = np.asarray(x, float)
    x = x[~np.isnan(x)]
    n = len(x)
    if k is None:
        k = int((n - 1) ** (1.0 / 3.0))
    dy = np.diff(x)
    # rows t = k..n-2 of dy: regress dy[t] on x[t], trend, 1, dy[t-1..t-k]
    T = len(dy) - k
    yl = x[k:-1]
    resp = dy[k:]
    trend = np.arange(k + 1, len(dy) + 1, dtype=float)
    cols = [np.ones(T), trend, yl]
    for i in range(1, k + 1):
        cols.append(dy[k - i : len(dy) - i])
    X = np.column_stack(cols)
    beta, *_ = np.linalg.lstsq(X, resp, rcond=None)
    resid = resp - X @ beta
    dof = T - X.shape[1]
    s2 = float(resid @ resid) / dof
    try:
        xtx_inv = np.linalg.inv(X.T @ X)
    except np.linalg.LinAlgError:  # degenerate design (constant series)
        xtx_inv = np.linalg.pinv(X.T @ X)
    var_rho = s2 * xtx_inv[2, 2]
    if not var_rho > 0:
        return {"statistic": float("nan"), "p_value": float("nan"), "k": k}
    stat = float(beta[2] / math.sqrt(var_rho))
    # two-way interpolation (n, then stat→p), constant extrapolation.
    # tseries::adf.test interpolates the table at n = length(diff(x))
    # (its `n <- length(y)` AFTER `y <- diff(x)`) — one less than the
    # series length; matching it exactly matters for p-values near the
    # stationarity loop's crit threshold.
    n_tab = float(n - 1)
    row = np.array(
        [np.interp(n_tab, _ADF_NS, _ADF_TABLE[:, j]) for j in range(8)]
    )
    p = float(np.interp(stat, row, _ADF_PROBS))
    return {"statistic": stat, "p_value": p, "k": k}


def adf_test_or_nan(x: np.ndarray, k: int | None = None) -> dict[str, float]:
    """``adf_test`` with an undefined test (a degenerate or too-short
    series) reported as NaN statistic and p-value instead of raising —
    the per-series contract of the batch ADF."""
    try:
        return adf_test(x, k=k)
    except Exception:
        return {"statistic": float("nan"), "p_value": float("nan"), "k": k or 0}


# ---------------------------------------------------------------------------
# Spark batch variants
# ---------------------------------------------------------------------------


def adf_table(
    df,
    value_col: str = "value",
    series_col: str = "series_id",
    date_col: str = "obs_date",
    k: int | None = None,
):
    """Per-series ADF in one grouped pass →
    ``(series_id, statistic, p_value, k)``."""
    import pandas as pd
    from pyspark.sql.types import (
        DoubleType,
        IntegerType,
        StringType,
        StructField,
        StructType,
    )

    schema = StructType(
        [
            StructField(series_col, StringType()),
            StructField("statistic", DoubleType()),
            StructField("p_value", DoubleType()),
            StructField("k", IntegerType()),
        ]
    )
    vc, dc, sc, kk = value_col, date_col, series_col, k

    def run(key, pdf):
        x = pdf.sort_values(dc)[vc].to_numpy(dtype=float)
        r = adf_test_or_nan(x, k=kk)
        return pd.DataFrame(
            [{sc: key[0], "statistic": r["statistic"], "p_value": r["p_value"],
              "k": int(r["k"])}]
        )

    return df.groupBy(series_col).applyInPandas(run, schema)


def aug_dick_fuller(
    df,
    crit: float = 0.01,
    value_col: str = "value",
    series_col: str = "series_id",
    date_col: str = "obs_date",
) -> list[str]:
    """Batch ADF returning NON-stationary series names (p > crit),
    reference enetVAR.R:761-772 with quirk Q1 fixed (names from the
    input, not a global)."""
    t = adf_table(df, value_col, series_col, date_col)
    rows = t.collect()
    return sorted(r[series_col] for r in rows if not (r["p_value"] <= crit))


def ljung_box_table(
    df,
    lags: int,
    fitdf: int = 0,
    value_col: str = "value",
    series_col: str = "series_id",
    date_col: str = "obs_date",
):
    """Per-series Ljung–Box in one grouped pass."""
    import pandas as pd
    from pyspark.sql.types import (
        DoubleType,
        StringType,
        StructField,
        StructType,
    )

    schema = StructType(
        [
            StructField(series_col, StringType()),
            StructField("statistic", DoubleType()),
            StructField("p_value", DoubleType()),
        ]
    )
    vc, dc, sc = value_col, date_col, series_col

    def run(key, pdf):
        x = pdf.sort_values(dc)[vc].to_numpy(dtype=float)
        r = ljung_box(x, lags=lags, fitdf=fitdf)
        return pd.DataFrame(
            [{sc: key[0], "statistic": r["statistic"], "p_value": r["p_value"]}]
        )

    return df.groupBy(series_col).applyInPandas(run, schema)
