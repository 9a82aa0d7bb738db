"""Multi-equation elastic-net VAR (SURVEY §2.8 M1-M6, M10-M12, M26-M27).

Reference behavior replicated (studied, not copied, from
/root/reference/enetVAR.R):

- ``enetVAR`` (enetVAR.R:52-76): K independent gaussian elastic nets
  over ONE shared lag design; per-equation or scalar α/λ.
- fixed-λ path ``seq(2λ, λ/2, length 10)`` (enetVAR.R:24) vs blocked
  10-row CV folds shared across equations (enetVAR.R:27-35).
- ``coef`` (enetVAR.R:89-114): B matrix rows = design names (the
  intercept row carries the fit's own intercept), cols = equations.
- ``predict`` (enetVAR.R:128-154): recursive h-step — Z_ahead is the
  last p observation rows newest-first, flattened series-major, so it
  matches the ``<var>.l<i>`` column order; forecasts are appended and
  re-used for the next step.
- ``residuals`` (enetVAR.R:165-174): U = Y − Z·B.
- ``infCrit`` (enetVAR.R:177-202): FPE/AIC/HQ/SC with the
  Tibshirani–Taylor elastic-net dof on the support,
  ``λ = mean(per-equation λ.min)``, det(Σ̂)<0 ⇒ det:=1000.
  The reference materializes ``X = Z ⊗ I_K`` (a (T·K)×(k·K) blow-up);
  we use the algebraically-equal per-equation decomposition
  (SURVEY §4.3) — X'X is block-diagonal per equation after
  permutation, so dof = Σ_j tr(Z_Aj (Z_Aj'Z_Aj + λ(1−α)/2 I)⁻¹ Z_Aj').
- ``enetVARselect`` (enetVAR.R:204-232): lag search with early stop.
  ⚠ Quirk Q9 (NEW, beyond SURVEY §2.9): the reference's ``tic``
  matrix is built from ``unlist`` of a 5-row list-matrix (FPE, AIC,
  HQ, SC, **dof**) truncated into 4×iter — from iteration 2 on, the
  IC values it minimizes are misaligned (col j mixes dof(j−1) with
  ICs of j). Default here is the FIXED aligned matrix;
  ``faithful_q9=True`` reproduces the misalignment.
- ``enetVARpreselection`` (enetVAR.R:235-254): greedy forward
  selection by SC, deterministic first-min tiebreak (quirk Q8 fix).
- ``max.lag`` feasibility bound (enetVAR.R:877-882) and the heuristic
  lag bounds of Main.R:247-248.

Everything estimation-side runs on moment matrices from ONE
distributed pass (ml/gram.py), so the same code path is exact at
100 TB; only the (k+K+1)² moment matrix ever reaches the driver.
"""

from __future__ import annotations

import math
from dataclasses import dataclass, field

import numpy as np

from ..operators.lag_embed import VarZ, lag_col_name, na_omit, var_z
from .elastic_net import EnetFit, cv_enet, enet_path
from .gram import Moments, blocked_fold_column, compute_moments, moments_total


def max_lag(t_rows: int, k_series: int) -> int:
    """Feasibility bound ``floor(T/(K+1)) − 1`` (enetVAR.R:877-882)."""
    return int(math.floor(t_rows / (k_series + 1))) - 1


def heuristic_lag_bounds(k_series: int) -> tuple[int, int]:
    """``floor(24/K^(2/3))`` .. ``ceiling(24/K^(2/3)) + 1``
    (Main.R:247-248)."""
    x = 24.0 / (k_series ** (2.0 / 3.0))
    return int(math.floor(x)), int(math.ceil(x)) + 1


def blocked_foldid(n_rows: int, block: int = 10) -> np.ndarray:
    """The reference's shared contiguous folds (enetVAR.R:27-35):
    blocks of 10 rows, identical across equations."""
    return np.arange(n_rows) // block


@dataclass
class EnetVARModel:
    """Fitted multi-equation elastic-net VAR."""

    series: list[str]
    p: int
    intercept: bool
    alpha: np.ndarray  # per equation
    fits: dict[str, EnetFit]
    lambda_used: dict[str, float]
    moments: Moments  # over [const] + z_cols + series
    z_cols: list[str]  # lag columns (no constant)
    t_rows: int  # rows of the reduced response (T − p)
    last_rows: np.ndarray  # last p observation rows, oldest→newest (p, K)
    varz: VarZ | None = field(default=None, repr=False)

    @property
    def row_names(self) -> list[str]:
        return (["intercept"] if self.intercept else []) + self.z_cols

    def coef_matrix(self, lambdas: dict[str, float] | float | None = None) -> np.ndarray:
        """B with rows ``row_names`` and one column per equation
        (reference coef.enetVAR.enetVAR, enetVAR.R:89-114)."""
        cols = []
        for s in self.series:
            lam = self.lambda_used[s]
            if lambdas is not None:
                lam = lambdas if isinstance(lambdas, (int, float)) else lambdas[s]
            b, a0 = self.fits[s].coef_at(float(lam))
            cols.append(np.concatenate([[a0], b]) if self.intercept else b)
        return np.column_stack(cols)

    def predict(self, n_ahead: int = 1, lambdas=None) -> np.ndarray:
        """Recursive h-step forecast (enetVAR.R:128-154): Z_ahead =
        last p rows newest-first flattened series-major; each step's
        forecast is appended and fed to the next."""
        B = self.coef_matrix(lambdas)
        hist = self.last_rows.copy()  # (≥p, K) oldest→newest
        out = np.empty((n_ahead, len(self.series)))
        for i in range(n_ahead):
            lags = hist[::-1][: self.p]  # newest-first
            z = lags.ravel()  # [l1 all series, l2 all series, ...]
            if self.intercept:
                z = np.concatenate([[1.0], z])
            y_ahead = z @ B
            out[i] = y_ahead
            hist = np.vstack([hist, y_ahead])
        return out

    # ---- moment-based residual covariance (no row data needed) ----

    def _sigma_hat(self, B: np.ndarray) -> np.ndarray:
        """Σ̂ = (Y−ZB)'(Y−ZB)/T from the moment matrix alone."""
        zc = (["__const__"] if self.intercept else []) + self.z_cols
        g = self.moments
        # g.m row/col 0 is the constant column — exactly the Z
        # intercept column when the model has one.
        M = g.m
        zi = [0 if c == "__const__" else 1 + g.cols.index(c) for c in zc]
        yi = [1 + g.cols.index(s) for s in self.series]
        Szz = M[np.ix_(zi, zi)]
        Szy = M[np.ix_(zi, yi)]
        Syy = M[np.ix_(yi, yi)]
        U = Syy - B.T @ Szy - Szy.T @ B + B.T @ Szz @ B
        return U / self.t_rows

    def inf_crit(self) -> dict[str, float]:
        """FPE/AIC/HQ/SC with elastic-net dof (enetVAR.R:177-202),
        per-equation decomposition of the kron hat-trace."""
        T = self.t_rows
        alpha = float(self.alpha[0])
        lam = float(np.mean([self.lambda_used[s] for s in self.series]))
        B = self.coef_matrix()
        sigma = self._sigma_hat(B)
        det = float(np.linalg.det(sigma))
        if det < 0:
            det = 1000.0
        zc = (["__const__"] if self.intercept else []) + self.z_cols
        g = self.moments
        zi = [0 if c == "__const__" else 1 + g.cols.index(c) for c in zc]
        Szz = g.m[np.ix_(zi, zi)]
        dof = 0.0
        for j in range(B.shape[1]):
            a = np.flatnonzero(B[:, j])
            if len(a) == 0:
                continue
            Za = Szz[np.ix_(a, a)]
            ridge = lam * 0.5 * (1 - alpha) * np.eye(len(a))
            dof += float(np.trace(np.linalg.solve(Za + ridge, Za)))
        log_det = math.log(det) if det > 0 else -math.inf
        return {
            "FPE": (1 + dof / T) / (1 - dof / T) * det,
            "AIC": log_det + 2.0 / T * dof,
            "HQ": log_det + 2.0 * math.log(math.log(T)) / T * dof,
            "SC": log_det + math.log(T) / T * dof,
            "dof": dof,
        }


def fit_enet_var(
    wide_df,
    series: list[str],
    p: int,
    alpha: float | list[float] = 0.4,
    lam: float | list[float] | None = None,
    intercept: bool = False,
    date_col: str = "obs_date",
    cv_block: int = 10,
    nlambda: int = 100,
) -> EnetVARModel:
    """Fit from a WIDE Spark DataFrame. One distributed moment pass
    (per CV fold when λ is cross-validated); K driver-side path fits.

    Rows with any NULL among the model columns are dropped
    (na.omit, Main.R:196) — by embedding first and dropping
    incomplete rows, ragged starts behave like the reference.
    """
    from pyspark.sql import functions as F

    K = len(series)
    alphas = np.full(K, alpha, dtype=float) if np.isscalar(alpha) else np.asarray(alpha, dtype=float)
    lams = None
    if lam is not None:
        lams = np.full(K, lam, dtype=float) if np.isscalar(lam) else np.asarray(lam, dtype=float)

    vz = var_z(wide_df.select(date_col, *series), series, p, intercept=False, date_col=date_col)
    z_cols = [lag_col_name(s, i) for i in range(1, p + 1) for s in series]
    cols = z_cols + series
    complete = na_omit(vz.df, cols)
    if lams is None:
        frame = blocked_fold_column(complete, date_col, cv_block)
        fold_moments = compute_moments(frame, cols, fold_col="__fold")
        total = moments_total(fold_moments)
    else:
        # fixed-λ path needs no CV folds — skip the fold-assignment
        # window pass entirely
        total = compute_moments(complete, cols)
        fold_moments = None

    fits: dict[str, EnetFit] = {}
    lambda_used: dict[str, float] = {}
    if lams is not None:
        for j, s in enumerate(series):
            path = np.linspace(2 * lams[j], lams[j] / 2, 10)
            fits[s] = enet_path(
                total, z_cols, s, alpha=float(alphas[j]), lambdas=path,
                intercept=intercept,
            )
            lambda_used[s] = float(lams[j])
    else:
        from .elastic_net import multi_cv_enet

        multi = multi_cv_enet(
            fold_moments, z_cols, series, alphas, intercept=intercept,
            nlambda=nlambda,
        )
        for s in series:
            fits[s] = multi[s]
            lambda_used[s] = float(multi[s].lambda_min)

    # last p observation rows for recursive forecasting (tiny collect)
    tail = (
        wide_df.select(date_col, *series)
        .dropna(subset=series)
        .orderBy(F.col(date_col).desc())
        .limit(p)
        .orderBy(date_col)
        .collect()
    )
    last_rows = np.array([[r[s] for s in series] for r in tail], dtype=float)

    return EnetVARModel(
        series=list(series),
        p=p,
        intercept=intercept,
        alpha=alphas,
        fits=fits,
        lambda_used=lambda_used,
        moments=total,
        z_cols=z_cols,
        t_rows=total.n,
        last_rows=last_rows,
        varz=vz,
    )


def residual_frame(model: EnetVARModel):
    """U = Y − Z·B as a Spark DataFrame over the embedded frame
    (enetVAR.R:165-174) — row-level, computed JVM-side as column
    expressions (no UDF): each equation's residual is y_j − Σ_i B_ij·z_i."""
    from pyspark.sql import functions as F

    assert model.varz is not None, "fit with fit_enet_var to keep the frame"
    B = model.coef_matrix()
    df = na_omit(model.varz.df, [*model.z_cols, *model.series])
    rows = model.row_names
    out_cols = [F.col(model.varz.date_col)]
    for j, s in enumerate(model.series):
        expr = F.lit(0.0)
        for i, rname in enumerate(rows):
            coef = float(B[i, j])
            if coef == 0.0:
                continue
            term = F.lit(coef) if rname == "intercept" else F.lit(coef) * F.col(f"`{rname}`")
            expr = expr + term
        out_cols.append((F.col(f"`{s}`") - expr).alias(f"resid_{s}"))
    return df.select(*out_cols)


# ---------------------------------------------------------------------------
# lag-order search (M11) and greedy preselection (M12)
# ---------------------------------------------------------------------------


def enet_var_select(
    wide_df,
    series: list[str],
    max_lag_order: int = 30,
    alpha: float = 0.25,
    intercept: bool = False,
    date_col: str = "obs_date",
    faithful_q9: bool = False,
    lam: float | None = None,
) -> dict:
    """Lag search p=1..max with the reference's early-stop rules
    (enetVAR.R:204-232): stop when ≥3 ICs are −Inf, or when all four
    ICs' last-4 values all exceed their running min.

    ``faithful_q9=True`` reproduces quirk Q9 (see module docstring):
    the minimized matrix interleaves dof values from iteration 2 on.
    """
    ics: list[dict[str, float]] = []
    for p in range(1, max_lag_order + 1):
        m = fit_enet_var(
            wide_df, series, p=p, alpha=alpha, intercept=intercept,
            date_col=date_col, lam=lam,
        )
        ics.append(m.inf_crit())
        it = len(ics)
        tic = _tic_matrix(ics, faithful_q9)
        if it > 3:
            if np.sum(np.isneginf(tic[:, it - 1])) > 2:
                break
            ch = 0
            for i in range(4):
                mn = np.min(tic[i, :it])
                ch += int(np.sum(tic[i, it - 4 : it] > mn) > 3)
            if ch == 4:
                break
    tic = _tic_matrix(ics, faithful_q9)
    names = ["FPE", "AIC", "HQ", "SC"]
    best = {nm: int(np.argmin(tic[i, : len(ics)])) + 1 for i, nm in enumerate(names)}
    return {"IC_lag": best, "IC_value": ics}


def _tic_matrix(ics: list[dict[str, float]], faithful_q9: bool) -> np.ndarray:
    names = ["FPE", "AIC", "HQ", "SC"]
    if not faithful_q9:
        return np.array([[ic[nm] for ic in ics] for nm in names])
    # Q9: column-major refill of the 5-value-per-iteration stream
    # (FPE, AIC, HQ, SC, dof) into a 4×iter matrix.
    stream = []
    for ic in ics:
        stream.extend([ic["FPE"], ic["AIC"], ic["HQ"], ic["SC"], ic["dof"]])
    flat = np.array(stream[: 4 * len(ics)])
    return np.reshape(flat, (4, len(ics)), order="F")


def enet_var_preselect(
    wide_df,
    all_series: list[str],
    maxnrvar: int,
    lag: int = 1,
    alpha: float = 0.25,
    date_col: str = "obs_date",
    lam: float | None = None,
    return_scores: bool = False,
) -> list[str] | tuple[list[str], dict[str, float]]:
    """Greedy forward variable selection by SC (enetVAR.R:235-254):
    start {target}; repeatedly add the candidate minimizing the SC of
    the joint enetVAR. Candidate scoring is embarrassingly parallel —
    each round's candidates could run as concurrent Spark jobs; at
    reference scale the sequential loop is already moment-cheap.

    ``lam`` (optional) fixes λ for every candidate fit instead of
    the reference's per-candidate CV — the flavor the
    ``ml_preselect`` driver-gate query replays in SQL (CV stays the
    default, and its λ.min chain is gated by ``ml_cv_lambda_min``)."""
    target = all_series[0]
    selected = [target]
    remaining = list(all_series[1:])
    last_scores: dict[str, float] = {}
    while len(selected) < maxnrvar and remaining:
        scores = []
        for cand in remaining:
            m = fit_enet_var(
                wide_df, [*selected, cand], p=lag, alpha=alpha,
                date_col=date_col, lam=lam,
            )
            scores.append(m.inf_crit()["SC"])
        last_scores = dict(zip(remaining, scores))
        best = int(np.argmin(scores))  # first min — deterministic (Q8 fix)
        selected.append(remaining.pop(best))
    if return_scores:
        return selected, last_scores
    return selected
