"""Estimation-core oracles (SURVEY §5): ridge closed form (α=0),
orthonormal soft-threshold (α=1), KKT optimality at arbitrary (α,λ),
CV-fold arithmetic, and the distributed Gram pass vs numpy."""

from __future__ import annotations

import numpy as np
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from var_elasticnet_bigdata_spark.ml.elastic_net import (
    EnetFit,
    blocked_fold_ids,
    coordinate_descent,
    cv_enet,
    enet_path,
    kkt_violation,
    lambda_path,
    standardize_problem,
)
from var_elasticnet_bigdata_spark.ml.gram import Moments, compute_moments


def make_moments(X: np.ndarray, y: np.ndarray, names=None) -> Moments:
    n, k = X.shape
    names = names or [f"x{i}" for i in range(k)] + ["y"]
    M = np.column_stack([np.ones(n), X, y])
    return Moments(cols=names, m=M.T @ M)


def random_problem(seed: int, n=200, k=8, rho=0.4):
    rng = np.random.default_rng(seed)
    cov = rho ** np.abs(np.subtract.outer(np.arange(k), np.arange(k)))
    X = rng.multivariate_normal(np.zeros(k), cov, size=n)
    beta = np.zeros(k)
    beta[: k // 2] = rng.normal(size=k // 2)
    y = X @ beta + rng.normal(scale=0.5, size=n)
    return X, y


def test_ridge_closed_form_alpha0():
    X, y = random_problem(1)
    m = make_moments(X, y)
    xc = m.cols[:-1]
    for intercept in (False, True):
        prob = standardize_problem(m, xc, "y", intercept=intercept)
        for lam in (0.01, 0.1, 1.0):
            b = coordinate_descent(prob, alpha=0.0, lam=lam)
            want = np.linalg.solve(
                prob.xtx_n + lam * np.eye(len(xc)), prob.xty_n
            )
            assert b == pytest.approx(want, rel=1e-7, abs=1e-9)


def test_lasso_orthonormal_soft_threshold():
    # orthonormal standardized design → b_j = S(xty_j, λ)
    rng = np.random.default_rng(2)
    n, k = 400, 5
    Q, _ = np.linalg.qr(rng.normal(size=(n, k)))
    X = Q * np.sqrt(n)  # unit variance columns, orthogonal
    y = rng.normal(size=n)
    m = make_moments(X, y)
    prob = standardize_problem(m, m.cols[:-1], "y", intercept=False)
    lam = float(np.median(np.abs(prob.xty_n)))
    b = coordinate_descent(prob, alpha=1.0, lam=lam)
    want = np.sign(prob.xty_n) * np.maximum(np.abs(prob.xty_n) - lam, 0)
    want = want / prob.xtx_n.diagonal()
    assert b == pytest.approx(want, rel=1e-6, abs=1e-10)


@settings(max_examples=20, deadline=None)
@given(
    seed=st.integers(0, 10_000),
    alpha=st.floats(0.05, 1.0),
    lam_frac=st.floats(0.02, 0.9),
    intercept=st.booleans(),
)
def test_kkt_optimality_property(seed, alpha, lam_frac, intercept):
    X, y = random_problem(seed, n=120, k=6)
    m = make_moments(X, y)
    prob = standardize_problem(m, m.cols[:-1], "y", intercept=intercept)
    lmax = lambda_path(prob, alpha)[0]
    lam = lmax * lam_frac
    b = coordinate_descent(prob, alpha, lam)
    assert kkt_violation(prob, b, alpha, lam) < 1e-7


def test_path_warm_start_monotone_support():
    X, y = random_problem(3)
    fit = enet_path(make_moments(X, y), [f"x{i}" for i in range(8)], "y", alpha=1.0)
    # at lambda_max the model is empty; support grows roughly as λ shrinks
    assert np.all(fit.coefs[:, 0] == 0)
    assert np.count_nonzero(fit.coefs[:, -1]) >= np.count_nonzero(fit.coefs[:, 0])


def test_coef_interpolation():
    X, y = random_problem(4)
    fit = enet_path(make_moments(X, y), [f"x{i}" for i in range(8)], "y", alpha=0.5)
    mid = np.sqrt(fit.lambdas[10] * fit.lambdas[11])
    b, _ = fit.coef_at(mid)
    lo, _ = fit.coef_at(fit.lambdas[11])
    hi, _ = fit.coef_at(fit.lambdas[10])
    assert np.all((b >= np.minimum(lo, hi) - 1e-12) & (b <= np.maximum(lo, hi) + 1e-12))
    exact, _ = fit.coef_at(fit.lambdas[5])
    assert exact == pytest.approx(fit.coefs[:, 5])


def test_intercept_recovery():
    rng = np.random.default_rng(5)
    X = rng.normal(loc=3.0, size=(300, 4))
    beta = np.array([1.0, -2.0, 0.0, 0.5])
    y = 7.0 + X @ beta + rng.normal(scale=0.01, size=300)
    fit = enet_path(
        make_moments(X, y), [f"x{i}" for i in range(4)], "y",
        alpha=0.5, intercept=True,
    )
    b, a0 = fit.coef_at(fit.lambdas[-1])
    assert b == pytest.approx(beta, abs=0.02)
    assert a0 == pytest.approx(7.0, abs=0.1)


def test_blocked_fold_ids():
    f = blocked_fold_ids(97, 10)
    assert f[0] == 0 and f[9] == 0 and f[10] == 1
    assert f[-1] == 9  # short final block keeps its own id
    assert len(np.unique(f)) == 10
    # contiguity property (SURVEY §5): each fold is one run
    changes = int(np.sum(np.diff(f) != 0))
    assert changes == len(np.unique(f)) - 1


def test_cv_enet_selects_reasonable_lambda():
    X, y = random_problem(6, n=300, k=6)
    m_all = []
    folds = blocked_fold_ids(300, 30)
    fold_m = {}
    for fo in np.unique(folds):
        idx = folds == fo
        fold_m[int(fo)] = make_moments(X[idx], y[idx])
    fit = cv_enet(fold_m, [f"x{i}" for i in range(6)], "y", alpha=0.5)
    assert fit.lambda_min is not None
    assert fit.cv_mean is not None and np.all(np.isfinite(fit.cv_mean))
    # CV error at lambda_min beats the null-model error (y variance)
    b, a0 = fit.coef_at(fit.lambda_min)
    assert fit.cv_mean.min() < np.var(y)


def test_spark_moments_match_numpy(spark):
    rng = np.random.default_rng(7)
    X = rng.normal(size=(500, 3))
    y = X @ np.array([1.0, -1.0, 0.5]) + rng.normal(size=500)
    import pandas as pd

    pdf = pd.DataFrame(X, columns=["x0", "x1", "x2"])
    pdf["y"] = y
    pdf["fold"] = blocked_fold_ids(500, 100)
    sdf = spark.createDataFrame(pdf).repartition(7)
    m = compute_moments(sdf, ["x0", "x1", "x2", "y"])
    M = np.column_stack([np.ones(500), X, y])
    assert m.m == pytest.approx(M.T @ M, rel=1e-9)
    per_fold = compute_moments(sdf, ["x0", "x1", "x2", "y"], fold_col="fold")
    assert len(per_fold) == 5
    total = sum(f.m for f in per_fold.values())
    assert total == pytest.approx(M.T @ M, rel=1e-9)


def test_spark_moments_dropna(spark):
    import pandas as pd

    pdf = pd.DataFrame(
        {"x0": [1.0, None, 3.0, 4.0], "y": [1.0, 2.0, None, 4.0]}
    )
    sdf = spark.createDataFrame(pdf)
    m = compute_moments(sdf, ["x0", "y"])
    assert m.n == 2  # na.omit semantics: rows 0 and 3 survive
    assert m.sums(["x0"])[0] == pytest.approx(5.0)


def _wide_lagged_frame(spark, k):
    """12 rows of k lag-named columns (``s<i>.l<j>``), NULLs in rows 2
    and 7."""
    import pandas as pd

    rng = np.random.default_rng(3)
    cols = [f"s{i // 2}.l{1 + i % 2}" for i in range(k)]
    X = rng.normal(size=(12, k))
    X[2, 5] = X[7, k - 1] = np.nan
    pdf = pd.DataFrame(X, columns=cols).astype(object)
    pdf[pdf.isna()] = None
    sdf = spark.createDataFrame(pdf, ", ".join(f"`{c}` double" for c in cols))
    return sdf, cols, X[~np.isnan(X).any(axis=1)]


def test_spark_moments_wide_k(spark):
    """k = 960: the na.omit predicate must stay flat — a chain of one
    isNotNull conjunct per column overflowed the JVM stack in query
    analysis at a few hundred columns."""
    from var_elasticnet_bigdata_spark.ml.local import moments_from_numpy

    sdf, cols, complete = _wide_lagged_frame(spark, 960)
    m = compute_moments(sdf.coalesce(1), cols)
    assert m.n == len(complete) == 10
    assert m.m == pytest.approx(moments_from_numpy(complete, cols).m, rel=1e-9)


def test_na_omit_wide_dotted_names(spark):
    from var_elasticnet_bigdata_spark.operators.lag_embed import na_omit

    sdf, cols, complete = _wide_lagged_frame(spark, 960)
    assert na_omit(sdf, cols).count() == len(complete)
    assert na_omit(sdf, cols[:1]).count() == 12  # `s0.l1` is a column


def test_kkt_support_enumeration_matches_solver():
    """The SQL oracles for ml_enet_var_coefs / ml_tune_best /
    ml_ezlasso_enet / ml_cv_lambda_min / ml_preselect solve the
    strictly convex elastic net by enumerating sign patterns and
    Cramer-solving the masked ridge system. Pin that construction (in
    numpy form) against enet_path on random problems: for every
    (alpha<1, lambda) the unique KKT-passing pattern's solution equals
    the converged solver."""
    import itertools

    import numpy as np

    from var_elasticnet_bigdata_spark.ml.elastic_net import enet_path
    from var_elasticnet_bigdata_spark.ml.local import moments_from_numpy

    rng = np.random.default_rng(17)
    for trial in range(20):
        n, k = 60, rng.integers(2, 5)
        X = rng.normal(size=(n, k))
        if trial % 3 == 0:  # collinear like a lag design
            X[:, -1] = 0.9 * X[:, 0] + 0.1 * X[:, -1]
        y = X @ rng.normal(size=k) * rng.uniform(0.1, 2) + rng.normal(size=n)
        alpha = float(rng.uniform(0.1, 0.9))
        lam = float(10 ** rng.uniform(-3, 0))
        names = [f"x{i}" for i in range(k)] + ["y"]
        m = moments_from_numpy(np.column_stack([X, y]), names)
        fit = enet_path(
            m, names[:-1], "y", alpha=alpha, lambdas=np.array([lam]),
            intercept=False,
        )
        b_solver = fit.coefs[:, 0]
        # enumeration on the standardized problem (uncentered scale,
        # matching intercept=False)
        sc = np.sqrt((X * X).sum(0) / n)
        Xs = X / sc
        C = Xs.T @ Xs / n
        r = Xs.T @ y / n
        gam, ridge = lam * alpha, lam * (1 - alpha)
        found = None
        for signs in itertools.product((-1, 0, 1), repeat=k):
            s = np.array(signs)
            M = np.zeros((k, k))
            for i in range(k):
                for j in range(k):
                    if i == j:
                        M[i, j] = C[i, i] + ridge if s[i] != 0 else 1.0
                    elif s[i] != 0 and s[j] != 0:
                        M[i, j] = C[i, j]
            rh = np.where(s != 0, r - gam * s, 0.0)
            b = np.linalg.solve(M, rh)
            ok = True
            for i in range(k):
                if s[i] != 0:
                    ok &= b[i] * s[i] > 0
                else:
                    ok &= abs(r[i] - C[i] @ b) <= gam + 1e-12
            if ok:
                found = b / sc
                break
        assert found is not None, (trial, alpha, lam)
        assert np.allclose(found, b_solver, atol=1e-7), (
            trial, alpha, lam, found, b_solver,
        )
