"""The three workloads: their operations, inputs and output checks.

An operation is one closed-loop request: the runner calls ``run``,
times it, and starts the next operation only when it returned or
raised. ``check`` runs once per operation after the timed passes,
outside the timing, on the output of the first pass in which the
operation succeeded; it returns a reason string on a wrong output.
"""

from __future__ import annotations

import datetime as dt
import hashlib
import importlib
import math
import os
from collections.abc import Callable
from contextlib import nullcontext
from dataclasses import dataclass

import numpy as np
import pandas as pd

from . import inputs

# Sizes, chosen so that one run of every workload fits the benchmark's
# time budget on a 4-core host. Registry queries run on a seeded
# corpus of the sf0.1 shape scaled to CORPUS_DOCS/CORPUS_VECS rows.
CORPUS_DOCS = 1000
CORPUS_VECS = 400
PRESELECT = 30  # preselected variables (ezlasso over all 146)
CV_VARS = 8  # variables in the CV elastic-net VAR
MODEL_VARS = 4  # variables in the rolling-origin experiment
LAG = 2
ALPHA = 0.4
ORIGIN_STEP = 8  # rolling origins thinned to every 8th quarter
START_PRED = dt.date(2000, 1, 1)
KKT_RTOL = 1e-3  # KKT violation relative to lambda * alpha
MOMENTS_RTOL = 1e-8

CORPUS_QUERIES = [
    "text_lang_id",
    "text_token_count",
    "text_chunking",
    "text_kn5_perplexity",
    "dedup_substring",
    "ann_ivfpq_search",
]
STORE_QUERIES = [
    "dedup_incremental_exact",
    "dedup_substring_incremental",
    "ann_ivfpq_postings",
]


@dataclass
class Op:
    name: str
    run: Callable[[], object]
    check: Callable[[object], str | None] | None = None


@dataclass
class Workload:
    name: str
    ops: list[Op]


# ---------------------------------------------------------------------------
# order-insensitive frame hash
# ---------------------------------------------------------------------------


def _cell(v) -> str:
    if v is None:
        return "None"
    if isinstance(v, (float, np.floating)):
        return "None" if math.isnan(v) else f"{float(v):.9g}"
    if isinstance(v, (bool, np.bool_)):
        return str(bool(v))
    if isinstance(v, (int, np.integer)):
        return f"{float(v):.9g}"
    if isinstance(v, (list, tuple, np.ndarray)):
        return "[" + ",".join(_cell(x) for x in v) + "]"
    if isinstance(v, dict):
        return "{" + ",".join(f"{k}:{_cell(x)}" for k, x in sorted(v.items())) + "}"
    if isinstance(v, (pd.Timestamp, dt.datetime)):
        s = pd.Timestamp(v).isoformat()
        return s[:-9] if s.endswith("T00:00:00") else s
    if isinstance(v, dt.date):
        return v.isoformat()
    if v is pd.NaT:
        return "None"
    return str(v)


def frame_digest(df: pd.DataFrame) -> tuple[int, str]:
    """Row count and a hash that ignores row and column order. Numbers
    compare at 9 significant digits regardless of their width."""
    cols = sorted(df.columns)
    rows = sorted(
        "\x1f".join(_cell(v) for v in row)
        for row in df[cols].astype(object).itertuples(index=False, name=None)
    )
    h = hashlib.sha256("\x1e".join(cols).encode())
    for r in rows:
        h.update(r.encode())
        h.update(b"\x1e")
    return len(df), h.hexdigest()


# ---------------------------------------------------------------------------
# registry-query workloads
# ---------------------------------------------------------------------------


def registry_workload(
    name: str, queries: list[str], spark, data_dir: str, tracer=None
) -> Workload:
    """One operation per registry query: build the DataFrame, collect
    it. The check compares row count and order-insensitive hash with the
    query's DuckDB twin over the same input tables."""
    import duckdb

    from var_elasticnet_bigdata_spark import queries as Q

    fns, twins = Q.all_queries(), Q.all_oracle_sql()
    con = duckdb.connect()
    for t in ("documents", "embeddings"):
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{os.path.join(data_dir, t)}.parquet'"
        )

    def span(layer):
        return nullcontext() if tracer is None else tracer.span(layer)

    def make(q):
        def run():
            with span("queries.build"):
                df = fns[q](spark, data_dir)
            with span("queries.action"):
                return df.toPandas()

        def check(pdf):
            want = frame_digest(con.execute(twins[q]).fetchdf())
            got = frame_digest(pdf)
            if got[0] != want[0]:
                return f"rows {got[0]} != twin {want[0]}"
            if got != want:
                return "hash differs from twin"
            return None

        return Op(q, run, check)

    return Workload(name, [make(q) for q in queries])


# ---------------------------------------------------------------------------
# var_forecast: the paper's experiment (Main.R)
# ---------------------------------------------------------------------------


def lag_embed_numpy(wide: pd.DataFrame, cols: list[str]) -> np.ndarray:
    """Rows of ``wide`` (date-ordered) as the named columns, where
    ``<series>.l<i>`` is ``<series>`` lagged i rows, with incomplete
    rows dropped (``na.omit``)."""
    out = []
    for c in cols:
        base, _, lag = c.rpartition(".l")
        if base and lag.isdigit():
            out.append(wide[base].shift(int(lag)).to_numpy(dtype=float))
        else:
            out.append(wide[c].to_numpy(dtype=float))
    x = np.column_stack(out)
    return x[~np.isnan(x).any(axis=1)]


def moments_mismatch(mo, wide: pd.DataFrame) -> str | None:
    from var_elasticnet_bigdata_spark.ml.local import moments_from_numpy

    ref = moments_from_numpy(lag_embed_numpy(wide, mo.cols), mo.cols).m
    if mo.m.shape != ref.shape:
        return f"moments shape {mo.m.shape} != numpy {ref.shape}"
    if not np.allclose(mo.m, ref, rtol=MOMENTS_RTOL, atol=0.0):
        return "moments differ from numpy (ml.local.moments_from_numpy)"
    return None


def var_workload(spark, seed: int) -> Workload:
    """The seven steps of the paper's experiment, in order; each step
    reads the previous steps' outputs from ``st``."""
    from pyspark.sql import functions as F

    # layer functions are looked up on their modules at call time, so
    # the traced run's wrappers see these calls
    from var_elasticnet_bigdata_spark.functions import stats
    from var_elasticnet_bigdata_spark.ml import gram, tuning, var_model
    from var_elasticnet_bigdata_spark.ml.elastic_net import (
        kkt_violation,
        standardize_problem,
    )
    from var_elasticnet_bigdata_spark.operators import lag_embed, stationarity

    # the package re-exports the function under the module's name
    mt = importlib.import_module("var_elasticnet_bigdata_spark.harness.modeltrain")

    monthly, currency, gdp = inputs.macro_panel(seed)
    ids = sorted(monthly["series_id"].unique())
    monthly_df = spark.createDataFrame(monthly)
    g = gdp.copy()
    g["GDP"] = np.log(g["gdp"]).diff()
    gdp_df = spark.createDataFrame(g[["obs_date", "GDP"]].dropna())
    st: dict = {}

    def stationarity_op():
        st["stat"] = stationarity.stationarity_pipeline(monthly_df, set(currency))
        return st["stat"]

    def check_stationarity(res):
        logd = [s for s, t in res.transforms.items() if t[0].startswith("logdiff")]
        extra = [s for s, t in res.transforms.items() if t[-1] == "diff"]
        if not (res.rounds >= 1 and logd and extra):
            return f"loop took rounds={res.rounds} log={len(logd)} diff={len(extra)}"
        if res.still_non_stationary:
            return f"still non-stationary: {res.still_non_stationary}"
        return None

    def wide_frame():
        q = st["stat"].data
        wide = q.groupBy("obs_date").pivot("series_id", ids).agg(F.first("value"))
        pdf = gdp_df.join(wide, "obs_date").orderBy("obs_date").toPandas()
        st["wide_pdf"] = pdf
        st["wide"] = spark.createDataFrame(pdf)
        return pdf

    def check_wide(pdf):
        if list(pdf.columns) != ["obs_date", "GDP", *ids]:
            return "wide frame columns differ"
        if not (200 <= len(pdf) <= inputs.N_QUARTERS):
            return f"wide frame has {len(pdf)} quarters"
        return None

    def preselect():
        st["sel"] = tuning.ezlasso(spark, st["wide"], "GDP", ids, maxnrvar=PRESELECT)
        return st["sel"]

    def check_preselect(sel):
        if sel[0] != "GDP" or not 2 <= len(sel) <= PRESELECT + 1:
            return f"preselection {sel[:3]}.. of {len(sel)}"
        return None

    def cv_fit():
        series = st["sel"][:CV_VARS]
        return var_model.fit_enet_var(st["wide"], series, p=LAG, alpha=ALPHA)

    def check_fit(model):
        bad = moments_mismatch(model.moments, st["wide_pdf"])
        if bad:
            return bad
        worst = 0.0
        for s in model.series:
            prob = standardize_problem(model.moments, model.z_cols, s, intercept=False)
            lam = model.lambda_used[s]
            b, _ = model.fits[s].coef_at(lam)
            kkt = kkt_violation(prob, b * prob.x_scale, ALPHA, lam)
            worst = max(worst, kkt / (lam * ALPHA))
        if worst > KKT_RTOL:
            return f"KKT violation {worst:.3g} x lambda*alpha > {KKT_RTOL}"
        return None

    def rolling():
        series = st["sel"][:MODEL_VARS]
        kw = dict(start_pred=START_PRED, step=ORIGIN_STEP, lag=LAG, with_ar1=False)
        st["rolling"] = (
            mt.modeltrain(spark, st["wide"], series, **kw),
            mt.modeltrain(spark, st["wide"], series, method="ar1", **kw),
        )
        return st["rolling"]

    def check_rolling(res):
        for r in res:
            vals = list(r.msfe.values()) + list(r.theils_u_rw.values())
            if len(r.msfe) != 4 or not all(math.isfinite(v) and v > 0 for v in vals):
                return f"MSFE/Theil's U not finite: {r.msfe}"
        return None

    def tests():
        """Per horizon: the enet VAR against the AR(1) benchmark on the
        origins both forecast and the data realised."""
        cols = ["origin_idx", "horizon", "yhat", "err"]
        enet, ar1 = (r.forecasts.select(*cols).toPandas() for r in st["rolling"])
        e = enet.merge(ar1, on=["origin_idx", "horizon"], suffixes=("_e", "_a"))
        out = {}
        for h, g in e.dropna().sort_values("origin_idx").groupby("horizon"):
            out[int(h)] = (
                stats.dm_test(g["err_a"] ** 2 - g["err_e"] ** 2, 2),
                stats.cw_test(g["err_a"], g["err_e"], g["yhat_a"], g["yhat_e"], 2),
            )
        return out

    def check_tests(res):
        if sorted(res) != [1, 2, 4, 8]:
            return f"tests for horizons {sorted(res)}"
        for dm, cw in res.values():
            if not (math.isfinite(dm["DMStat"]) and math.isfinite(cw["CWStat"])):
                return "DM/CW statistic not finite"
        return None

    def full_moments():
        wide = st["wide"].select("obs_date", *ids)
        vz = lag_embed.var_z(wide, ids, LAG, intercept=False)
        cols = [c for c in vz.df.columns if c != "obs_date"]
        return gram.compute_moments(vz.df, cols)

    def check_moments(mo):
        return moments_mismatch(mo, st["wide_pdf"])

    ops = [
        Op("stationarity", stationarity_op, check_stationarity),
        Op("wide_frame", wide_frame, check_wide),
        Op("preselect_ezlasso", preselect, check_preselect),
        Op("cv_enet_var", cv_fit, check_fit),
        Op("modeltrain_rolling", rolling, check_rolling),
        Op("dm_cw_tests", tests, check_tests),
        Op("full_panel_moments", full_moments, check_moments),
    ]
    return Workload("var_forecast", ops)


WORKLOADS = ("var_forecast", "corpus_curate", "store_ingest")


def build(name: str, spark, seed: int, work_dir: str, tracer=None) -> Workload:
    """Generate the workload's seeded inputs under ``work_dir`` and
    return its operations."""
    if name == "var_forecast":
        return var_workload(spark, seed)
    data_dir = os.path.join(work_dir, "data")
    inputs.write_corpus(seed, data_dir, CORPUS_DOCS, CORPUS_VECS)
    queries = CORPUS_QUERIES if name == "corpus_curate" else STORE_QUERIES
    return registry_workload(name, queries, spark, data_dir, tracer)
