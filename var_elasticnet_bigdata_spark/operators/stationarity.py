"""Stationarity-transform fixpoint pipeline (SURVEY §2.8 M19;
reference Main.R:64-92) and ``unscale`` (M25, enetVAR.R:861-873).

The reference loop, replicated:

    while any series is ADF-non-stationary (p > crit):
      for each non-stationary series i:
        if i is a currency-unit series (membership consumed) AND all
        its raw monthly LEVELS are > 0:
            replace its quarterly column with the quarterly SUM of
            monthly log-diffs (dropping the first quarter)
        else:
            replace its column with the first difference of the
            current column (na.pad)
      re-run the batch ADF

No decision in the loop reads another series, so each series' whole
fixpoint runs inside one grouped pass instead of a driver loop of
Spark jobs. The relational transforms run once, in Catalyst: one
window per series gives the monthly diff, the monthly log-diff (log
taken in the JVM) and the raw-level positivity flag side by side, and
one aggregation rolls all three up to the quarter. A single
``groupBy(series_id).applyInPandas`` then iterates ADF → branch →
transform per series in NumPy, and the result is cached once. The
transform history per series is returned so levels can be
reconstructed (W7) and the pipeline is auditable.
"""

from __future__ import annotations

from dataclasses import dataclass, field

import numpy as np
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions.stats import adf_test_or_nan
from ..plans.cachereg import swap_cache
from . import timeseries as ts

DIFF_QSUM = "diff_quarterly_sum"
LOGDIFF_QSUM = "logdiff_quarterly_sum"


@dataclass
class StationarityResult:
    data: DataFrame  # long (series_id, obs_date, value) — all stationary
    transforms: dict[str, list[str]] = field(default_factory=dict)
    rounds: int = 0
    still_non_stationary: list[str] = field(default_factory=list)


def make_quarterly_diffs(
    monthly_long: DataFrame, freq: str = "quarter"
) -> DataFrame:
    """Initial transform (Main.R:43): quarterly SUM of monthly first
    diffs, first quarter dropped (the reference's ``[-1,]``).
    strict_na: zoo's sum propagates NA (partial quarters at ragged
    series starts stay NA, as in R). ``freq`` generalizes the bucket
    (the reference's monthly→quarterly shape at other input
    granularities, e.g. daily→week for the driver testdata's 30-day
    event span)."""
    d = ts.diff(monthly_long, out_col="value")
    q = ts.resample(d, freq=freq, how="sum", strict_na=True)
    first_q = q.agg(F.min("obs_date")).collect()[0][0]
    return q.filter(F.col("obs_date") > F.lit(first_q))


def _non_stationary(x: np.ndarray, k: int | None, crit: float, flag_ge: bool) -> bool:
    """The batch ADF's flag for one series (``adf_table`` semantics:
    NULLs dropped, a degenerate series gets p = NaN and is flagged; a
    series with no values is never tested)."""
    x = x[~np.isnan(x)]
    if not len(x):
        return False
    p = adf_test_or_nan(x, k=k)["p_value"]
    return not (p < crit) if flag_ge else not (p <= crit)


def stationarity_pipeline(
    monthly_long: DataFrame,
    currency_series: set[str] | list[str],
    crit: float = 0.01,
    max_rounds: int = 8,
    adf_k: int | None = None,
    flag_ge: bool = False,
    consume_currency: bool = True,
    currency_fallback_diff: bool = True,
    resample_freq: str = "quarter",
) -> StationarityResult:
    """Run the fixpoint loop on a long monthly frame
    ``(series_id, obs_date, value)``. Returns the stationary
    quarterly frame + per-series transform history.

    Two reference variants exist (they produce DIFFERENT data):

    - Main.R:64-92 (defaults): ADF lag k auto (trunc((n−1)^(1/3))),
      flag p > crit (crit 0.01), currency membership consumed on
      first use, currency series failing the positivity check fall
      through to the extra-diff branch.
    - Testing.R:45-97 (``adf_k=7, crit=0.05, flag_ge=True,
      consume_currency=False, currency_fallback_diff=False``): fixed
      ADF lag 7, flag p >= crit, currency membership NOT consumed
      (the pool-removal line operates on the wrong variable, so a
      still-non-stationary currency series just gets its — idempotent
      — log-diff replacement again), and a currency series failing
      positivity is left UNTRANSFORMED (no else-branch), relying on
      the no-progress loop guard. The golden numbers in
      Testing.R:227-243 were produced on THIS variant's ``end_var``.

    Per series, a round either transforms the series or stops it:
    it stops unflagged once its ADF passes, and flagged when it
    reaches ``max_rounds`` or when its move is an idempotent no-op
    (the Testing.R no-progress guard). ``rounds`` is the largest
    per-series round count and ``still_non_stationary`` the series
    flagged at their last test — the global loop's results, since it
    runs until the last series stops. (The one exception needs
    ``consume_currency`` without ``currency_fallback_diff``, which
    neither reference variant uses: a non-positive currency series
    spends round 1 losing its membership and goes on to diff, where
    a global loop would stop if no other series moved in round 1.)
    The log-diff replacement drops the input's first quarter, like
    the initial transform.
    """
    S, D, V = ts.SERIES, ts.DATE, ts.VALUE
    pool = frozenset(currency_series)

    # strictly-positive check uses RAW monthly levels (Main.R:72): the
    # series-wide min, carried as a 0/1 flag through the roll-up
    whole = (
        Window.partitionBy(S).orderBy(D)
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    )
    monthly = ts.log_diff(ts.diff(monthly_long, out_col="d"), out_col="ld").withColumn(
        "pos", (F.min(V).over(whole) > 0).cast("double")
    )
    q = ts.resample(
        monthly, freq=resample_freq, how="sum", value_col=["d", "ld", "pos"],
        strict_na=True,
    )
    first_q = monthly_long.agg(
        F.min(ts.to_period(F.col(D), resample_freq))
    ).collect()[0][0]
    q = q.filter(F.col(D) > F.lit(first_q))

    def fixpoint(key, pdf):
        pdf = pdf.sort_values(D)
        cur = pdf["d"].to_numpy(dtype=float)
        history = [DIFF_QSUM]
        in_pool = key[0] in pool
        positive = bool((pdf["pos"] > 0).any())
        rounds, flagged = 0, False
        for rnd in range(1, max_rounds + 1):
            flagged = _non_stationary(cur, adf_k, crit, flag_ge)
            if not flagged:
                break
            member = in_pool
            if member and consume_currency:
                in_pool = False  # membership consumed (Main.R:71)
            if not member:
                move = "diff"
            elif positive:
                move = None if history == [LOGDIFF_QSUM] else "log"
            else:
                # Testing.R leaves it untransformed
                move = "diff" if currency_fallback_diff else None
            if move is None:
                if in_pool == member:
                    break  # no-progress guard (Testing.R:88-93)
                continue  # only the membership changed this round
            rounds = rnd
            if move == "log":
                cur = pdf["ld"].to_numpy(dtype=float)
                history = [LOGDIFF_QSUM]
            else:
                cur = np.concatenate(([np.nan], np.diff(cur)))  # na.pad (Main.R:89)
                history.append("diff")
        # the summary rides on each series' first row
        return pdf[[S, D]].assign(
            **{V: cur}, history=[history] + [None] * (len(pdf) - 1),
            rounds=rounds, flagged=flagged,
        )

    schema = (
        f"{S} string, {D} date, {V} double, history array<string>, "
        "rounds int, flagged boolean"
    )
    # the summary collect is the cache's first reader and fills it
    # whole (an eager count() before it would only add jobs)
    staged = swap_cache(
        "stationarity", q.groupBy(S).applyInPandas(fixpoint, schema)
    )
    summary = staged.filter(F.col("history").isNotNull()).select(
        S, "history", "rounds", "flagged"
    ).collect()
    return StationarityResult(
        data=staged.select(S, D, V),
        transforms={r[S]: list(r["history"]) for r in summary},
        rounds=max((r["rounds"] for r in summary), default=0),
        still_non_stationary=sorted(r[S] for r in summary if r["flagged"]),
    )


def unscale(df: DataFrame, centers: dict[str, float], scales: dict[str, float],
            columns: list[str] | None = None) -> DataFrame:
    """M25 ``unscale`` (enetVAR.R:861-873): invert standardization
    column-wise, x·scale + center — the StandardScaler inverse as
    plain column arithmetic."""
    cols = columns or list(centers)
    out = df
    for c in cols:
        out = out.withColumn(
            c, F.col(f"`{c}`") * F.lit(scales[c]) + F.lit(centers[c])
        )
    return out
