"""Time-series relational operators over long-format frames.

Canonical layout is **long**: ``(series_id, obs_date, value)`` —
SURVEY §4.3. Every window here partitions by ``series_id`` so there is
never a global single-partition sort; at 146 series that is 146-way
parallelism, and at 100 TB (millions of series) it is exactly the
partitioning Parquet bucketing preserves across stages.

Reference parity (see SURVEY §2.5):
  W1  diff                ``diff(variables_ts)``           enetVAR ref Main.R:43
  W2  log_diff            ``diff(log(ts))``                Main.R:48
  W3  diff(order=2)       ``diff(..., na.pad=TRUE)``       Main.R:89
  A1  resample            ``aggregate(..., as.yearqtr)``   Main.R:43,87
  W7  reconstruct_levels  ``diff_log2norm``                enetVAR.R:886-889
  J1  align_join          ``merge.zoo``                    Main.R:96
  W10 naive_forecast      random-walk benchmark            enetVAR.R:460-464
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

SERIES = "series_id"
DATE = "obs_date"
VALUE = "value"


def _w(series_col: str = SERIES, date_col: str = DATE) -> Window:
    return Window.partitionBy(series_col).orderBy(date_col)


def diff(
    df: DataFrame,
    order: int = 1,
    value_col: str = VALUE,
    series_col: str = SERIES,
    date_col: str = DATE,
    out_col: str | None = None,
    na_pad: bool = True,
) -> DataFrame:
    """n-th first-difference per series (W1/W3).

    ``na_pad=True`` keeps the leading NULL rows (zoo ``na.pad=TRUE``
    semantics, Main.R:89); ``False`` drops them (plain ``diff``).
    Single narrow window per series — no shuffle beyond the one
    hash-partition on series_id, reused across chained diffs.
    """
    out = out_col or value_col
    w = _w(series_col, date_col)
    c = F.col(value_col)
    for _ in range(order):
        c = c - F.lag(c, 1).over(w)
    res = df.withColumn(out, c)
    if not na_pad:
        res = res.dropna(subset=[out])
    return res


def log_diff(
    df: DataFrame,
    value_col: str = VALUE,
    series_col: str = SERIES,
    date_col: str = DATE,
    out_col: str | None = None,
    na_pad: bool = True,
) -> DataFrame:
    """First difference of logs (W2): growth-rate transform for
    strictly-positive series (GDP target, currency-unit series)."""
    out = out_col or value_col
    w = _w(series_col, date_col)
    lg = F.log(F.col(value_col))
    res = df.withColumn(out, lg - F.lag(lg, 1).over(w))
    if not na_pad:
        res = res.dropna(subset=[out])
    return res


def to_period(date_col: Column, freq: str = "quarter") -> Column:
    """Truncate a date to its period start. freq ∈ {year, quarter,
    month, week, day}."""
    return F.date_trunc(freq, date_col).cast("date")


def resample(
    df: DataFrame,
    freq: str = "quarter",
    how: str = "sum",
    value_col: str | list[str] = VALUE,
    series_col: str = SERIES,
    date_col: str = DATE,
    strict_na: bool = False,
) -> DataFrame:
    """Temporal roll-up (A1): monthly→quarterly aggregate per series.
    A list of ``value_col`` names rolls each column up side by side in
    the same aggregation.

    The reference sums monthly first-diffs per quarter (zoo default
    FUN, Main.R:43). Partial+final hash aggregation via Catalyst —
    map-side combine means the shuffle carries one row per
    (series, quarter) per input partition, not per input row.

    ``strict_na=True`` gives R's ``sum``/``mean`` NA semantics: any
    NULL in the bucket → NULL result (SQL aggregates skip NULLs;
    zoo's don't — this matters for ragged series starts feeding
    ``na.omit``)."""
    # first/last as min_by/max_by on the date: F.first/F.last in an
    # unordered groupBy return an arbitrary partition-order-dependent
    # row, not the chronologically first/last observation
    agg = {
        "sum": F.sum,
        "mean": F.avg,
        "first": lambda c: F.min_by(c, date_col),
        "last": lambda c: F.max_by(c, date_col),
        "min": F.min,
        "max": F.max,
    }[how]
    cols = [value_col] if isinstance(value_col, str) else value_col
    gb = df.groupBy(series_col, to_period(F.col(date_col), freq).alias(date_col))
    if not strict_na:
        return gb.agg(*(agg(c).alias(c) for c in cols))
    return gb.agg(
        *(
            F.when(F.count(F.lit(1)) == F.count(c), agg(c)).alias(c)
            for c in cols
        )
    )


def reconstruct_levels(
    df: DataFrame,
    init_level: float,
    logdiff_col: str = VALUE,
    series_col: str = SERIES,
    date_col: str = DATE,
    out_col: str = "level",
) -> DataFrame:
    """Rebuild levels from log-diffs (W7, ``diff_log2norm``
    enetVAR.R:886-889): level_t = init * exp(cumsum(logdiff)).

    The reference's ``Reduce(x*exp(y), accumulate=T)`` is exactly a
    running product ≡ exp of a running sum — expressed as an unbounded
    -preceding window sum so it stays in whole-stage codegen.

    Only the LEADING NULL each series' diff carries (na.pad) is
    treated as zero growth; a NULL later in the series is a missing
    observation and must make every level from that point NULL (an
    unconditional coalesce would silently impute 0% growth; and a
    plain window sum would SKIP the NULL — SQL sum semantics — so the
    gap needs an explicit cumulative guard).
    """
    w = _w(series_col, date_col).rowsBetween(Window.unboundedPreceding, 0)
    rn = F.row_number().over(_w(series_col, date_col))
    ld = F.when(
        (rn == 1) & F.col(logdiff_col).isNull(), F.lit(0.0)
    ).otherwise(F.col(logdiff_col))
    gap_seen = F.sum(ld.isNull().cast("int")).over(w) > 0
    return df.withColumn(
        out_col,
        F.when(
            ~gap_seen,
            F.lit(init_level) * F.exp(F.sum(F.coalesce(ld, F.lit(0.0))).over(w)),
        ),
    )


def align_join(
    left: DataFrame,
    right: DataFrame,
    on: str = DATE,
    how: str = "full_outer",
) -> DataFrame:
    """Time-index alignment merge (J1 ≡ ``merge.zoo``, Main.R:96):
    full-outer equi-join on the time index, NULL-filling gaps.

    On wide frames both sides are small post-aggregation; at scale the
    long-format variant is a shuffle equi-join on obs_date — salt or
    re-key by (date bucket) if one date is hot."""
    return left.join(right, on=on, how=how)


def naive_forecast(
    df: DataFrame,
    value_col: str = VALUE,
    series_col: str = SERIES,
    date_col: str = DATE,
    out_col: str = "rw_forecast",
) -> DataFrame:
    """Random-walk / no-change benchmark (W10): forecast_t = value_{t-1}.

    Faithful mode of the reference quirk Q4: its "RW" forecast for
    target t+h is the realized value at t+h-1 (a peeking 1-step naive
    forecast at every horizon), enetVAR.R:460-464.
    """
    return df.withColumn(out_col, F.lag(value_col, 1).over(_w(series_col, date_col)))


def time_slice(
    df: DataFrame,
    start=None,
    end=None,
    date_col: str = DATE,
) -> DataFrame:
    """P3 time-window slice ≡ zoo ``window(data, start, end)``. A plain
    range predicate so it pushes into the scan (partition pruning on a
    date-partitioned table)."""
    res = df
    if start is not None:
        res = res.filter(F.col(date_col) >= F.lit(start))
    if end is not None:
        res = res.filter(F.col(date_col) <= F.lit(end))
    return res


def long_to_wide(
    df: DataFrame,
    series_ids: list[str] | None = None,
    series_col: str = SERIES,
    date_col: str = DATE,
    value_col: str = VALUE,
) -> DataFrame:
    """Pivot long → wide (one column per series, rows = time points).

    Only used at the (small) estimation frontier — post-aggregation a
    wide frame is ~231 rows × K cols. Passing ``series_ids`` avoids the
    extra distinct-values job and pins column order (target first —
    the reference's column-1 convention, enetVAR.R:237)."""
    p = df.groupBy(date_col).pivot(series_col, values=series_ids)
    return p.agg(F.first(value_col)).orderBy(date_col)


def wide_to_long(
    df: DataFrame,
    series_cols: list[str],
    series_col: str = SERIES,
    date_col: str = DATE,
    value_col: str = VALUE,
) -> DataFrame:
    """Unpivot wide → long via the built-in ``unpivot`` (no UDF)."""
    return df.unpivot(
        ids=[date_col],
        values=series_cols,
        variableColumnName=series_col,
        valueColumnName=value_col,
    )
