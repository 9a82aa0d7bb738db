"""Distributed moment-matrix (Gram) aggregation.

The scale path for all estimation (SURVEY §4.3): instead of pivoting
100 TB to a wide matrix, ONE distributed pass computes the
``(1+k+K) × (1+k+K)`` moment matrix ``M'M`` over ``M = [1, X, Y]`` —
every quantity elastic-net estimation needs (column sums, X'X, X'Y,
Y'Y) is a sub-block, and the driver-side solver is then exact and
data-size-independent. k = n·p ≲ 900 for the reference workload, so
the moment matrix is ≤ ~8 MB however big the data is.

Partial sums are accumulated per Arrow batch with BLAS (``X.T @ X``)
inside ``mapInPandas`` and reduced on the driver — the same shape as
MLlib's ``treeAggregate`` Gramian but staying in the DataFrame API.
Per-fold moments (for blocked time-series CV, reference
enetVAR.R:27-35) come from the same single pass: leave-one-fold-out
moments are just ``total − fold``.
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame


@dataclass
class Moments:
    """Moment matrix over [1, cols...]: ``m[0,0] = n``,
    ``m[0,1:] = column sums``, ``m[1:,1:] = raw inner products``."""

    cols: list[str]
    m: np.ndarray  # (1+k, 1+k)

    @property
    def n(self) -> int:
        return int(round(self.m[0, 0]))

    def sub(self, names: list[str]) -> np.ndarray:
        """Raw inner-product block X'Y for the named columns."""
        idx = [1 + self.cols.index(c) for c in names]
        return self.m[np.ix_(idx, idx)]

    def cross(self, a: list[str], b: list[str]) -> np.ndarray:
        ia = [1 + self.cols.index(c) for c in a]
        ib = [1 + self.cols.index(c) for c in b]
        return self.m[np.ix_(ia, ib)]

    def sums(self, names: list[str]) -> np.ndarray:
        idx = [1 + self.cols.index(c) for c in names]
        return self.m[0, idx]

    def minus(self, other: "Moments") -> "Moments":
        """Leave-one-fold-out: total − fold (one pass for all folds)."""
        assert self.cols == other.cols
        return Moments(cols=self.cols, m=self.m - other.m)


def compute_moments(
    df: DataFrame,
    cols: list[str],
    fold_col: str | None = None,
    dropna: bool = True,
) -> Moments | dict[int, Moments]:
    """One distributed pass → moment matrix (optionally per fold).

    ``dropna=True`` applies the reference's ``na.omit`` semantics
    (Main.R:196): any row with a NULL in ``cols`` is excluded by one
    flat ``dropna`` predicate, so the width k is not bounded by
    predicate nesting depth.
    """
    from pyspark.sql import functions as F
    from pyspark.sql.types import (
        ArrayType,
        DoubleType,
        IntegerType,
        StructField,
        StructType,
    )

    k1 = len(cols) + 1
    # Rename to positional-safe names: lag columns carry the
    # reference's dotted ``<var>.l<i>`` names, which both bare-string
    # resolution and mapInPandas itself would parse as struct access.
    safe = [f"__c{i}" for i in range(len(cols))]
    sel = [F.col(f"`{c}`").alias(s) for c, s in zip(cols, safe)]
    if fold_col:
        sel.append(F.col(fold_col).alias("__fold"))
    data = df.select(*sel)
    if dropna:
        data = data.dropna(subset=safe)

    schema = StructType(
        [
            StructField("fold", IntegerType()),
            StructField("partial", ArrayType(DoubleType())),
        ]
    )

    has_fold = fold_col is not None

    def partials(batches):
        acc: dict[int, np.ndarray] = {}
        for pdf in batches:
            if len(pdf) == 0:
                continue
            if not has_fold:
                groups = [(0, pdf)]
            else:
                groups = list(pdf.groupby("__fold", sort=False))
            for fold, g in groups:
                x = g[safe].to_numpy(dtype=float)
                m = np.empty((len(x), k1))
                m[:, 0] = 1.0
                m[:, 1:] = x
                p = m.T @ m
                key = int(fold)
                if key in acc:
                    acc[key] += p
                else:
                    acc[key] = p
        rows = [
            {"fold": fold, "partial": p.ravel().tolist()} for fold, p in acc.items()
        ]
        yield pd.DataFrame(rows, columns=["fold", "partial"])

    collected = data.mapInPandas(partials, schema).collect()
    totals: dict[int, np.ndarray] = {}
    for row in collected:
        p = np.array(row["partial"]).reshape(k1, k1)
        if row["fold"] in totals:
            totals[row["fold"]] += p
        else:
            totals[row["fold"]] = p
    if fold_col is None:
        m = sum(totals.values()) if totals else np.zeros((k1, k1))
        return Moments(cols=list(cols), m=m)
    return {fold: Moments(cols=list(cols), m=m) for fold, m in totals.items()}


def blocked_fold_column(
    frame: DataFrame,
    date_col: str = "obs_date",
    block: int = 10,
    col_name: str = "__fold",
) -> DataFrame:
    """Attach contiguous time-blocked fold ids (M3, enetVAR.R:27-35)
    WITHOUT collapsing the frame to one partition.

    A global ``row_number().over(Window.orderBy(date))`` would move
    every row to a single partition — serializing the distributed
    moment pass that follows. The time axis itself is small (it never
    grows with data volume, only with history length), so: collect the
    distinct dates, assign ``fold = rank // block`` on the driver, and
    broadcast-join the date→fold map back. The frame keeps its
    partitioning; the join is a broadcast hash join, no shuffle.
    """
    from pyspark.sql import functions as F
    from pyspark.sql.types import IntegerType, StructField, StructType

    dates = [
        r[0] for r in frame.select(date_col).distinct().orderBy(date_col).collect()
    ]
    date_type = frame.schema[date_col].dataType
    spark = frame.sparkSession
    map_df = spark.createDataFrame(
        [(d, i // block) for i, d in enumerate(dates)],
        StructType(
            [
                StructField(date_col, date_type),
                StructField(col_name, IntegerType()),
            ]
        ),
    )
    return frame.join(F.broadcast(map_df), on=date_col, how="inner")


def moments_total(per_fold: dict[int, Moments]) -> Moments:
    folds = list(per_fold.values())
    m = folds[0].m.copy()
    for f in folds[1:]:
        m += f.m
    return Moments(cols=folds[0].cols, m=m)
