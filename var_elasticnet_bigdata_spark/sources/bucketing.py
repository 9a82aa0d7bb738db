"""Bucketed parquet tables: pay the shuffle once at write time.

At 100 TB the dominant cost of a repeated equi-join or keyed
aggregation is the shuffle of the big side. Spark's storage-level
answer is bucketing (`DataFrameWriter.bucketBy`): rows are
hash-partitioned into a fixed bucket count AT WRITE TIME and the
catalog records the layout, so every later join or group-by on the
bucket key reads the data already co-partitioned — the exchange
disappears from the plan entirely (`tests/test_bucketing.py` asserts
it). Two fact tables bucketed on the same key with the same bucket
count sort-merge-join with ZERO shuffle on either side.

Sizing rule: buckets ≈ table_size / target_partition_size (128-512 MB
compressed per bucket), and the bucket count is a lasting contract —
every producer of the table must write the same count. ``sortBy``
within buckets additionally removes the per-task sort of a
sort-merge join and keeps min/max row-group pruning sharp.

This needs `saveAsTable` (the bucket layout lives in the catalog, not
the files); plain `.parquet(path)` writes cannot carry it. The
default in-memory catalog works — no Hive metastore required.

Incremental-store contract
--------------------------
Seven incremental stores keep their accepted history in bucketed
tables: exact keys, MinHash bands, positional shingles, banded
fingerprints and video frames (`operators/dedup.py`), semantic cells
and IVF-PQ postings (`operators/similarity.py`). Each opens one
`BucketedStore` per call (the postings open a second for their
optional exact-vector sidecar), and the handle runs the lifecycle they
share, so the operators keep only their keyer and verifier:

1. **Recover before the probe.** `recover_orphaned_compaction` heals
   every table the store owns, THEN one exists probe runs on the
   last-written table. The reverse order would see a store whose
   compaction crashed mid-swap as missing, overwrite it with one
   batch, and let the next compaction drop the orphaned staging table
   that holds the whole history. The last-written table is present
   only if every earlier one is, so one probe covers the store.
2. **Pin the drop set** with ``distinct`` plus an eager
   ``localCheckpoint`` before any append. The drop plan reads the
   store tables; re-evaluated lazily after the append, it would match
   the batch against itself and drop everything.
3. **Survivors** are the batch left-anti the drop set.
4. **Sink before store.** ``on_survivors`` receives the survivors
   before any append, so a crash anywhere after the caller's sink
   write replays the batch (duplicate sink rows), never loses it.
5. **Append in write order:** ``write_bucketed`` per table, appending
   to a live store and overwriting otherwise (``fresh=True`` treats a
   leftover table as absent and overwrites it in place). Every store
   table is bucketed and sorted on its FIRST column.

`BucketedStore.compact` rewrites the tables in the same write order
(`sources/compaction.compact_bucketed`), so a crash between two
compactions keeps the last-written-implies-earlier invariant.
"""

from __future__ import annotations

from collections.abc import Callable, Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .compaction import compact_bucketed, recover_orphaned_compaction


def write_bucketed(
    df: DataFrame,
    table: str,
    bucket_cols: str | list[str],
    buckets: int = 32,
    sort_cols: str | list[str] | None = None,
    path: str | None = None,
    mode: str = "overwrite",
) -> None:
    """Write ``df`` as a bucketed (optionally bucket-sorted) parquet
    table registered in the session catalog. ``path`` makes it an
    external table at that location; otherwise it lands under
    ``spark.sql.warehouse.dir``.

    On ``mode='append'`` to an EXISTING table the catalog's location
    wins and ``path`` is ignored: compaction
    (`sources/compaction.compact_bucketed`) legitimately moves an
    external store to a sibling location (alternating ``__c``
    suffix), and pinning the caller's original path would fail every
    post-compaction append with a location-mismatch AnalysisException
    (latent until the r7 crash-recovery test exercised an
    append-after-move)."""
    bcols = [bucket_cols] if isinstance(bucket_cols, str) else list(bucket_cols)
    # Pre-partition on the bucket columns into exactly `buckets`
    # tasks: bucketBy assigns files per (task, bucket), so an
    # unpartitioned write emits up to tasks x buckets files PER
    # APPEND — the file-count growth that forces compaction. With the
    # repartition (same HashPartitioning the bucket spec uses) every
    # task holds exactly one bucket's rows and each append adds at
    # most `buckets` files. The shuffle is batch-sized by the
    # incremental-store contract (the store never rewrites; only the
    # batch moves), so this trades a small exchange for a bounded
    # file count at 100 TB append cadence.
    df = df.repartition(buckets, *[F.col(c) for c in bcols])
    w = df.write.format("parquet").mode(mode).bucketBy(buckets, *bcols)
    if sort_cols is not None:
        scols = [sort_cols] if isinstance(sort_cols, str) else list(sort_cols)
        w = w.sortBy(*scols)
    if path is not None and not (
        mode == "append" and df.sparkSession.catalog.tableExists(table)
    ):
        w = w.option("path", path)
    w.saveAsTable(table)


def read_bucketed(spark: SparkSession, table: str) -> DataFrame:
    """Read a bucketed table back WITH its layout. ``spark.table`` is
    mandatory here: ``spark.read.parquet(path)`` on the same files
    loses the bucket metadata and the exchange comes back."""
    return spark.table(table)


class BucketedStore:
    """One incremental store: the bucketed tables
    ``{name}{suffix}`` for ``suffixes`` in write order, opened for one
    operator call. Opening runs step 1 of the store contract (module
    docstring); ``exists`` is the probe's answer."""

    def __init__(
        self,
        spark: SparkSession,
        name: str,
        suffixes: Sequence[str],
        buckets: int = 32,
        path: str | None = None,
        fresh: bool = False,
    ) -> None:
        self.spark = spark
        self.tables = [f"{name}{s}" for s in suffixes]
        self.buckets = buckets
        self.path = path
        for t in self.tables:
            recover_orphaned_compaction(spark, t)
        self.exists = spark.catalog.tableExists(self.tables[-1]) and not fresh

    def commit(
        self,
        batch: DataFrame,
        id_col: str,
        dropped: DataFrame,
        store_rows: Callable[[DataFrame], Sequence[DataFrame]],
        on_survivors: Callable[[DataFrame], None] | None = None,
    ) -> DataFrame:
        """Steps 2-5 of the store contract: pin ``dropped`` (the
        batch's ``id_col`` values to drop), sink the survivors, then
        append ``store_rows(drops)`` — one frame per table, in write
        order. Returns the survivors."""
        drops = dropped.distinct().localCheckpoint(eager=True)
        survivors = batch.join(drops, id_col, "left_anti")
        if on_survivors is not None:
            on_survivors(survivors)
        self.append(*store_rows(drops))
        return survivors

    def append(self, *frames: DataFrame) -> None:
        """Write one frame per table, in write order, each bucketed and
        sorted on its first column."""
        for table, frame in zip(self.tables, frames, strict=True):
            key = frame.columns[0]
            write_bucketed(
                frame,
                table,
                key,
                buckets=self.buckets,
                sort_cols=key,
                path=None if self.path is None else f"{self.path}/{table}",
                mode="append" if self.exists else "overwrite",
            )

    def compact(self) -> None:
        """Compact every table in write order."""
        for t in self.tables:
            compact_bucketed(self.spark, t)
