"""Small-files compaction: layout normalized, content identical."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from var_elasticnet_bigdata_spark.sources.compaction import (
    compact,
    data_file_count,
    dir_bytes,
)

from .store_cases import STORE_CASES


def _fragmented(spark, path, n_files=64, rows=6400):
    (
        spark.range(rows)
        .withColumn("cat", (F.col("id") % 3).cast("int"))
        .withColumn("pay", F.md5(F.col("id").cast("string")))
        .repartition(n_files)
        .write.mode("overwrite")
        .parquet(path)
    )


def test_compact_reduces_file_count_preserves_content(spark, tmp_path):
    src, dst = str(tmp_path / "frag"), str(tmp_path / "compacted")
    _fragmented(spark, src)
    assert data_file_count(src) == 64
    compact(spark, src, dst, target_mb=128)
    # ~0.3 MB of data → a single 128 MB-target file
    assert data_file_count(dst) == 1
    a = spark.read.parquet(src)
    b = spark.read.parquet(dst)
    assert b.schema == a.schema
    assert a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0


def test_compact_partitioned_keeps_layout(spark, tmp_path):
    import os

    src, dst = str(tmp_path / "pfrag"), str(tmp_path / "pcompact")
    (
        spark.range(3000)
        .withColumn("cat", (F.col("id") % 3).cast("int"))
        .withColumn("pay", F.md5(F.col("id").cast("string")))
        .repartition(32)
        .write.partitionBy("cat")
        .mode("overwrite")
        .parquet(src)
    )
    assert data_file_count(src) >= 32
    compact(spark, src, dst, target_mb=128, partition_cols=["cat"])
    # directory layout kept, one file per partition at this size
    assert sorted(
        d for d in os.listdir(dst) if d.startswith("cat=")
    ) == ["cat=0", "cat=1", "cat=2"]
    assert data_file_count(dst) == 3
    a, b = spark.read.parquet(src), spark.read.parquet(dst)
    assert a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0
    # partition pruning still works on the compacted layout
    assert b.filter("cat = 1").count() == 1000


def test_compact_max_records_per_file(spark, tmp_path):
    src, dst = str(tmp_path / "mfrag"), str(tmp_path / "mcompact")
    _fragmented(spark, src, n_files=8, rows=1000)
    compact(spark, src, dst, target_mb=128, max_records_per_file=300)
    # 1000 rows / ≤300 per file → ≥4 files despite the 1-file target
    assert data_file_count(dst) >= 4
    assert spark.read.parquet(dst).count() == 1000


def test_compact_refuses_in_place(spark, tmp_path):
    src = str(tmp_path / "x")
    _fragmented(spark, src, n_files=2, rows=10)
    with pytest.raises(ValueError):
        compact(spark, src, src)


def test_dir_bytes_counts_data_only(spark, tmp_path):
    src = str(tmp_path / "b")
    _fragmented(spark, src, n_files=2, rows=100)
    assert dir_bytes(src) > 0
    # _SUCCESS exists but is excluded
    import os

    assert any(f.startswith("_") for f in os.listdir(src))


def test_compact_partition_cols_cover_schema_rejected(spark, tmp_path):
    """partition_cols covering the whole schema fails fast with a
    clear error (Spark's writer would reject it mid-job anyway)."""
    src, dst = str(tmp_path / "allp"), str(tmp_path / "allpc")
    (
        spark.range(100)
        .withColumn("cat", (F.col("id") % 2).cast("int"))
        .write.mode("overwrite")
        .parquet(src)
    )
    with pytest.raises(ValueError, match="whole schema"):
        compact(spark, src, dst, partition_cols=["id", "cat"])


def test_compact_partitioned_global_file_budget(spark, tmp_path):
    """The file budget is global: with n_files ≈ 4 over 3 partition
    directories, each directory gets ~ceil(4/3) files — NOT 4 files
    per directory (the salt-mod-n_files overshoot)."""
    src, dst = str(tmp_path / "gfrag"), str(tmp_path / "gcompact")
    (
        spark.range(60_000)
        .withColumn("cat", (F.col("id") % 3).cast("int"))
        .withColumn("p1", F.md5(F.col("id").cast("string")))
        .withColumn("p2", F.md5(F.concat(F.lit("x"), F.col("id").cast("string"))))
        .repartition(48)
        .write.partitionBy("cat")
        .mode("overwrite")
        .parquet(src)
    )
    n_target = compact(spark, src, dst, target_mb=1, partition_cols=["cat"])
    assert n_target >= 2  # the fixture really is multi-file-budget
    per_dir = -(-n_target // 3)
    got = data_file_count(dst)
    assert got <= 3 * per_dir, (n_target, got)
    a, b = spark.read.parquet(src), spark.read.parquet(dst)
    assert a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0


@pytest.mark.parametrize("case", STORE_CASES, ids=lambda c: c.name)
def test_crash_window_recovery_before_exists_probe(spark, tmp_path, case):
    """ADVICE r6 (medium): a crash inside compact_bucketed between
    DROP TABLE and the staging RENAME leaves only the __compacting
    table. The NEXT micro-batch's incremental operator used to probe
    tableExists first, see no store, OVERWRITE it with just that
    batch's rows — and the following compaction then dropped the
    orphaned staging table holding the full history. Opening the
    store recovers every orphan BEFORE the exists-probe, so a
    replayed batch dedups against the full recovered history."""
    from var_elasticnet_bigdata_spark.sources.bucketing import write_bucketed
    from var_elasticnet_bigdata_spark.sources.compaction import (
        recover_orphaned_compaction,
    )

    store = f"cw_{case.name}"
    tables = case.tables(store)

    def drop_all():
        for t in tables:
            spark.sql(f"DROP TABLE IF EXISTS {t}")
            spark.sql(f"DROP TABLE IF EXISTS {t}__compacting")

    drop_all()
    path = str(tmp_path / "store")
    try:
        case.run(
            spark.createDataFrame(case.batch1, case.schema), store, path, None
        )
        for i, t in enumerate(tables):
            # healthy store: recovery is a no-op
            assert recover_orphaned_compaction(spark, t) is False
            # simulate the mid-compaction crash: full rewrite sits in
            # the staging table, the target has been dropped, rename
            # never ran
            key = spark.table(t).columns[0]
            write_bucketed(
                spark.table(t), f"{t}__compacting", key, buckets=4,
                sort_cols=key, path=str(tmp_path / f"staging{i}"),
                mode="overwrite",
            )
            spark.sql(f"DROP TABLE {t}")
        # replayed micro-batch: one duplicate of batch 1, one new item
        surv = case.run(
            spark.createDataFrame(case.batch2, case.schema), store, path, None
        )
        got = {r[0] for r in surv.select(case.id_col).distinct().collect()}
        assert got == case.survivors
        # the recovered store holds the FULL history plus batch 2
        last = spark.table(tables[-1]).select(case.id_col).distinct()
        assert {r[0] for r in last.collect()} == case.stored
        for t in tables:
            assert not spark.catalog.tableExists(f"{t}__compacting")
    finally:
        drop_all()


def test_append_after_compaction_location_move(spark, tmp_path):
    """Latent-bug pin (r7): compact_bucketed moves an external store
    to a sibling ``__c`` location; a later append that still passes
    the ORIGINAL path must follow the catalog's location instead of
    dying with a location-mismatch AnalysisException — this is every
    incremental store's steady-state (append → compact → append)."""
    from var_elasticnet_bigdata_spark.sources.bucketing import write_bucketed
    from var_elasticnet_bigdata_spark.sources.compaction import (
        compact_bucketed,
    )

    spark.sql("DROP TABLE IF EXISTS mvstore")
    spark.sql("DROP TABLE IF EXISTS mvstore__compacting")
    p = str(tmp_path / "mvstore")
    try:
        df1 = spark.createDataFrame([(i, i % 3) for i in range(20)], "k long, v long")
        write_bucketed(df1, "mvstore", "k", buckets=4, path=p, mode="overwrite")
        df2 = spark.createDataFrame([(i, 9) for i in range(20, 30)], "k long, v long")
        write_bucketed(df2, "mvstore", "k", buckets=4, path=p, mode="append")
        compact_bucketed(spark, "mvstore")  # location -> mvstore__c
        df3 = spark.createDataFrame([(i, 7) for i in range(30, 35)], "k long, v long")
        write_bucketed(df3, "mvstore", "k", buckets=4, path=p, mode="append")
        assert sorted(r.k for r in spark.table("mvstore").collect()) == list(range(35))
    finally:
        spark.sql("DROP TABLE IF EXISTS mvstore")
        spark.sql("DROP TABLE IF EXISTS mvstore__compacting")
