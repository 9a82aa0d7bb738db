"""Streaming corpus curation: the dedup/scoring stages of the
training-data pipeline over a document STREAM.

The batch curation operators (operators/dedup.py, operators/text.py)
are pure narrow expressions, so they compose onto ``readStream``
unchanged — the scoring/signature stages below are literally the
batch expressions. The one genuinely stateful piece is exact dedup
across micro-batches: ``dropDuplicatesWithinWatermark`` keys the
state store by the content key and EVICTS state older than the
watermark, so a continuous ingest run holds state proportional to
the dedup horizon, not the corpus (the unbounded ``dropDuplicates``
variant is the classic streaming OOM).

Stream ≡ batch is asserted under availableNow in
tests/test_streaming_multimodal.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.dedup import content_key


def stream_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """File-source stream of the documents table (staging symlink dir
    — in production the ingest directory IS the source). An ingest
    timestamp is synthesized deterministically from ``doc_id`` so the
    watermark semantics are testable; a real feed carries its own."""
    import hashlib
    import os

    tag = hashlib.md5(sf_dir.encode()).hexdigest()[:8]
    stage = f"/tmp/spark_graft_stream_{tag}/documents"
    os.makedirs(stage, exist_ok=True)
    link = f"{stage}/documents.parquet"
    src = os.path.abspath(f"{sf_dir}/documents.parquet")
    if not os.path.exists(link):
        os.symlink(src, link)
    schema = spark.read.parquet(src).schema
    raw = spark.readStream.schema(schema).parquet(stage)
    return raw.withColumn(
        "ingest_ts",
        F.timestamp_seconds(F.lit(1_600_000_000) + F.col("doc_id")),
    )


def stream_exact_dedup(docs: DataFrame, horizon: str = "1 hour") -> DataFrame:
    """Exact dedup over a document stream: FIRST-PROCESSED survivor
    per content key within the watermark horizon (that is what
    ``dropDuplicatesWithinWatermark`` keeps — unlike the batch
    ``exact_dedup`` min-id rule, the surviving row among duplicates
    that land in the same micro-batch is arrival-order dependent; the
    CONTENT-KEY set is identical, which is what the stream==batch
    test asserts). State is evicted past the horizon — bounded by the
    duplicate-arrival window, not the corpus size."""
    keyed = docs.withColumn("content_key", content_key())
    return keyed.withWatermark("ingest_ts", horizon).dropDuplicatesWithinWatermark(
        ["content_key"]
    )


def stream_scored(docs: DataFrame) -> DataFrame:
    """The batch curation scoring stage applied to a stream verbatim
    (narrow expressions — no state, no shuffle)."""
    from ..operators.dedup import normalized_text, shingle_hashes_from_words
    from ..operators.text import lang_id_from, quality_sql_spark

    staged = (
        docs.withColumn("__norm", normalized_text())
        .withColumn("__words", F.split(F.col("__norm"), " "))
        .withColumn("__uw", F.array_distinct("__words"))
    )
    return staged.select(
        "doc_id",
        "ingest_ts",
        F.size("__words").alias("n_tokens"),
        lang_id_from("__uw").alias("lang_guess"),
        F.expr(quality_sql_spark("__norm", "__words")).alias("quality"),
        F.expr("array_min(" + shingle_hashes_from_words("__words", 5) + ")").alias(
            "fingerprint"
        ),
    )


def _store_loop(
    frames: DataFrame,
    store_name: str,
    suffixes: tuple[str, ...],
    checkpoint_dir: str,
    compact_every: int | None,
    trigger_available_now: bool,
    apply,
    out_path: str | None = None,
):
    """The foreachBatch crawl loop every store stream runs: skip empty
    micro-batches, call ``apply(batch_df, batch_id, sink)`` — the
    store operator, with ``sink`` appending survivors to the parquet
    corpus at ``out_path`` (None without one) — and every
    ``compact_every`` batches compact the store's tables in write
    order (`sources.bucketing.BucketedStore.compact`). Returns the
    started StreamingQuery; the caller awaits termination.

    A store dedup needs the candidate join against all accepted
    history, which Structured Streaming's keyed state cannot express;
    `foreachBatch` is the sanctioned escape hatch for this
    write-a-batch-against-external-state shape (the store tables ARE
    the state, bounded by the accepted corpus, not the stream).

    Restart semantics: `foreachBatch` replays the last uncommitted
    micro-batch after a crash, so every write in it is at-least-once.
    The sink fires inside the operator BEFORE any store append (the
    store contract in `sources.bucketing`). A crash after the corpus
    write but before or inside the store appends replays the batch
    against a store that does not yet (fully) hold it: the same
    survivors re-emerge, so the corpus gains duplicate rows but never
    loses a document. A crash after both writes replays against a
    store that already holds the batch; it self-matches and drops.
    Store first, that replay would drop documents that never reached
    the corpus. Exactly-once needs an idempotent sink (MERGE on the
    id) — out of scope for the parquet sink; downstream readers dedup
    corpus rows by id if replay duplicates matter.

    Compaction runs INSIDE foreachBatch: the stream is the store's
    only writer, so the quiesced-readers requirement holds by
    construction, and a crash inside it heals when the next batch
    opens the store. Append-only bucketed stores gain one file per
    task per bucket per batch, so a long-running ingest would
    otherwise degrade every store join into a many-tiny-files scan."""
    from ..sources.bucketing import BucketedStore

    def sink(surv: DataFrame) -> None:
        surv.write.mode("append").parquet(out_path)

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        apply(batch_df, batch_id, None if out_path is None else sink)
        if compact_every and (batch_id + 1) % compact_every == 0:
            spark = batch_df.sparkSession
            BucketedStore(spark, store_name, suffixes).compact()

    writer = (
        frames.writeStream.foreachBatch(process_batch)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
    )
    if trigger_available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def stream_near_dup_against_store(
    docs: DataFrame,
    store_name: str,
    checkpoint_dir: str,
    out_path: str,
    threshold: float = 0.5,
    buckets: int = 32,
    store_path: str | None = None,
    compact_every: int | None = None,
    trigger_available_now: bool = True,
):
    """Continuous near-dup curation against the PERSISTED bucketed
    signature store — the full production crawl loop as one streaming
    query: each micro-batch of new documents is deduplicated against
    the accepted corpus's store (`operators/dedup.
    incremental_near_dup_bucketed`: band join + shingle verify, both
    exchange-free on the store side) and against itself; survivors
    append to BOTH the parquet corpus at ``out_path`` and the store
    tables, so the next micro-batch sees them. Exact dedup stays in
    `stream_exact_dedup`'s watermarked state store; this operator is
    its heavyweight sibling.

    Runs on `_store_loop` (restart semantics, ``compact_every``); a
    replayed batch self-matches the store at Jaccard 1.0 and drops.
    """
    from ..operators.dedup import NEAR_DUP_STORE, incremental_near_dup_bucketed

    return _store_loop(
        docs, store_name, NEAR_DUP_STORE, checkpoint_dir, compact_every,
        trigger_available_now,
        lambda batch_df, _, sink: incremental_near_dup_bucketed(
            batch_df, store_name, threshold=threshold, buckets=buckets,
            path=store_path, on_survivors=sink,
        ),
        out_path,
    )


def stream_exact_dedup_against_store(
    docs: DataFrame,
    store_name: str,
    checkpoint_dir: str,
    out_path: str,
    buckets: int = 32,
    store_path: str | None = None,
    compact_every: int | None = None,
    trigger_available_now: bool = True,
):
    """Continuous EXACT dedup against the persisted content-key store
    (`operators/dedup.incremental_exact_dedup_bucketed`) — the
    lightweight sibling of `stream_near_dup_against_store` and the
    most common production crawl loop (URL / normalized-content
    keys): each micro-batch anti-joins the accepted corpus's key
    table (exchange-free on the store side), survivors append to the
    parquet corpus and then their keys to the store, so the next
    batch sees them. Runs on `_store_loop` (restart semantics,
    ``compact_every``; compaction keeps the bucket spec, so the
    exchange-free join shape survives)."""
    from ..operators.dedup import EXACT_STORE, incremental_exact_dedup_bucketed

    return _store_loop(
        docs, store_name, EXACT_STORE, checkpoint_dir, compact_every,
        trigger_available_now,
        lambda batch_df, _, sink: incremental_exact_dedup_bucketed(
            batch_df, store_name, buckets=buckets, path=store_path,
            on_survivors=sink,
        ),
        out_path,
    )


def stream_semantic_dedup_against_store(
    docs: DataFrame,
    store_name: str,
    centroids,
    checkpoint_dir: str,
    out_path: str,
    eps: float = 0.4,
    buckets: int = 32,
    store_path: str | None = None,
    compact_every: int | None = None,
    trigger_available_now: bool = True,
):
    """Continuous SemDeDup against the persisted per-cell vector
    store (`similarity.incremental_semantic_dedup_bucketed`).
    ``centroids`` is the FIXED trained matrix (train once up front —
    `kmeans_train`). Runs on `_store_loop` (restart semantics,
    ``compact_every``); the store is a SEEN-SET, so a replayed batch
    self-matches at cosine 1.0 and drops."""
    from ..operators.similarity import (
        SEMANTIC_STORE,
        incremental_semantic_dedup_bucketed,
    )

    return _store_loop(
        docs, store_name, SEMANTIC_STORE, checkpoint_dir, compact_every,
        trigger_available_now,
        lambda batch_df, _, sink: incremental_semantic_dedup_bucketed(
            batch_df, store_name, centroids, eps=eps, buckets=buckets,
            path=store_path, on_survivors=sink,
        ),
        out_path,
    )


def stream_substring_dedup_against_store(
    docs: DataFrame,
    store_name: str,
    checkpoint_dir: str,
    out_path: str,
    width: int = 8,
    min_run_tokens: int = 20,
    max_docs_per_shingle: int = 64,
    buckets: int = 32,
    store_path: str | None = None,
    compact_every: int | None = None,
    trigger_available_now: bool = True,
):
    """Continuous SUBSTRING dedup against the persisted positional-
    shingle store (`operators/dedup.incremental_substring_dedup_
    bucketed`): each micro-batch is checked for
    ≥``min_run_tokens``-token verbatim runs against ALL accepted
    history (store side of the hash join exchange-free). Runs on
    `_store_loop` (restart semantics, ``compact_every``); the store is
    a SEEN-SET and the operator deduplicates replayed match rows
    before island counting, so a replayed batch re-drops exactly its
    original drops. The positional store grows fastest of the seven
    (one row per token position), so compaction matters most here."""
    from ..operators.dedup import (
        SUBSTRING_STORE,
        incremental_substring_dedup_bucketed,
    )

    return _store_loop(
        docs, store_name, SUBSTRING_STORE, checkpoint_dir, compact_every,
        trigger_available_now,
        lambda batch_df, _, sink: incremental_substring_dedup_bucketed(
            batch_df, store_name, width=width,
            min_run_tokens=min_run_tokens,
            max_docs_per_shingle=max_docs_per_shingle, buckets=buckets,
            path=store_path, on_survivors=sink,
        ),
        out_path,
    )


def stream_fingerprint_dedup_against_store(
    docs: DataFrame,
    store_name: str,
    checkpoint_dir: str,
    out_path: str,
    hash_col: str = "fp",
    bits: int = 64,
    bands: int = 4,
    max_hamming: int = 3,
    max_ids_per_bucket: int = 64,
    buckets: int = 32,
    store_path: str | None = None,
    compact_every: int | None = None,
    trigger_available_now: bool = True,
):
    """Continuous perceptual-FINGERPRINT dedup against the persisted
    banded-fingerprint store (`operators/dedup.incremental_
    fingerprint_dedup_bucketed`) — the store stream a multimodal
    ingest runs after its decode stage: ``docs`` carries a
    precomputed int64 fingerprint column (`multimodal.image_dhash` /
    `audio_fingerprint` / `dedup.simhash` — all narrow stages that
    compose onto the stream unchanged); each micro-batch's
    fingerprints check within ``max_hamming`` of ALL accepted
    survivors (store side of the band join exchange-free). Runs on
    `_store_loop` (restart semantics, ``compact_every``); a replayed
    batch re-matches the stored survivors and re-drops."""
    from ..operators.dedup import (
        FINGERPRINT_STORE,
        incremental_fingerprint_dedup_bucketed,
    )

    return _store_loop(
        docs, store_name, FINGERPRINT_STORE, checkpoint_dir, compact_every,
        trigger_available_now,
        lambda batch_df, _, sink: incremental_fingerprint_dedup_bucketed(
            batch_df, store_name, hash_col=hash_col, bits=bits, bands=bands,
            max_hamming=max_hamming, max_ids_per_bucket=max_ids_per_bucket,
            buckets=buckets, path=store_path, on_survivors=sink,
        ),
        out_path,
    )


def stream_video_dedup_against_store(
    frames: DataFrame,
    store_name: str,
    checkpoint_dir: str,
    out_path: str,
    frame_col: str = "frame_idx",
    hash_col: str = "dhash",
    min_matching_frames: int = 2,
    bits: int = 64,
    bands: int = 4,
    max_hamming: int = 3,
    max_ids_per_bucket: int = 64,
    buckets: int = 32,
    store_path: str | None = None,
    compact_every: int | None = None,
    trigger_available_now: bool = True,
):
    """Continuous VIDEO dedup against the persisted banded store
    (`operators/dedup.incremental_video_dedup_bucketed`):
    ``frames`` carries per-video frame-sampled fingerprints
    (`multimodal.video_frame_dhash` composes onto the stream
    unchanged — payload bytes in, (id, frame_idx, dhash) rows out);
    each micro-batch's videos check against ALL accepted history
    under the ≥``min_matching_frames`` rule, and surviving frame rows
    go to the sink. Runs on `_store_loop` (restart semantics,
    ``compact_every``); a replayed batch re-matches its own stored
    frames per-frame and re-drops."""
    from ..operators.dedup import VIDEO_STORE, incremental_video_dedup_bucketed

    return _store_loop(
        frames, store_name, VIDEO_STORE, checkpoint_dir, compact_every,
        trigger_available_now,
        lambda batch_df, _, sink: incremental_video_dedup_bucketed(
            batch_df, store_name, frame_col=frame_col, hash_col=hash_col,
            min_matching_frames=min_matching_frames, bits=bits, bands=bands,
            max_hamming=max_hamming, max_ids_per_bucket=max_ids_per_bucket,
            buckets=buckets, path=store_path, on_survivors=sink,
        ),
        out_path,
    )
