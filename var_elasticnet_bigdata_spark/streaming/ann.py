"""Streaming maintenance of the IVF-PQ postings store (r11): the
exactly-once ledger in its intended habitat.

`ivfpq_postings_append(batch_id=…)` gives the index store a
committed-batch ledger; Structured Streaming's `foreachBatch` gives
every micro-batch a durable epoch id that is REPLAYED VERBATIM after
a crash. Keying the ledger with the epoch id therefore makes the
streaming ingest loop exactly-once END TO END without any extra
bookkeeping: a restarted query re-offers the failed epoch, the
ledger answers "already applied", and the append is a no-op — the
crash semantics production vector stores document for their ingest
APIs, built from the two primitives this engine already gates.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame


def stream_postings_append(
    vectors: DataFrame,
    store_name: str,
    checkpoint_dir: str,
    centroids: np.ndarray,
    codebook: np.ndarray,
    m: int = 4,
    k: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    buckets: int = 32,
    store_path: str | None = None,
    store_vectors: bool = False,
    compact_every: int | None = None,
    trigger_available_now: bool = True,
):
    """Continuous index growth: each micro-batch PQ-encodes with the
    pinned train-once artifacts and appends its postings (and, with
    ``store_vectors``, the refine sidecar) to the persisted store —
    the streaming half of the retrain-offline/append-online/serve
    lifecycle the `ann_ivfpq_postings` / `ann_ivfpq_refine` queries
    price in batch form.

    EXACTLY-ONCE: the ledger batch key is ``epoch-{batch_id}``;
    foreachBatch replays a failed epoch under the SAME id, so the
    replay is a ledger no-op (postings files byte-identical —
    regression-tested in batch form) and a crash between the sink
    and the ledger row degrades to at-least-once that serving's
    (cell, id, codes) distinct collapses. Either way the served
    top-k equals a single clean append.

    ``compact_every``: every N epochs the postings table (and, with
    ``store_vectors``, the vector sidecar) compacts in place — appends
    add one file set per epoch, and a crawl-scale ingest wants bounded
    file counts.

    Returns the StreamingQuery; caller awaits termination."""
    from ..operators.similarity import (
        POSTINGS_STORE,
        VECTOR_SIDECAR,
        ivfpq_postings_append,
    )
    from .dedup import _store_loop

    return _store_loop(
        vectors,
        store_name,
        POSTINGS_STORE + (VECTOR_SIDECAR if store_vectors else ()),
        checkpoint_dir,
        compact_every,
        trigger_available_now,
        lambda batch_df, batch_id, _: ivfpq_postings_append(
            batch_df, store_name, centroids, codebook, m=m, k=k,
            id_col=id_col, vec_col=vec_col, buckets=buckets,
            path=store_path, batch_id=f"epoch-{batch_id}",
            store_vectors=store_vectors,
        ),
    )
