"""One two-batch scenario per dedup-style incremental store, shared by
the store-contract tests (`sources.bucketing` module docstring).

Every case has batch 1 with three distinct items and batch 2 with one
duplicate of a batch-1 item (which drops) plus one new item (which
survives). ``stored`` is the set of ids the store's last-written
table holds after both batches: survivors only, or every seen row for
the seen-set stores (substring, semantic).
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass

import numpy as np

from var_elasticnet_bigdata_spark.operators import dedup, similarity

WORDS = ["alpha", "bravo", "charlie", "delta", "echo", "foxtrot"]


def _text(tag: str, k: int) -> str:
    """k distinct tokens unique to ``tag``."""
    return " ".join(f"{tag}{WORDS[i % 6]}{i}" for i in range(k))


# 64-bit fingerprints on 4x16-bit bands: NEAR flips 2 low bits of
# BASE; the others share no band with each other
BASE = 0x1111_2222_3333_4444
FAR = [0x5555_6666_7777_8888, -0x0123_4567_89AB_CDF0, 0x0F0F_1E1E_2D2D_3C3C]
FRAMES = [0x2222_3333_4444_5555, 0x4B4B_5A5A_6969_7878, 0x7777_8888_9999_AAAA]


def _vid(doc: int, hashes: list[int]) -> list[tuple]:
    return [(doc, i * 2, h) for i, h in enumerate(hashes)]


def _unit(axis: int) -> list[float]:
    return [1.0 if i == axis else 0.0 for i in range(4)]


@dataclass(frozen=True)
class StoreCase:
    name: str
    suffixes: tuple[str, ...]
    schema: str
    batch1: list[tuple]
    batch2: list[tuple]
    survivors: set[int]
    stored: set[int]
    # (batch, store_name, path, on_survivors) -> survivors frame
    run: Callable
    id_col: str = "doc_id"

    def tables(self, store: str) -> list[str]:
        return [f"{store}{s}" for s in self.suffixes]


TEXT = "doc_id long, text string"

STORE_CASES = [
    StoreCase(
        "exact", dedup.EXACT_STORE, TEXT,
        [(0, "alpha beta"), (1, "gamma delta"), (2, "epsilon nine")],
        [(10, "ALPHA beta!"), (11, "fresh content")],
        {11}, {0, 1, 2, 11},
        lambda b, s, p, hook: dedup.incremental_exact_dedup_bucketed(
            b, s, buckets=4, path=p, on_survivors=hook
        ),
    ),
    StoreCase(
        "near_dup", dedup.NEAR_DUP_STORE, TEXT,
        [(i, _text(f"w{i}x", 8)) for i in range(3)],
        [(10, _text("w0x", 8)), (11, _text("w11x", 8))],
        {11}, {0, 1, 2, 11},
        lambda b, s, p, hook: dedup.incremental_near_dup_bucketed(
            b, s, buckets=4, path=p, on_survivors=hook
        ),
    ),
    StoreCase(
        "substring", dedup.SUBSTRING_STORE, TEXT,
        [(i, _text(f"s{i}", 30)) for i in range(3)],
        [(10, _text("s0", 30)), (11, _text("s11", 30))],
        {11}, {0, 1, 2, 10, 11},
        lambda b, s, p, hook: dedup.incremental_substring_dedup_bucketed(
            b, s, buckets=4, path=p, on_survivors=hook
        ),
    ),
    StoreCase(
        "fingerprint", dedup.FINGERPRINT_STORE, "doc_id long, fp long",
        [(0, BASE), (1, FAR[0]), (2, FAR[1])],
        [(10, BASE ^ 0b11), (11, FAR[2])],
        {11}, {0, 1, 2, 11},
        lambda b, s, p, hook: dedup.incremental_fingerprint_dedup_bucketed(
            b, s, buckets=4, path=p, on_survivors=hook
        ),
    ),
    StoreCase(
        "video", dedup.VIDEO_STORE, "doc_id long, frame_idx int, dhash long",
        _vid(0, [BASE, FAR[0], FAR[1]]),
        _vid(10, [BASE ^ 0b11, FAR[0], FAR[2]]) + _vid(11, FRAMES),
        {11}, {0, 11},
        lambda b, s, p, hook: dedup.incremental_video_dedup_bucketed(
            b, s, buckets=4, path=p, on_survivors=hook
        ),
    ),
    StoreCase(
        "semantic", similarity.SEMANTIC_STORE,
        "vec_id long, embedding array<double>",
        [(i, _unit(i)) for i in range(3)],
        [(10, _unit(0)), (11, _unit(3))],
        {11}, {0, 1, 2, 10, 11},
        lambda b, s, p, hook: similarity.incremental_semantic_dedup_bucketed(
            b, s, np.eye(4), eps=0.9, buckets=4, path=p, on_survivors=hook
        ),
        id_col="vec_id",
    ),
]
