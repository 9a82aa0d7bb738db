"""Seeded inputs. Same seed, byte-identical inputs; the program sees
only what these functions produce.

- ``macro_panel``: the F1/F2 fixture shape (FIXTURES.md) — 146 monthly
  series x 696 months with ragged starts, a currency sidecar, and a
  232-quarter GDP level series. Series classes are chosen so that the
  stationarity loop takes every branch: plain diff, log-diff for the
  currency series, an extra diff round for series integrated twice,
  and ``na.omit`` alignment over leading NULL runs.
- ``write_corpus``: ``documents``/``embeddings`` parquet tables of the
  shape the registry queries read (5,000 documents of 10-100 words over
  a 30-word vocabulary with planted exact and near duplicates; 2,000
  unit-norm 64-d embeddings with 10 labels).
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pandas as pd

N_SERIES = 146
N_MONTHS = 696  # 1959-01 .. 2016-12
N_QUARTERS = 232
START = dt.date(1959, 1, 1)
N_CURRENCY = 30
N_CURRENCY_I2 = 6  # positive, still non-stationary after one log-diff
N_LEVEL_I2 = 4  # non-currency, non-stationary after one diff
N_RAGGED = 4  # leading NULL runs of differing lengths

VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
LANGS = ["en", "zh", "es", "fr", "de"]
LANG_P = [0.4, 0.15, 0.15, 0.15, 0.15]
N_DOCS = 5000
N_VECS = 2000
DIM = 64


def _months(n: int) -> list[dt.date]:
    return [dt.date(1959 + m // 12, 1 + m % 12, 1) for m in range(n)]


def _ar1(rng: np.random.Generator, n: int, phi: float, sd: float) -> np.ndarray:
    e = rng.normal(0.0, sd, n)
    out = np.empty(n)
    acc = 0.0
    for t in range(n):
        acc = phi * acc + e[t]
        out[t] = acc
    return out


def macro_panel(seed: int) -> tuple[pd.DataFrame, list[str], pd.DataFrame]:
    """Return ``(monthly_long, currency_ids, gdp)``.

    ``monthly_long``: ``(series_id, obs_date, value)`` with NULLs on the
    ragged starts. ``gdp``: ``(obs_date, gdp)`` quarterly levels."""
    rng = np.random.default_rng([seed, 1])
    ids = [f"V{i:03d}" for i in range(1, N_SERIES + 1)]
    order = rng.permutation(N_SERIES)
    currency = sorted(ids[i] for i in order[:N_CURRENCY])
    currency_i2 = set(ids[i] for i in order[:N_CURRENCY_I2])
    level_i2 = set(ids[i] for i in order[N_CURRENCY : N_CURRENCY + N_LEVEL_I2])
    cur = set(currency)
    ragged_ids = [ids[i] for i in order[N_CURRENCY + N_LEVEL_I2 :][:N_RAGGED]]
    # differing lead lengths; the longest keeps >190 quarters so the
    # preselection's 159-quarter initial window still has origins
    leads = 12 * np.sort(rng.choice(np.arange(1, 9), N_RAGGED, replace=False))

    n = N_MONTHS
    cols = {}
    for s in ids:
        if s in cur:
            # strictly positive exponential growth: the level diff is
            # non-stationary, the log-diff is not (unless integrated twice)
            if s in currency_i2:
                rate = 0.004 + np.cumsum(rng.normal(0.0, 0.0006, n))
                log_level = np.cumsum(rate + rng.normal(0.0, 0.002, n))
            else:
                log_level = np.cumsum(
                    rng.uniform(0.004, 0.008) + _ar1(rng, n, 0.3, 0.004)
                )
            x = rng.uniform(20.0, 200.0) * np.exp(log_level)
        elif s in level_i2:
            x = np.cumsum(np.cumsum(rng.normal(0.0, 0.05, n)))
        else:
            x = np.cumsum(
                rng.normal(0.0, 0.02) + _ar1(rng, n, rng.uniform(0.0, 0.6), 1.0)
            )
        cols[s] = x
    months = _months(n)
    for s, lead in zip(ragged_ids, leads):
        cols[s][: int(lead)] = np.nan
    wide = pd.DataFrame(cols)
    wide["obs_date"] = months
    long = wide.melt(id_vars="obs_date", var_name="series_id", value_name="value")
    long = long[["series_id", "obs_date", "value"]].reset_index(drop=True)

    growth = 0.0075 + _ar1(rng, N_QUARTERS, 0.4, 0.006)
    gdp = pd.DataFrame(
        {
            "obs_date": [START.replace(month=1 + 3 * (q % 4), year=1959 + q // 4)
                         for q in range(N_QUARTERS)],
            "gdp": 2976.0 * np.exp(np.cumsum(growth) - growth[0]),
        }
    )
    return long, currency, gdp


def corpus_tables(
    seed: int, n_docs: int = N_DOCS, n_vecs: int = N_VECS
) -> tuple[pd.DataFrame, pd.DataFrame]:
    """Return ``(documents, embeddings)`` frames."""
    rng = np.random.default_rng([seed, 2])
    vocab = np.array(VOCAB)
    texts = [
        " ".join(vocab[rng.integers(0, len(VOCAB), rng.integers(10, 101))])
        for _ in range(n_docs)
    ]
    # near duplicates: a later document repeats an earlier one plus a
    # marker token; exact duplicates: a later document repeats verbatim
    later = rng.choice(np.arange(n_docs // 2, n_docs), n_docs // 20 + n_docs // 625,
                       replace=False)
    for j, dst in enumerate(later):
        src = int(rng.integers(0, dst))
        texts[dst] = texts[src] + (" dup" if j < n_docs // 20 else "")
    documents = pd.DataFrame(
        {
            "doc_id": np.arange(n_docs, dtype=np.int64),
            "text": texts,
            "lang": rng.choice(LANGS, n_docs, p=LANG_P),
            "source": [f"src{i % 20}" for i in range(n_docs)],
            "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
        }
    )
    v = rng.normal(0.0, 1.0, (n_vecs, DIM))
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    embeddings = pd.DataFrame(
        {
            "vec_id": np.arange(n_vecs, dtype=np.int64),
            "embedding": list(v.astype(np.float32)),
            "label": rng.integers(0, 10, n_vecs).astype(np.int32),
        }
    )
    return documents, embeddings


def write_corpus(
    seed: int, out_dir: str, n_docs: int = N_DOCS, n_vecs: int = N_VECS
) -> None:
    """Write ``documents.parquet`` and ``embeddings.parquet`` (one row
    group each, like the sf0.1 tables) into ``out_dir``."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    documents, embeddings = corpus_tables(seed, n_docs, n_vecs)
    os.makedirs(out_dir, exist_ok=True)
    pq.write_table(
        pa.Table.from_pandas(documents, preserve_index=False),
        os.path.join(out_dir, "documents.parquet"),
    )
    emb = pa.table(
        {
            "vec_id": pa.array(embeddings["vec_id"], pa.int64()),
            "embedding": pa.array(
                [e.tolist() for e in embeddings["embedding"]], pa.list_(pa.float32())
            ),
            "label": pa.array(embeddings["label"], pa.int32()),
        }
    )
    pq.write_table(emb, os.path.join(out_dir, "embeddings.parquet"))
