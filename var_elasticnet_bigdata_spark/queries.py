"""Query registry: every SURVEY §2 operator declared as a
(spark_fn, oracle_sql) pair over the driver's testdata tables.

Contract (``__spark_entry__.py``): each spark_fn takes
``(spark, sf_dir)`` and returns a DataFrame; oracle_sql is the
equivalent DuckDB SQL over the same parquet (views pre-registered).
The driver hash-compares values column-name-sorted, so every computed
column is aliased IDENTICALLY on both sides, and floating-point
outputs are rounded (6 dp for ratios/logs, 2 dp for currency sums) in
BOTH engines so cross-engine 1-ulp drift cannot flip the hash.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .operators.asof import asof_join
from .sources import load_table


# --------------------------------------------------------------------------
# registry plumbing
# --------------------------------------------------------------------------

QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {}
ORACLE: dict[str, str] = {}


def query(name: str, sql: str | None = None):
    def deco(fn):
        QUERIES[name] = fn
        if sql is not None:
            ORACLE[name] = sql
        return fn

    return deco


def r2(c):  # currency-scale round
    return F.round(c, 2)


def r6(c):  # ratio/log-scale round
    return F.round(c, 6)


# --------------------------------------------------------------------------
# M0 relational spine — scans, filters, joins, aggs, windows
# --------------------------------------------------------------------------


@query(
    "flagship_quarterly_revenue_growth",
    """
    WITH q AS (
      SELECT CAST(date_trunc('quarter', o_orderdate) AS DATE) AS quarter,
             ROUND(SUM(o_totalprice), 2) AS revenue
      FROM orders GROUP BY 1
    )
    SELECT quarter, revenue,
           ROUND(LN(revenue) - LN(LAG(revenue) OVER (ORDER BY quarter)), 6)
             AS log_growth
    FROM q ORDER BY quarter
    """,
)
def flagship_quarterly_revenue_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flagship (SURVEY §7 M0): quarterly revenue roll-up (A1) +
    log-diff growth (W2) in one DAG. Partial+final hash agg, then a
    single tiny window over ~40 quarter rows."""
    orders = load_table(spark, sf_dir, "orders")
    q = (
        orders.groupBy(
            F.date_trunc("quarter", "o_orderdate").cast("date").alias("quarter")
        )
        .agg(r2(F.sum("o_totalprice")).alias("revenue"))
    )
    w = Window.orderBy("quarter")
    return q.select(
        "quarter",
        "revenue",
        r6(F.log("revenue") - F.log(F.lag("revenue", 1).over(w))).alias("log_growth"),
    ).orderBy("quarter")


@query(
    "p_filter_project",
    """
    SELECT c_custkey, c_name, ROUND(c_acctbal, 2) AS acctbal
    FROM customer
    WHERE c_mktsegment = 'BUILDING' AND c_acctbal > 1000.0
    """,
)
def p_filter_project(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P1/P2 projection + predicate; both push into the parquet scan
    (PushedFilters + 3-column ReadSchema in `.explain`)."""
    c = load_table(spark, sf_dir, "customer")
    return c.filter(
        (F.col("c_mktsegment") == "BUILDING") & (F.col("c_acctbal") > 1000.0)
    ).select("c_custkey", "c_name", r2(F.col("c_acctbal")).alias("acctbal"))


@query(
    "p3_time_slice",
    """
    SELECT o_orderkey, o_orderdate, ROUND(o_totalprice, 2) AS totalprice
    FROM orders
    WHERE o_orderdate >= TIMESTAMP '1996-01-01'
      AND o_orderdate <  TIMESTAMP '1997-01-01'
    """,
)
def p3_time_slice(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P3 time-window slice ≡ zoo window(start, end); at scale this is
    partition pruning on a date-partitioned fact table."""
    o = load_table(spark, sf_dir, "orders")
    return o.filter(
        (F.col("o_orderdate") >= "1996-01-01") & (F.col("o_orderdate") < "1997-01-01")
    ).select("o_orderkey", "o_orderdate", r2(F.col("o_totalprice")).alias("totalprice"))


@query(
    "p5_dropna_after_diff",
    """
    WITH m AS (
      SELECT event_type AS series_id,
             CAST(date_trunc('day', ts) AS DATE) AS obs_date,
             ROUND(SUM(value), 6) AS value
      FROM events GROUP BY 1, 2
    ), d AS (
      SELECT series_id, obs_date,
             ROUND(value - LAG(value) OVER
               (PARTITION BY series_id ORDER BY obs_date), 6) AS diff1
      FROM m
    )
    SELECT series_id, obs_date, diff1 FROM d WHERE diff1 IS NOT NULL
    """,
)
def p5_dropna_after_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P5 NA-row drop ≡ na.omit before estimation (Main.R:196): the
    leading NULL each differenced series carries (na.pad) is dropped
    — `dropna` compiles to an IsNotNull filter on the window output."""
    from .operators import timeseries as ts

    m = _daily_events(spark, sf_dir)
    d = ts.diff(m, out_col="diff1", na_pad=False)
    return d.select("series_id", "obs_date", r6(F.col("diff1")).alias("diff1"))


@query(
    "p6_all_positive_groups",
    """
    WITH m AS (
      SELECT event_type AS series_id,
             CAST(date_trunc('day', ts) AS DATE) AS obs_date,
             ROUND(SUM(value), 6) AS value
      FROM events GROUP BY 1, 2
    ), d AS (
      SELECT series_id,
             value - LAG(value) OVER
               (PARTITION BY series_id ORDER BY obs_date) AS diff1
      FROM m
    )
    SELECT series_id, MIN(diff1) > 0 AS all_positive
    FROM d WHERE diff1 IS NOT NULL GROUP BY 1
    """,
)
def p6_all_positive_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P6 NA-aware all-positive predicate (`all(na.omit(x)>0)`,
    Main.R:72) — the currency-series log-diff eligibility test — as a
    grouped min over the NA-dropped diff series. Map-side combinable."""
    from .operators import timeseries as ts

    m = _daily_events(spark, sf_dir)
    d = ts.diff(m, out_col="diff1", na_pad=False)
    return d.groupBy("series_id").agg((F.min("diff1") > 0).alias("all_positive"))


@query(
    "j1_align_join",
    """
    WITH o AS (
      SELECT CAST(date_trunc('quarter', o_orderdate) AS DATE) AS quarter,
             ROUND(SUM(o_totalprice), 2) AS revenue
      FROM orders GROUP BY 1
    ), l AS (
      SELECT CAST(date_trunc('quarter', l_shipdate) AS DATE) AS quarter,
             ROUND(SUM(l_quantity), 2) AS shipped_qty
      FROM lineitem GROUP BY 1
    )
    SELECT COALESCE(o.quarter, l.quarter) AS quarter, o.revenue, l.shipped_qty
    FROM o FULL OUTER JOIN l ON o.quarter = l.quarter
    """,
)
def j1_align_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J1 time-index align merge ≡ merge.zoo (Main.R:96): full-outer
    equi-join of two quarterly roll-ups, NULL-filling gaps."""
    o = (
        load_table(spark, sf_dir, "orders")
        .groupBy(F.date_trunc("quarter", "o_orderdate").cast("date").alias("quarter"))
        .agg(r2(F.sum("o_totalprice")).alias("revenue"))
    )
    li = (
        load_table(spark, sf_dir, "lineitem")
        .groupBy(F.date_trunc("quarter", "l_shipdate").cast("date").alias("quarter"))
        .agg(r2(F.sum("l_quantity")).alias("shipped_qty"))
    )
    return o.join(li, on="quarter", how="full_outer")


@query(
    "j_broadcast_dim_join",
    """
    SELECT r.r_name AS region, n.n_name AS nation,
           COUNT(*) AS customers, ROUND(SUM(c.c_acctbal), 2) AS total_acctbal
    FROM customer c
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    JOIN region r ON n.n_regionkey = r.r_regionkey
    GROUP BY 1, 2
    """,
)
def j_broadcast_dim_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Star-schema dim join: both dims explicitly broadcast — no
    shuffle of the fact side for the join, only the final group-by."""
    c = load_table(spark, sf_dir, "customer")
    n = F.broadcast(load_table(spark, sf_dir, "nation"))
    r = F.broadcast(load_table(spark, sf_dir, "region"))
    return (
        c.join(n, c.c_nationkey == n.n_nationkey)
        .join(r, n.n_regionkey == r.r_regionkey)
        .groupBy(F.col("r_name").alias("region"), F.col("n_name").alias("nation"))
        .agg(
            F.count(F.lit(1)).alias("customers"),
            r2(F.sum("c_acctbal")).alias("total_acctbal"),
        )
    )


@query(
    "j2_asof_join",
    """
    WITH p AS (
      SELECT event_id AS purchase_id, user_id, ts, value AS purchase_value
      FROM events WHERE event_type = 'purchase'
    ),
    c AS (
      SELECT event_id AS click_id, user_id, ts, value AS click_value
      FROM events WHERE event_type = 'click'
    )
    SELECT p.purchase_id, p.user_id, p.ts, c.ts AS ts_r, c.click_id,
           ROUND(c.click_value, 6) AS click_value,
           date_diff('microsecond', c.ts, p.ts) AS gap_us
    FROM p ASOF JOIN c
      ON p.user_id = c.user_id AND p.ts >= c.ts
    """,
)
def j2_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join (union-merge formulation, `operators/asof.py`):
    every purchase picks up the most recent prior click of the same
    user — one shuffle on user_id, one per-key sort, no range
    explosion. Oracle: DuckDB's native ASOF JOIN. The right side is
    tie-free on (user_id, ts) in this dataset (verified), so the
    match is deterministic."""
    ev = load_table(spark, sf_dir, "events")
    purch = ev.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"),
        "user_id",
        "ts",
        F.col("value").alias("purchase_value"),
    )
    clicks = ev.filter(F.col("event_type") == "click").select(
        F.col("event_id").alias("click_id"),
        "user_id",
        "ts",
        F.col("value").alias("click_value"),
    )
    res = asof_join(purch, clicks, on="user_id", left_ts="ts", how="inner")
    return res.select(
        "purchase_id",
        "user_id",
        "ts",
        "ts_r",
        "click_id",
        r6(F.col("click_value")).alias("click_value"),
        (
            F.unix_micros(F.col("ts").cast("timestamp"))
            - F.unix_micros(F.col("ts_r").cast("timestamp"))
        ).alias("gap_us"),
    )


@query(
    "j5_interval_attribution",
    """
    WITH p AS (SELECT event_id AS purchase_id, user_id, ts AS p_ts
               FROM events WHERE event_type = 'purchase'),
         c AS (SELECT event_id AS click_id, user_id, ts AS c_ts
               FROM events WHERE event_type = 'click')
    SELECT p.purchase_id, p.user_id, p.p_ts, c.click_id, c.c_ts
    FROM p JOIN c ON p.user_id = c.user_id
               AND c.c_ts <= p.p_ts
               AND c.c_ts >= p.p_ts - INTERVAL 360 MINUTES
    """,
)
def j5_interval_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keyed event-time interval join (`streaming/joins.py`): every
    purchase attributed to same-user clicks within the preceding 6 h.
    The IDENTICAL builder runs as a watermarked stream-stream join
    (state bounded by the lookback, asserted stream ≡ batch in
    tests/test_streaming_multimodal.py); this batch form is the
    DuckDB hash gate."""
    from .streaming.joins import purchase_click_attribution

    ev = load_table(spark, sf_dir, "events")
    return purchase_click_attribution(ev, lookback_minutes=360)


@query("text_unigram_logprob", None)  # oracle registered below
def text_unigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perplexity-lite corpus scoring
    (`operators/text.unigram_logprob`): per-doc mean
    ln P(token) under the corpus's own unigram distribution — the
    outlier-document filter of a curation pipeline, fully relational
    (vocab group-by + token-keyed join), replayed exactly in SQL."""
    from .operators.text import unigram_logprob

    docs = load_table(spark, sf_dir, "documents")
    res = unigram_logprob(docs)
    return res.select(
        "doc_id", "n_tokens", r6(F.col("logprob")).alias("logprob")
    )


def _register_unigram_oracle() -> None:
    from .operators.dedup import NORM_SQL_DUCK

    ORACLE["text_unigram_logprob"] = f"""
        WITH toks AS (
          SELECT doc_id, t.tok
          FROM documents, UNNEST(string_split({NORM_SQL_DUCK}, ' ')) AS t(tok)
          WHERE t.tok <> ''),
        vocab AS (SELECT tok, COUNT(*) AS cnt FROM toks GROUP BY 1),
        total AS (SELECT SUM(cnt) AS tot FROM vocab)
        SELECT toks.doc_id, COUNT(*) AS n_tokens,
               ROUND(AVG(LN(vocab.cnt / total.tot)), 6) AS logprob
        FROM toks JOIN vocab USING (tok) CROSS JOIN total
        GROUP BY 1
    """


_register_unigram_oracle()


@query("text_bigram_logprob", None)  # oracle registered below
def text_bigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interpolated-bigram LM scoring
    (`operators/text.bigram_logprob`, the KenLM-direction upgrade of
    the unigram filter): per-doc mean
    ln(λ·c₂(prev,tok)/c_ctx(prev) + (1−λ)·c₁(tok)/N) at λ=0.7, all
    counts from the corpus itself via partitioned windows over one
    persisted token stream — no vocabulary join, no Python. Docs
    with fewer than two tokens are omitted (no scored positions).
    The DuckDB twin replays tokenization, the lag that forms
    bigrams, all three count windows, and the interpolation."""
    from .operators.text import bigram_logprob

    docs = load_table(spark, sf_dir, "documents")
    res = bigram_logprob(docs, lam=0.7)
    return res.select(
        "doc_id", "n_bigrams", r6(F.col("logprob")).alias("logprob")
    )


def _register_bigram_oracle() -> None:
    from .operators.text import duck_bigram_logprob_sql

    ORACLE["text_bigram_logprob"] = duck_bigram_logprob_sql(lam=0.7)


_register_bigram_oracle()


@query("text_bigram_perplexity", None)  # oracle registered below
def text_bigram_perplexity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bigram-LM PERPLEXITY per document
    (`operators/text.bigram_perplexity`, VERDICT r8 item 3): the
    exp(−mean ln P) number a KenLM-shaped CCNet-style quality filter
    thresholds on, over the same interpolated-backoff model as
    `text_bigram_logprob` (λ=0.7; one persisted token stream, four
    partitioned count windows, no vocabulary join, no Python). The
    twin replays the identical model and applies EXP at the same
    point."""
    from .operators.text import bigram_perplexity

    docs = load_table(spark, sf_dir, "documents")
    res = bigram_perplexity(docs, lam=0.7)
    return res.select(
        "doc_id", "n_bigrams", r6(F.col("perplexity")).alias("perplexity")
    )


def _register_bigram_perplexity_oracle() -> None:
    from .operators.text import duck_bigram_perplexity_sql

    ORACLE["text_bigram_perplexity"] = duck_bigram_perplexity_sql(lam=0.7)


_register_bigram_perplexity_oracle()


@query("text_perplexity_curriculum", None)  # oracle registered below
def text_perplexity_curriculum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FLUENCY curriculum (`text.perplexity_curriculum`, VERDICT r8
    item 3's curriculum variant): exact global deciles of the bigram
    perplexity — bucket 1 = most fluent — through the same two-phase
    distributed row_number as `text_quality_curriculum`
    (`shard.global_rank`: range partition + broadcast count prefixes,
    never a single-partition window). The rank key snaps to 6 dp on
    BOTH engines before ranking (summation-order drift in AVG(LN p)
    must not flip neighbor ranks); ceil-bucket formula replicated
    verbatim in the twin."""
    from .operators.text import perplexity_curriculum

    docs = load_table(spark, sf_dir, "documents")
    return perplexity_curriculum(docs, n_buckets=10, lam=0.7)


def _register_perplexity_curriculum_oracle() -> None:
    from .operators.text import duck_perplexity_curriculum_sql

    ORACLE["text_perplexity_curriculum"] = duck_perplexity_curriculum_sql(
        n_buckets=10, lam=0.7
    )


_register_perplexity_curriculum_oracle()


@query("text_kn_perplexity", None)  # oracle registered below
def text_kn_perplexity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interpolated KNESER-NEY bigram perplexity
    (`text.kn_bigram_perplexity`) — the smoothing KenLM ships, one
    step past `text_bigram_perplexity`'s fixed-λ interpolation:
    absolute discount with the redistributed mass weighted by
    CONTINUATION counts (distinct contexts, not raw frequency). The
    model is aggregated FIRST (bigram types, then context /
    continuation stats over the model-sized types frame — never a
    corpus-sized distinct-count window), and the token stream joins
    the finished model once on (prev, tok). The twin replays the
    identical aggregate-first build and P_KN parenthesization."""
    from .operators.text import kn_bigram_perplexity

    docs = load_table(spark, sf_dir, "documents")
    return kn_bigram_perplexity(docs, discount=0.75)


def _register_kn_perplexity_oracle() -> None:
    from .operators.text import duck_kn_perplexity_sql

    ORACLE["text_kn_perplexity"] = duck_kn_perplexity_sql(discount=0.75)


_register_kn_perplexity_oracle()


@query("text_kn3_perplexity", None)  # oracle registered below
def text_kn3_perplexity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document perplexity under INTERPOLATED TRIGRAM Kneser-Ney
    (`text.kn_trigram_perplexity`, r11 VERDICT r10 item 6): the
    aggregate-first KN shape one order up — corpus pays ONE (u,v,w)
    shuffle into the trigram TYPES frame, all lower-order statistics
    are continuation counts derived from it (t2 = N1+(.vw), its
    margins, T), and the token stream joins the finished model once;
    no corpus-sized COUNT(DISTINCT) window anywhere. The twin replays
    the full two-level interpolation with identical parenthesization;
    a hand-derived micro-corpus pin lives in tests/test_kn3.py."""
    from .operators.text import kn_trigram_perplexity

    docs = load_table(spark, sf_dir, "documents")
    return kn_trigram_perplexity(docs, discount=0.75)


def _register_kn3_perplexity_oracle() -> None:
    from .operators.text import duck_kn3_perplexity_sql

    ORACLE["text_kn3_perplexity"] = duck_kn3_perplexity_sql(discount=0.75)


_register_kn3_perplexity_oracle()


@query("text_kn5_perplexity", None)  # oracle registered below
def text_kn5_perplexity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document perplexity under 5-GRAM interpolated Kneser-Ney
    (`text.kn_ngram_perplexity`, r11) — the order modern
    data-quality perplexity filters actually run (CCNet/KenLM
    lineage). Arbitrary-order generalization of the trigram build:
    ONE corpus shuffle into the order-5 TYPES frame, each lower
    level a strictly-shrinking groupBy of the level above
    (continuation counts all the way down), the model assembled by
    nine model-sized joins, the token stream joining it once on all
    five token columns. The twin is generated programmatically for
    the same order with the identical nested parenthesization; the
    order=3 instance is pinned equal to the hand-written trigram
    operator in tests/test_kn3.py."""
    from .operators.text import kn_ngram_perplexity

    docs = load_table(spark, sf_dir, "documents")
    return kn_ngram_perplexity(docs, order=5, discount=0.75)


def _register_kn5_perplexity_oracle() -> None:
    from .operators.text import duck_kn_ngram_perplexity_sql

    ORACLE["text_kn5_perplexity"] = duck_kn_ngram_perplexity_sql(
        order=5, discount=0.75
    )


_register_kn5_perplexity_oracle()


@query("text_classifier_train", None)  # oracle registered below
def text_classifier_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DISTRIBUTED classifier training (`text.train_quality_classifier`)
    — the loop that produces the weights `text_classifier_score` only
    infers with: 3 synchronous full-batch GD steps of logistic
    regression on exact-rational doc features (counts / powers of
    two), label = is-English. Each step is ONE map-side-combined
    aggregation returning d=4 gradient sums (d doubles cross the
    wire, never rows) + d flops of driver arithmetic — the
    `pca_top_components` scale shape applied to model TRAINING. The
    twin unrolls all 3 steps as a CTE chain with the identical
    per-step gradient snap (9 dp), weight snap (12 dp), and margin
    parenthesization; step 1's sigmoid is exactly 1/2 (w=0), so the
    first gradient is pure rational arithmetic on both engines."""
    from .operators.text import train_quality_classifier

    docs = load_table(spark, sf_dir, "documents")
    return train_quality_classifier(docs, steps=3, lr=0.5)


def _register_classifier_train_oracle() -> None:
    from .operators.text import duck_classifier_train_sql

    ORACLE["text_classifier_train"] = duck_classifier_train_sql(
        steps=3, lr=0.5
    )


_register_classifier_train_oracle()


@query("split_train_val_test", None)  # oracle registered below
def split_train_val_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic train/val/test assignment
    (`operators/split.hash_split`): split = pure function of
    md5(doc_id) hex buckets, so re-runs, backfills, and other engines
    agree row for row — the DuckDB twin IS the same rule
    (`duck_split_sql`). Narrow and shuffle-free; the aggregate output
    keeps the gate focused on assignment, not row order."""
    from .operators.split import hash_split

    docs = load_table(spark, sf_dir, "documents")
    lab = hash_split(docs, "doc_id")
    return lab.groupBy("split").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.min("doc_id").alias("min_id"),
        F.sum("doc_id").alias("sum_id"),
    )


def _register_split_oracle() -> None:
    from .operators.split import duck_split_sql

    ORACLE["split_train_val_test"] = f"""
        SELECT {duck_split_sql("doc_id")} AS split,
               COUNT(*) AS n_docs, MIN(doc_id) AS min_id,
               CAST(SUM(doc_id) AS BIGINT) AS sum_id
        FROM documents GROUP BY 1
    """


_register_split_oracle()


@query(
    "g10_funnel",
    """
    WITH v AS (SELECT user_id, MIN(ts) AS v_ts FROM events
               WHERE event_type = 'view' GROUP BY 1),
         c AS (SELECT e.user_id, MIN(e.ts) AS c_ts
               FROM events e JOIN v ON e.user_id = v.user_id
               WHERE e.event_type = 'click' AND e.ts > v.v_ts GROUP BY 1),
         p AS (SELECT e.user_id, MIN(e.ts) AS p_ts
               FROM events e JOIN c ON e.user_id = c.user_id
               WHERE e.event_type = 'purchase' AND e.ts > c.c_ts GROUP BY 1)
    SELECT '1_view' AS step, COUNT(*) AS n_users FROM v
    UNION ALL SELECT '2_click', COUNT(*) FROM c
    UNION ALL SELECT '3_purchase', COUNT(*) FROM p
    """,
)
def g10_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered-sequence funnel: users whose first view precedes a
    click precedes a purchase, counted per completed step. Each stage
    is a keyed min-aggregate joined forward — three key shuffles,
    monotonically shrinking frames, no sequence explosion."""
    ev = load_table(spark, sf_dir, "events")
    v = (
        ev.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts").alias("v_ts"))
    )
    c = (
        ev.filter(F.col("event_type") == "click")
        .join(v, "user_id")
        .filter(F.col("ts") > F.col("v_ts"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("c_ts"))
    )
    p = (
        ev.filter(F.col("event_type") == "purchase")
        .join(c, "user_id")
        .filter(F.col("ts") > F.col("c_ts"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("p_ts"))
    )
    count = lambda df, name: df.agg(  # noqa: E731
        F.count(F.lit(1)).alias("n_users")
    ).select(F.lit(name).alias("step"), "n_users")
    return count(v, "1_view").unionByName(count(c, "2_click")).unionByName(
        count(p, "3_purchase")
    )


@query(
    "dedup_fuzzy_levenshtein",
    """
    WITH d AS (
      SELECT doc_id, text,
             array_to_string(list_slice(string_split(text, ' '), 1, 2), ' ')
               AS blk,
             CAST(FLOOR(len(text)/40) AS INT) AS lb
      FROM documents)
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           CAST(levenshtein(substr(a.text, 1, 80), substr(b.text, 1, 80))
                AS BIGINT) AS dist
    FROM d a JOIN d b ON a.blk = b.blk AND a.lb = b.lb
                     AND a.doc_id < b.doc_id
    WHERE levenshtein(substr(a.text, 1, 80), substr(b.text, 1, 80)) <= 20
    """,
)
def dedup_fuzzy_levenshtein(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blocked edit-distance near-dup
    (`operators/dedup.fuzzy_near_dup_pairs`): candidates agree on the
    first two tokens and a length band, then a prefix-truncated JVM
    Levenshtein verifies — candidate+verify like the MinHash pipeline,
    never all-pairs. Oracle replays blocking and verification with
    DuckDB's levenshtein."""
    from .operators.dedup import fuzzy_near_dup_pairs

    docs = load_table(spark, sf_dir, "documents")
    return fuzzy_near_dup_pairs(docs)


@query(
    "dedup_keep_latest",
    """
    SELECT user_id, event_type, event_id, ts, ROUND(value, 6) AS value
    FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id, event_type
                                       ORDER BY ts DESC, event_id DESC) AS rn
          FROM events)
    WHERE rn = 1
    """,
)
def dedup_keep_latest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Upsert/CDC compaction (`operators/dedup.keep_latest`): one
    surviving row per (user, event type) — the most recent, tie-broken
    on event_id so the survivor is deterministic. One key shuffle,
    per-group rank."""
    from .operators.dedup import keep_latest

    ev = load_table(spark, sf_dir, "events")
    res = keep_latest(
        ev, ["user_id", "event_type"], "ts", tiebreak="event_id"
    )
    return res.select(
        "user_id", "event_type", "event_id", "ts",
        r6(F.col("value")).alias("value"),
    )


@query(
    "g9_percentile",
    """
    WITH g AS (
      SELECT event_type, quantile_cont(value, [0.5, 0.9, 0.99]) AS qv
      FROM events GROUP BY 1
    )
    SELECT event_type, [0.5, 0.9, 0.99][i] AS q, ROUND(x, 6) AS value
    FROM (SELECT event_type, unnest(qv) AS x,
                 generate_subscripts(qv, 1) AS i
          FROM g)
    """,
)
def g9_percentile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact grouped quantiles (`operators/sketch.grouped_quantiles`):
    linear-interpolated percentiles per event type — the driver-gate
    twin of the mergeable percentile_approx sketch, whose rank error
    is measured against this in tests/test_sketch.py."""
    from .operators.sketch import grouped_quantiles

    ev = load_table(spark, sf_dir, "events")
    res = grouped_quantiles(ev, ["event_type"], "value", [0.5, 0.9, 0.99])
    return res.select("event_type", "q", r6(F.col("value")).alias("value"))


@query(
    "j4_range_join",
    """
    WITH iv AS (
      SELECT user_id, CAST(date_trunc('day', ts) AS DATE) AS obs_day,
             MIN(ts) AS lo, MAX(ts) AS hi
      FROM events WHERE event_type = 'click' GROUP BY 1, 2
    ),
    p AS (SELECT ts FROM events WHERE event_type = 'purchase')
    SELECT iv.user_id, iv.obs_day, COUNT(*) AS n_hits
    FROM iv JOIN p ON p.ts >= iv.lo AND p.ts <= iv.hi
    GROUP BY 1, 2
    """,
)
def j4_range_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-interval range join (`operators/rangejoin.py`): count
    ALL purchases falling inside each user's daily click-activity
    window [first click, last click] — no equi-key, so the naive plan
    is cartesian. The grid-bucketed form (1-day cells ≈ the interval
    width) joins on cell keys only; the oracle is DuckDB's native
    range join over the same predicate."""
    from .operators.rangejoin import range_join

    ev = load_table(spark, sf_dir, "events")
    iv = (
        ev.filter(F.col("event_type") == "click")
        .groupBy(
            "user_id",
            F.date_trunc("day", "ts").cast("date").alias("obs_day"),
        )
        .agg(F.min("ts").alias("lo"), F.max("ts").alias("hi"))
    )
    pts = ev.filter(F.col("event_type") == "purchase").select(
        F.col("ts").alias("pts")
    )
    hits = range_join(pts, iv, "pts", "lo", "hi", grid=86_400.0)
    return hits.groupBy("user_id", "obs_day").agg(
        F.count(F.lit(1)).alias("n_hits")
    )


@query(
    "g8_salted_agg",
    """
    SELECT event_type,
           COUNT(*) AS n_events,
           ROUND(SUM(value), 2) AS total_value,
           ROUND(AVG(value), 6) AS avg_value,
           ROUND(MIN(value), 6) AS min_value,
           ROUND(MAX(value), 6) AS max_value
    FROM events GROUP BY 1
    """,
)
def g8_salted_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hot-key aggregation via `operators/skew.salted_agg`: only 5
    distinct event_type keys over the whole table, so an un-salted
    final reduce is 5 tasks no matter the cluster size. The salted
    two-stage spreads each key over 8 reducers and recombines; the
    oracle is the PLAIN group-by — salting must be invisible in the
    result."""
    from .operators.skew import salted_agg

    ev = load_table(spark, sf_dir, "events")
    res = salted_agg(
        ev,
        keys=["event_type"],
        aggs={
            "n_events": ("count", "event_id"),
            "total_value": ("sum", "value"),
            "avg_value": ("avg", "value"),
            "min_value": ("min", "value"),
            "max_value": ("max", "value"),
        },
        salts=8,
    )
    return res.select(
        "event_type",
        "n_events",
        r2(F.col("total_value")).alias("total_value"),
        r6(F.col("avg_value")).alias("avg_value"),
        r6(F.col("min_value")).alias("min_value"),
        r6(F.col("max_value")).alias("max_value"),
    )


@query(
    "j3_salted_skew_join",
    """
    SELECT c.c_mktsegment AS segment,
           COUNT(*) AS n_events,
           ROUND(SUM(e.value), 2) AS total_value,
           ROUND(AVG(c.c_acctbal), 2) AS avg_acctbal
    FROM events e JOIN customer c ON e.user_id = c.c_custkey
    GROUP BY 1
    """,
)
def j3_salted_skew_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Replicated-salt join (`operators/skew.salted_join`): events'
    user_id histogram concentrates on 150 keys; the salted form joins
    on (key, salt) with the customer side replicated 8x, splitting
    every hot key across 8 shuffle partitions. Oracle is the plain
    SQL join — the rewrite is semantics-preserving by construction."""
    from .operators.skew import salted_join

    ev = load_table(spark, sf_dir, "events").select("user_id", "value")
    cust = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("user_id"), "c_mktsegment", "c_acctbal"
    )
    joined = salted_join(ev, cust, on="user_id", salts=8)
    return (
        joined.groupBy(F.col("c_mktsegment").alias("segment"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            r2(F.sum("value")).alias("total_value"),
            r2(F.avg("c_acctbal")).alias("avg_acctbal"),
        )
    )


# --------------------------------------------------------------------------
# time-series windows W1-W10 over testdata series
# --------------------------------------------------------------------------

_DAILY_EVENTS_CTE = """
    WITH m AS (
      SELECT event_type AS series_id,
             CAST(date_trunc('day', ts) AS DATE) AS obs_date,
             ROUND(SUM(value), 6) AS value
      FROM events
      GROUP BY 1, 2
    )
"""


_SHARED_FRAME_CACHE: dict[tuple[str, str, str], DataFrame] = {}


def _shared_frame(spark: SparkSession, sf_dir: str, name: str, build) -> DataFrame:
    """Memoize + persist the small shared roll-up frames (the
    materialized-view pattern): a dozen queries derive from the daily
    event series / quarterly pair, and re-running the upstream
    aggregation per query dominates their wall-clock at bench scale.
    Keyed per Spark application so test sessions don't cross-talk.

    Re-persists on reuse (r10): bench.py/retime.py call
    ``spark.catalog.clearCache()`` between timed runs, which drops
    BOTH the cached blocks and the persist REGISTRATION of the
    memoized DataFrame — after which every downstream action
    recomputed the upstream agg from parquet. For the ML/selection
    family (VERDICT r9 item 1) that meant ~10-30 small driver jobs
    per query EACH paying a host-load-sensitive agg rebuild — an N×
    amplifier of session noise (measured: ml_acf_selection 29 jobs,
    0.4-0.5 s per rebuild at sf0.1). Re-registering the persist makes
    the first action per timed run materialize the agg ONCE and every
    later job a cache hit, which both speeds the family up and
    de-amplifies host drift.

    ``SPARK_GRAFT_NO_STAGED_CACHE=1`` (the plan-snapshot escape
    hatch, same contract as plans/cachereg.py) disables persistence
    entirely so locked signatures stay the CANONICAL UNCACHED plan
    shapes — otherwise the re-persist would hide the shared subtree's
    Exchange/Sort inside an InMemoryTableScan depending on clearCache
    timing relative to the snapshot loop."""
    import os as _os

    if _os.environ.get("SPARK_GRAFT_NO_STAGED_CACHE"):
        return build()
    key = (spark.sparkContext.applicationId, sf_dir, name)
    df = _SHARED_FRAME_CACHE.get(key)
    if df is None:
        df = build().persist()
        _SHARED_FRAME_CACHE[key] = df
    else:
        sl = df.storageLevel
        if not (sl.useMemory or sl.useDisk):
            df.persist()
    return df


def _daily_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shared fixture frame: events rolled up to a daily long series
    table (series_id=event_type, obs_date=day, value=sum) — the
    engine's canonical long layout over the driver's testdata."""

    def build() -> DataFrame:
        e = load_table(spark, sf_dir, "events")
        return e.groupBy(
            F.col("event_type").alias("series_id"),
            F.date_trunc("day", "ts").cast("date").alias("obs_date"),
        ).agg(r6(F.sum("value")).alias("value"))

    return _shared_frame(spark, sf_dir, "daily_events", build)


_CORR_SERIES = ["click", "error", "purchase", "signup", "view"]
_CORR_PAIRS = [
    (a, b)
    for i, a in enumerate(_CORR_SERIES)
    for b in _CORR_SERIES[i + 1 :]
]


@query(
    "stat_corr_matrix",
    _DAILY_EVENTS_CTE
    + f""",
    wide AS (
      SELECT obs_date,
             {", ".join(f"MAX(CASE WHEN series_id = '{s}' THEN value END) AS {s}" for s in _CORR_SERIES)}
      FROM m GROUP BY 1),
    c AS (SELECT {", ".join(f"corr({a}, {b}) AS c_{a}_{b}" for a, b in _CORR_PAIRS)}
          FROM wide)
    {" UNION ALL ".join(f"SELECT '{a}' AS series_a, '{b}' AS series_b, ROUND(c_{a}_{b}, 6) AS corr FROM c" for a, b in _CORR_PAIRS)}
    """,
)
def stat_corr_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise Pearson correlations of all daily event series in ONE
    aggregation pass (the §4.3 moments pattern: every corr aggregate
    shares the single scan/shuffle of the wide frame — never a
    per-pair self-join). Upper triangle, long form."""
    daily = _daily_events(spark, sf_dir)
    wide = (
        daily.groupBy("obs_date")
        .pivot("series_id", _CORR_SERIES)
        .agg(F.first("value"))
    )
    agg = wide.agg(
        *[F.corr(a, b).alias(f"{a}|{b}") for a, b in _CORR_PAIRS]
    )
    stack = (
        f"stack({len(_CORR_PAIRS)}, "
        + ", ".join(f"'{a}', '{b}', `{a}|{b}`" for a, b in _CORR_PAIRS)
        + ") as (series_a, series_b, corr)"
    )
    return agg.selectExpr(stack).select(
        "series_a", "series_b", r6(F.col("corr")).alias("corr")
    )


@query(
    "w1_diff",
    _DAILY_EVENTS_CTE
    + """
    SELECT series_id, obs_date,
           ROUND(value - LAG(value) OVER
             (PARTITION BY series_id ORDER BY obs_date), 6) AS diff1
    FROM m
    """,
)
def w1_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W1 first difference per series (na.pad=TRUE semantics)."""
    from .operators import timeseries as ts

    m = _daily_events(spark, sf_dir)
    return ts.diff(m, out_col="diff1").select(
        "series_id", "obs_date", r6(F.col("diff1")).alias("diff1")
    )


@query(
    "w2_log_diff",
    _DAILY_EVENTS_CTE
    + """
    SELECT series_id, obs_date,
           ROUND(LN(value) - LN(LAG(value) OVER
             (PARTITION BY series_id ORDER BY obs_date)), 6) AS log_diff
    FROM m WHERE value > 0
    """,
)
def w2_log_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W2 log first difference (growth rates) for positive series."""
    from .operators import timeseries as ts

    m = _daily_events(spark, sf_dir).filter(F.col("value") > 0)
    return ts.log_diff(m, out_col="log_diff").select(
        "series_id", "obs_date", r6(F.col("log_diff")).alias("log_diff")
    )


@query(
    "w3_second_diff",
    _DAILY_EVENTS_CTE
    + """
    , d1 AS (
      SELECT series_id, obs_date,
             value - LAG(value) OVER
               (PARTITION BY series_id ORDER BY obs_date) AS d
      FROM m
    )
    SELECT series_id, obs_date,
           ROUND(d - LAG(d) OVER
             (PARTITION BY series_id ORDER BY obs_date), 6) AS diff2
    FROM d1
    """,
)
def w3_second_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W3 second difference with na.pad (leading NULLs kept)."""
    from .operators import timeseries as ts

    m = _daily_events(spark, sf_dir)
    return ts.diff(m, order=2, out_col="diff2").select(
        "series_id", "obs_date", r6(F.col("diff2")).alias("diff2")
    )


@query(
    "w4_lag_embed",
    """
    WITH q AS (
      SELECT CAST(date_trunc('quarter', o_orderdate) AS DATE) AS obs_date,
             ROUND(SUM(o_totalprice), 2) AS y
      FROM orders GROUP BY 1
    ), z AS (
      SELECT obs_date, y,
             LAG(y, 1) OVER (ORDER BY obs_date) AS "y.l1",
             LAG(y, 2) OVER (ORDER BY obs_date) AS "y.l2",
             LAG(y, 3) OVER (ORDER BY obs_date) AS "y.l3",
             ROW_NUMBER() OVER (ORDER BY obs_date) AS rn
      FROM q
    )
    SELECT obs_date, y, "y.l1", "y.l2", "y.l3" FROM z WHERE rn > 3
    """,
)
def w4_lag_embed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W4 lag embedding (VAR.Z, enetVAR.R:277-319): p=3 design over
    the quarterly revenue series; first p rows dropped."""
    from .operators.lag_embed import var_z

    q = (
        load_table(spark, sf_dir, "orders")
        .groupBy(F.date_trunc("quarter", "o_orderdate").cast("date").alias("obs_date"))
        .agg(r2(F.sum("o_totalprice")).alias("y"))
    )
    return var_z(q, series=["y"], p=3).df


@query(
    "w7_reconstruct_levels",
    """
    WITH q AS (
      SELECT CAST(date_trunc('quarter', o_orderdate) AS DATE) AS obs_date,
             ROUND(SUM(o_totalprice), 2) AS revenue
      FROM orders GROUP BY 1
    ), g AS (
      SELECT obs_date,
             ROUND(LN(revenue) - LN(LAG(revenue) OVER (ORDER BY obs_date)), 6)
               AS log_growth
      FROM q
    )
    SELECT obs_date,
           ROUND(100.0 * EXP(SUM(COALESCE(log_growth, 0.0)) OVER
             (ORDER BY obs_date ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
             6) AS level
    FROM g
    """,
)
def w7_reconstruct_levels(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W7 diff_log2norm (enetVAR.R:886-889): rebuild an index level
    series (init=100) from log-diffs via exp-of-running-sum."""
    from .operators import timeseries as ts

    q = (
        load_table(spark, sf_dir, "orders")
        .groupBy(F.date_trunc("quarter", "o_orderdate").cast("date").alias("obs_date"))
        .agg(r2(F.sum("o_totalprice")).alias("revenue"))
        .withColumn("series_id", F.lit("rev"))
    )
    w = Window.partitionBy("series_id").orderBy("obs_date")
    g = q.withColumn(
        "log_growth", r6(F.log("revenue") - F.log(F.lag("revenue", 1).over(w)))
    )
    out = ts.reconstruct_levels(g, init_level=100.0, logdiff_col="log_growth")
    return out.select("obs_date", r6(F.col("level")).alias("level"))


@query(
    "w8_acf",
    _DAILY_EVENTS_CTE
    + """
    , lagged AS (
      SELECT series_id, k.lag AS lag, value AS x,
             LAG(value, k.lag) OVER
               (PARTITION BY series_id, k.lag ORDER BY obs_date) AS y
      FROM m CROSS JOIN (SELECT UNNEST([1,2,3,4]) AS lag) k
    )
    SELECT series_id, lag, ROUND(CORR(x, y), 6) AS acf
    FROM lagged GROUP BY 1, 2
    """,
)
def w8_acf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W8 ACF (pearson flavor — SQL-checkable) at lags 1..4 per
    series. One window pass builds all lags; single hash agg."""
    from .operators.acf import acf_table

    m = _daily_events(spark, sf_dir)
    t = acf_table(m, max_lag=4, method="pearson")
    return t.select("series_id", "lag", r6(F.col("acf")).alias("acf"))


@query(
    "w10_naive_forecast",
    _DAILY_EVENTS_CTE
    + """
    SELECT series_id, obs_date, value,
           LAG(value) OVER (PARTITION BY series_id ORDER BY obs_date)
             AS rw_forecast
    FROM m
    """,
)
def w10_naive_forecast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W10 random-walk benchmark forecast (enetVAR.R:460-464)."""
    from .operators import timeseries as ts

    m = _daily_events(spark, sf_dir)
    return ts.naive_forecast(m).select(
        "series_id", "obs_date", "value", "rw_forecast"
    )


# --------------------------------------------------------------------------
# aggregations A1-A6, top-N T1, set ops
# --------------------------------------------------------------------------


@query(
    "a1_quarterly_rollup",
    """
    SELECT event_type AS series_id,
           CAST(date_trunc('quarter', ts) AS DATE) AS obs_date,
           ROUND(SUM(value), 6) AS value
    FROM events WHERE value IS NOT NULL
    GROUP BY 1, 2
    """,
)
def a1_quarterly_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A1 monthly→quarterly temporal roll-up (sum, zoo default FUN)."""
    from .operators import timeseries as ts

    e = load_table(spark, sf_dir, "events")
    long = e.filter(F.col("value").isNotNull()).select(
        F.col("event_type").alias("series_id"),
        F.col("ts").alias("obs_date"),
        "value",
    )
    out = ts.resample(long, freq="quarter", how="sum")
    return out.select("series_id", "obs_date", r6(F.col("value")).alias("value"))


@query(
    "a2_mean_square_score",
    _DAILY_EVENTS_CTE
    + """
    , lagged AS (
      SELECT series_id, k.lag AS lag, value AS x,
             LAG(value, k.lag) OVER
               (PARTITION BY series_id, k.lag ORDER BY obs_date) AS y
      FROM m CROSS JOIN (SELECT UNNEST([1,2,3,4]) AS lag) k
    ), a AS (
      SELECT series_id, lag, CORR(x, y) AS acf FROM lagged GROUP BY 1, 2
    )
    SELECT series_id, ROUND(AVG(acf * acf), 6) AS ms_score
    FROM a GROUP BY 1
    """,
)
def a2_mean_square_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A2 mean-of-squared-ACF ranking score per series
    (enetVAR.R:652-653) — the M15 selection score."""
    from .operators.acf import acf_table

    m = _daily_events(spark, sf_dir)
    a = acf_table(m, max_lag=4, method="pearson")
    return a.groupBy("series_id").agg(
        r6(F.avg(F.col("acf") * F.col("acf"))).alias("ms_score")
    )


@query(
    "a4_argmin_ic",
    """
    WITH ic AS (
      SELECT p_size AS lag, ROUND(AVG(p_retailprice), 6) AS ic
      FROM part GROUP BY p_size
    )
    SELECT MIN(ic) AS min_ic, MIN_BY(lag, ic) AS best_lag FROM ic
    """,
)
def a4_argmin_ic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A4 column-min + argmin (IC minimization enetVAR.R:224-227) via
    min / min_by — no sort, single agg."""
    p = load_table(spark, sf_dir, "part")
    ic = p.groupBy(F.col("p_size").alias("lag")).agg(
        r6(F.avg("p_retailprice")).alias("ic")
    )
    return ic.agg(
        F.min("ic").alias("min_ic"), F.expr("min_by(lag, ic)").alias("best_lag")
    )


@query(
    "a6_demean",
    """
    WITH s AS (SELECT AVG(value) AS m FROM events WHERE value IS NOT NULL)
    SELECT event_id, ROUND(value - s.m, 6) AS demeaned
    FROM events, s WHERE value IS NOT NULL
    """,
)
def a6_demean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A6 grand-mean demean (nw()/DMtest preprocessing,
    enetVAR.R:798-799): scalar agg broadcast back as a cross join —
    no second scan of the fact in the shuffle."""
    e = load_table(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    m = e.agg(F.avg("value").alias("m"))
    return e.crossJoin(F.broadcast(m)).select(
        "event_id", r6(F.col("value") - F.col("m")).alias("demeaned")
    )


@query(
    "w5_rolling_origin_errors",
    _DAILY_EVENTS_CTE
    + """
    , idx AS (
      SELECT series_id, obs_date, value,
             ROW_NUMBER() OVER (PARTITION BY series_id ORDER BY obs_date) AS rn,
             COUNT(*) OVER (PARTITION BY series_id) AS n
      FROM m
    ), origins AS (
      SELECT * FROM idx WHERE rn >= n - 10 AND rn < n
    ), errs AS (
      SELECT o.series_id, o.obs_date AS origin_date, h.h AS horizon,
             t.obs_date AS target_date,
             ROUND(o.value, 6) AS yhat,
             ROUND(t.value, 6) AS y_true,
             ROUND(o.value - t.value, 6) AS err
      FROM origins o
      CROSS JOIN (SELECT UNNEST([1, 2]) AS h) h
      JOIN idx t ON t.series_id = o.series_id AND t.rn = o.rn + h.h
    )
    SELECT * FROM errs
    """,
)
def w5_rolling_origin_errors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W5/W6: rolling-origin no-change forecasts over the last 10
    origins, horizons {1,2}, joined to realized targets BY TARGET
    INDEX (the fixed W6 alignment) — the harness's forecast table as
    a pure relational query."""
    m = _daily_events(spark, sf_dir)
    w = Window.partitionBy("series_id").orderBy("obs_date")
    idx = m.select(
        "series_id", "obs_date", "value",
        F.row_number().over(w).alias("rn"),
        F.count(F.lit(1)).over(Window.partitionBy("series_id")).alias("n"),
    )
    origins = idx.filter((F.col("rn") >= F.col("n") - 10) & (F.col("rn") < F.col("n")))
    horizons = spark.range(1, 3).select(F.col("id").cast("int").alias("horizon"))
    o = origins.crossJoin(horizons)
    t = idx.select(
        F.col("series_id").alias("t_sid"),
        F.col("rn").alias("t_rn"),
        F.col("obs_date").alias("target_date"),
        F.col("value").alias("t_value"),
    )
    return (
        o.join(
            t,
            (F.col("series_id") == F.col("t_sid"))
            & (F.col("t_rn") == F.col("rn") + F.col("horizon")),
        )
        .select(
            "series_id",
            F.col("obs_date").alias("origin_date"),
            "horizon",
            "target_date",
            r6(F.col("value")).alias("yhat"),
            r6(F.col("t_value")).alias("y_true"),
            r6(F.col("value") - F.col("t_value")).alias("err"),
        )
    )


@query(
    "a3_msfe_by_horizon",
    _DAILY_EVENTS_CTE
    + """
    , idx AS (
      SELECT series_id, obs_date, value,
             ROW_NUMBER() OVER (PARTITION BY series_id ORDER BY obs_date) AS rn,
             COUNT(*) OVER (PARTITION BY series_id) AS n
      FROM m
    ), origins AS (
      SELECT * FROM idx WHERE rn >= n - 10 AND rn < n
    ), errs AS (
      SELECT o.series_id, h.h AS horizon, o.value - t.value AS err
      FROM origins o
      CROSS JOIN (SELECT UNNEST([1, 2]) AS h) h
      JOIN idx t ON t.series_id = o.series_id AND t.rn = o.rn + h.h
    )
    SELECT series_id, horizon,
           ROUND(SUM(err * err) / COUNT(*), 6) AS msfe
    FROM errs GROUP BY 1, 2
    """,
)
def a3_msfe_by_horizon(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A3 MSFE (enetVAR.R:475-482) as a relational aggregation over
    the W5 forecast-error table."""
    errs = w5_rolling_origin_errors(spark, sf_dir)
    return errs.groupBy("series_id", "horizon").agg(
        r6(F.sum(F.col("err") * F.col("err")) / F.count(F.lit(1))).alias("msfe")
    )


@query(
    "e5_pivot_reshape",
    _DAILY_EVENTS_CTE
    + """
    , idx AS (
      SELECT series_id, obs_date, value,
             ROW_NUMBER() OVER (PARTITION BY series_id ORDER BY obs_date) AS rn,
             COUNT(*) OVER (PARTITION BY series_id) AS n
      FROM m
    ), origins AS (
      SELECT * FROM idx WHERE rn >= n - 10 AND rn < n
    ), errs AS (
      SELECT o.series_id, h.h AS horizon, o.value - t.value AS err
      FROM origins o
      CROSS JOIN (SELECT UNNEST([1, 2]) AS h) h
      JOIN idx t ON t.series_id = o.series_id AND t.rn = o.rn + h.h
    ), msfe AS (
      SELECT series_id, horizon, SUM(err * err) / COUNT(*) AS v
      FROM errs GROUP BY 1, 2
    )
    SELECT series_id,
           ROUND(MAX(CASE WHEN horizon = 1 THEN v END), 6) AS h1,
           ROUND(MAX(CASE WHEN horizon = 2 THEN v END), 6) AS h2
    FROM msfe GROUP BY 1
    """,
)
def e5_pivot_reshape(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E5 result reshaping (Testing.R:557-591 sapply pivots):
    horizon-wide MSFE matrix via groupBy().pivot()."""
    m = a3_msfe_by_horizon(spark, sf_dir)
    return (
        m.withColumn("h", F.concat(F.lit("h"), F.col("horizon")))
        .groupBy("series_id")
        .pivot("h", ["h1", "h2"])
        .agg(F.first("msfe"))
    )


# --------------------------------------------------------------------------
# SURVEY §2.10 coverage: categories the reference lacks, surfaced via
# native Spark SQL (grouping sets, approx distinct, JSON/array ops,
# set ops on rows, semi join, ranking windows, session windows)
# --------------------------------------------------------------------------


@query(
    "g1_rollup_cube",
    """
    SELECT o_orderstatus, o_orderpriority,
           COUNT(*) AS n, ROUND(SUM(o_totalprice), 2) AS total
    FROM orders
    GROUP BY ROLLUP (o_orderstatus, o_orderpriority)
    """,
)
def g1_rollup_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouping sets / ROLLUP — native Catalyst Expand; partial aggs
    still map-side combine per grouping set."""
    o = load_table(spark, sf_dir, "orders")
    return o.rollup("o_orderstatus", "o_orderpriority").agg(
        F.count(F.lit(1)).alias("n"), r2(F.sum("o_totalprice")).alias("total")
    )


@query(
    "g2_distinct_count",
    """
    SELECT o_orderstatus,
           COUNT(DISTINCT o_custkey) AS exact_customers
    FROM orders GROUP BY 1
    """,
)
def g2_distinct_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct aggregation (expands to a two-stage agg). The
    approx_count_distinct variant is benchmarked in pytest — HLL
    sketches aren't bit-identical across engines, so the ORACLE pins
    the exact form."""
    o = load_table(spark, sf_dir, "orders")
    return o.groupBy("o_orderstatus").agg(
        F.count_distinct("o_custkey").alias("exact_customers")
    )


@query(
    "g3_json_extract",
    """
    SELECT event_id, CAST(json_extract_string(props, '$.k') AS BIGINT) AS k_val
    FROM events WHERE props IS NOT NULL
    """,
)
def g3_json_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON field extraction from the events props column
    (get_json_object ≡ DuckDB json_extract_string)."""
    e = load_table(spark, sf_dir, "events")
    return e.filter(F.col("props").isNotNull()).select(
        "event_id",
        F.get_json_object("props", "$.k").cast("bigint").alias("k_val"),
    )


@query(
    "g4_semi_join",
    """
    SELECT p_partkey, p_name FROM part p
    WHERE EXISTS (SELECT 1 FROM lineitem l
                  WHERE l.l_partkey = p.p_partkey AND l.l_quantity > 45)
    """,
)
def g4_semi_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left-semi join (EXISTS)."""
    p = load_table(spark, sf_dir, "part")
    li = load_table(spark, sf_dir, "lineitem").filter(F.col("l_quantity") > 45)
    return p.join(li, p.p_partkey == li.l_partkey, "left_semi").select(
        "p_partkey", "p_name"
    )


@query(
    "g5_set_ops",
    """
    SELECT o_custkey AS custkey FROM orders WHERE o_orderstatus = 'F'
    INTERSECT
    SELECT o_custkey FROM orders WHERE o_orderstatus = 'O'
    """,
)
def g5_set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Row set ops: customers with both fulfilled AND open orders."""
    o = load_table(spark, sf_dir, "orders")
    f = o.filter(F.col("o_orderstatus") == "F").select(
        F.col("o_custkey").alias("custkey")
    )
    op = o.filter(F.col("o_orderstatus") == "O").select(
        F.col("o_custkey").alias("custkey")
    )
    return f.intersect(op)


@query(
    "g6_rank_window",
    """
    WITH r AS (
      SELECT o_custkey, o_orderkey, o_totalprice,
             RANK() OVER (PARTITION BY o_custkey
                          ORDER BY o_totalprice DESC, o_orderkey ASC) AS rnk
      FROM orders
    )
    SELECT o_custkey, o_orderkey, ROUND(o_totalprice, 2) AS totalprice
    FROM r WHERE rnk <= 2
    """,
)
def g6_rank_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ranking window (top-2 orders per customer) — partitioned
    window, deterministic tiebreak."""
    o = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey").asc()
    )
    return (
        o.withColumn("rnk", F.rank().over(w))
        .filter(F.col("rnk") <= 2)
        .select(
            "o_custkey", "o_orderkey", r2(F.col("o_totalprice")).alias("totalprice")
        )
    )


@query(
    "g7_session_window",
    """
    WITH e AS (
      SELECT user_id, ts, event_id,
             CASE WHEN ts - LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                       > INTERVAL 30 MINUTE
                  OR LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
                  THEN 1 ELSE 0 END AS new_sess
      FROM events
    ), s AS (
      SELECT user_id, ts,
             CAST(SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS sess_id
      FROM e
    )
    SELECT user_id, sess_id, CAST(COUNT(*) AS BIGINT) AS n_events,
           MIN(ts) AS sess_start, MAX(ts) AS sess_end
    FROM s GROUP BY 1, 2
    """,
)
def g7_session_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sessionization (30-min gap) as a gaps-and-islands window — the
    batch twin of streaming session windows."""
    e = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    ws = Window.partitionBy("user_id").orderBy("ts", "event_id").rowsBetween(
        Window.unboundedPreceding, 0
    )
    secs = F.col("ts").cast("timestamp").cast("long")  # NTZ → epoch secs
    gap = secs - F.lag(secs, 1).over(w)
    sess = (
        e.withColumn(
            "new_sess",
            F.when(gap.isNull() | (gap > 30 * 60), 1).otherwise(0),
        )
        .withColumn("sess_id", F.sum("new_sess").over(ws))
    )
    return sess.groupBy("user_id", "sess_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.min("ts").alias("sess_start"),
        F.max("ts").alias("sess_end"),
    )


@query(
    "t1_topn_deterministic",
    """
    SELECT p_partkey, p_name, ROUND(p_retailprice, 2) AS score
    FROM part
    ORDER BY p_retailprice DESC, p_partkey ASC
    LIMIT 10
    """,
)
def t1_topn_deterministic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T1 top-N with deterministic tiebreak (fixes quirk Q8).
    Compiles to TakeOrderedAndProject — per-partition heap, no global
    sort."""
    from .operators.topn import top_n

    p = load_table(spark, sf_dir, "part").select(
        "p_partkey", "p_name", r2(F.col("p_retailprice")).alias("score")
    )
    return top_n(p, score_col="score", n=10, tiebreak_col="p_partkey")


@query(
    "t2_anti_join",
    """
    SELECT c_custkey, c_name FROM customer c
    WHERE NOT EXISTS (SELECT 1 FROM orders o
                      WHERE o.o_custkey = c.c_custkey
                        AND o.o_orderstatus = 'P')
    """,
)
def t2_anti_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T2 set-difference semantics relationally: customers with no
    pending orders via left_anti join (the reference's name-vector
    `%in%` / setdiff re-expressed on rows)."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders").filter(F.col("o_orderstatus") == "P")
    return c.join(o, c.c_custkey == o.o_custkey, "left_anti").select(
        "c_custkey", "c_name"
    )


# --------------------------------------------------------------------------
# training-data pipeline extensions: dedup, similarity, text analysis
# --------------------------------------------------------------------------


def _duck_norm() -> str:
    from .operators.dedup import NORM_SQL_DUCK

    return NORM_SQL_DUCK


@query(
    "dedup_exact",
    """
    SELECT md5(trim(regexp_replace(regexp_replace(lower(text),
             '[^a-z0-9 ]', ' ', 'g'), ' +', ' ', 'g'))) AS content_key,
           MIN(doc_id) AS doc_id, COUNT(*) AS dup_count
    FROM documents GROUP BY 1
    """,
)
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup: md5 content key, min-id survivor (skew-free
    hash-groupBy shuffle)."""
    from .operators.dedup import exact_dedup

    return exact_dedup(load_table(spark, sf_dir, "documents"))


def _substring_planted_sources() -> tuple[str, str]:
    """The substring-dedup gate needs pairs that share a LONG verbatim
    run without being whole-doc duplicates; the synthetic corpus has
    exact duplicates but few partial overlaps, so the gated query
    plants one per 97th document: a new doc (id + 50,000,000 — clear
    of the stress replica's 100M id stride) whose text is tokens
    3..32 of the source doc followed by a unique tail. Returns the
    (Spark SQL, DuckDB SQL) expressions for the planted text over a
    row of `documents`; both slice the SAME normalized token array
    and re-normalization is a no-op on the result, so the planted
    pair shares exactly a 30-token run on both engines."""
    from .operators.dedup import NORM_SQL_DUCK, norm_sql_spark

    spark_sql = (
        "concat(concat_ws(' ', slice(split("
        + norm_sql_spark("text")
        + ", ' '), 3, 30)), ' planted overlap probe tail ', "
        "cast(doc_id as string))"
    )
    duck_sql = (
        "array_to_string(list_slice(string_split("
        + NORM_SQL_DUCK
        + ", ' '), 3, 32), ' ') || ' planted overlap probe tail ' || "
        "CAST(doc_id AS VARCHAR)"
    )
    return spark_sql, duck_sql


def _register_substring_dedup() -> None:
    from .operators.dedup import duck_substring_dedup_sql

    _, duck_plant = _substring_planted_sources()
    src = f"""
        SELECT doc_id, text FROM documents
        UNION ALL
        SELECT doc_id + 50000000 AS doc_id, {duck_plant} AS text
        FROM documents
        WHERE doc_id % 97 = 0
          AND len(string_split(text, ' ')) >= 40
    """
    ORACLE["dedup_substring"] = duck_substring_dedup_sql(
        source_sql=src, width=8, min_run_tokens=20, max_docs_per_shingle=64
    )


@query("dedup_substring", None)  # oracle registered below
def dedup_substring(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT SUBSTRING dedup (`dedup.substring_dedup`, VERDICT r7
    item 5): flag document pairs sharing a verbatim run of ≥ 20
    normalized tokens — the Lee-et-al-style overlap pass between
    exact dedup and MinHash. Relational suffix-free shape: positional
    8-gram shingle hashes (one narrow pass), a hot-shingle frequency
    gate (≤ 64 docs per shingle — boilerplate runs are MinHash's
    job, and the gate is what keeps the hash join linear), one
    uniform-key pair join, gaps-and-islands run detection on bounded
    (pair, diagonal) windows. The corpus is augmented with planted
    30-token partial overlaps (`_substring_planted_sources`) so the
    gate pins true positives that are NOT whole-doc duplicates, plus
    the corpus's own exact-duplicate clusters at full length."""
    from .operators.dedup import substring_dedup

    plant_spark, _ = _substring_planted_sources()
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    planted = (
        load_table(spark, sf_dir, "documents")
        .filter(
            (F.col("doc_id") % 97 == 0)
            & (F.size(F.split(F.col("text"), " ")) >= 40)
        )
        .select(
            (F.col("doc_id") + F.lit(50_000_000)).alias("doc_id"),
            F.expr(plant_spark).alias("text"),
        )
    )
    return substring_dedup(
        docs.unionByName(planted),
        width=8,
        min_run_tokens=20,
        max_docs_per_shingle=64,
    )


_register_substring_dedup()


@query("dedup_substring_scrub", None)  # oracle registered below
def dedup_substring_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SURGICAL substring dedup (`dedup.substring_scrub`): remove the
    ≥20-token repeated span from the LATER document and keep the rest
    — what the Lee-et-al pipeline actually does to the corpus (the
    pair-flagging form is `dedup_substring`; this one rewrites).
    Runs on the same planted corpus, so the planted docs lose exactly
    their 30-token copied prefix while their unique tails survive,
    and exact-duplicate clusters scrub to near-empty later copies.
    Everything stays relational: spans via the gated pair join +
    diagonal islands, then one narrow token explode, an any-span
    membership join, and one ordered per-doc re-aggregation."""
    from .operators.dedup import substring_scrub

    plant_spark, _ = _substring_planted_sources()
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    planted = (
        load_table(spark, sf_dir, "documents")
        .filter(
            (F.col("doc_id") % 97 == 0)
            & (F.size(F.split(F.col("text"), " ")) >= 40)
        )
        .select(
            (F.col("doc_id") + F.lit(50_000_000)).alias("doc_id"),
            F.expr(plant_spark).alias("text"),
        )
    )
    return substring_scrub(
        docs.unionByName(planted),
        width=8,
        min_run_tokens=20,
        max_docs_per_shingle=64,
    )


def _register_substring_scrub() -> None:
    from .operators.dedup import duck_substring_scrub_sql

    _, duck_plant = _substring_planted_sources()
    src = f"""
        SELECT doc_id, text FROM documents
        UNION ALL
        SELECT doc_id + 50000000 AS doc_id, {duck_plant} AS text
        FROM documents
        WHERE doc_id % 97 = 0
          AND len(string_split(text, ' ')) >= 40
    """
    ORACLE["dedup_substring_scrub"] = duck_substring_scrub_sql(
        source_sql=src, width=8, min_run_tokens=20, max_docs_per_shingle=64
    )


_register_substring_scrub()


@query("split_decontaminate_spans", None)  # oracle registered below
def split_decontaminate_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SPAN-LEVEL decontamination (`dedup.decontaminate_spans`, r8):
    remove every ≥20-token verbatim run a TRAIN document shares with
    the protected TEST split, keep the rest of the doc — the
    production follow-up to `split_contamination`'s hit-ratio report
    (dropping a whole doc over one quoted benchmark line wastes data;
    leaving it in leaks the benchmark). Same deterministic md5 split
    rule as the contamination queries; the candidate join is keyed by
    the PROTECTED side, so fan-out is bounded by the benchmark
    corpus, never train×train. Twin replays split → union frequency
    gate → cross-corpus islands → any-span removal → ordered text
    rebuild."""
    from .operators.dedup import decontaminate_spans
    from .operators.split import hash_split

    docs = hash_split(
        load_table(spark, sf_dir, "documents").select("doc_id", "text"),
        "doc_id",
    )
    train = docs.filter(F.col("split") == "train").drop("split")
    prot = docs.filter(F.col("split") == "test").drop("split")
    return decontaminate_spans(
        train, prot, width=8, min_run_tokens=20, max_docs_per_shingle=64
    )


def _register_decontaminate_oracle() -> None:
    from .operators.dedup import duck_decontaminate_sql
    from .operators.split import duck_split_sql

    rule = duck_split_sql("doc_id")
    ORACLE["split_decontaminate_spans"] = duck_decontaminate_sql(
        train_pred=f"({rule}) = 'train'",
        protected_pred=f"({rule}) = 'test'",
        width=8,
        min_run_tokens=20,
        max_docs_per_shingle=64,
    )


_register_decontaminate_oracle()


_STORE_DIRS: dict[str, str] = {}


def _session_store_dir(prefix: str = "spark_graft_sub_store_") -> str:
    """ONE reused store directory per process per prefix (VERDICT r8
    item 5): gated incremental-store queries that re-create their
    store on every run should overwrite in place instead of paying a
    fresh mkdtemp + DROP TABLE + CREATE round per invocation — the
    churn showed up as ±50% timing noise and a slack baseline pin."""
    import tempfile

    if prefix not in _STORE_DIRS:
        _STORE_DIRS[prefix] = tempfile.mkdtemp(prefix=prefix)
    return _STORE_DIRS[prefix]


@query("dedup_substring_incremental", None)  # oracle registered below
def dedup_substring_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Substring dedup against a PERSISTED bucketed positional-shingle
    store (`dedup.incremental_substring_dedup_bucketed`) — the fourth
    incremental store, closing the family: each batch is checked for
    ≥20-token verbatim runs against ALL seen docs without re-reading
    earlier batches; the store side of the hash join reads
    exchange-free (bucketed on the shingle hash). Two id-ordered
    batches here; the twin replays the SAME two stages (per-stage
    frequency gate over history ∪ batch — the gate makes incremental
    legitimately different from one full pass, so the twin unrolls
    rather than hand-waving equivalence). Returns (doc_id, is_dup)
    for the full corpus.

    Noise discipline (VERDICT r8 item 5): the store path is allocated
    ONCE per process and the first batch passes ``fresh=True`` (the
    overwrite replaces any earlier run's table in place) — the former
    DROP TABLE + mkdtemp-per-run churn made metastore/IO noise
    dominate this query's timing and forced a 1.5×-slack baseline
    pin."""
    from .operators.dedup import incremental_substring_dedup_bucketed

    store = "q_dedup_sub_store"
    path = _session_store_dir()
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    kept = []
    for i, pred in enumerate((F.col("doc_id") < 250, F.col("doc_id") >= 250)):
        s = incremental_substring_dedup_bucketed(
            docs.filter(pred), store, buckets=8, path=path,
            width=8, min_run_tokens=20, max_docs_per_shingle=64,
            fresh=(i == 0),
        )
        kept.append(s.select("doc_id"))
    surv = kept[0].unionByName(kept[1])
    return (
        docs.select("doc_id")
        .join(surv.withColumn("__k", F.lit(1)), "doc_id", "left")
        .select(
            "doc_id",
            F.when(F.col("__k").isNull(), F.lit(1))
            .otherwise(F.lit(0))
            .cast("int")
            .alias("is_dup"),
        )
    )


def _register_substring_incremental_oracle() -> None:
    from .operators.dedup import duck_incremental_substring_sql

    ORACLE["dedup_substring_incremental"] = duck_incremental_substring_sql(
        splits=["doc_id < 250", "doc_id >= 250"],
        width=8,
        min_run_tokens=20,
        max_docs_per_shingle=64,
    )


_register_substring_incremental_oracle()


@query("dedup_best_of_cluster", None)  # oracle registered below
def dedup_best_of_cluster(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup with the QUALITY-ARGMAX survivor rule
    (`dedup.exact_dedup_best_quality`, r7): keep the cleanest copy of
    each duplicate cluster, not the lowest id — what a real curation
    pipeline does with repeated crawl snapshots. One content-key
    groupBy with a lexicographic struct max (quality DESC, id ASC) —
    map-side combinable, no per-group window, no second shuffle; the
    twin replays the same rule as a window rank over the same
    6-dp-rounded quality."""
    from .operators.dedup import exact_dedup_best_quality

    return exact_dedup_best_quality(load_table(spark, sf_dir, "documents"))


def _register_best_of_cluster_oracle() -> None:
    from .operators.text import QUALITY_SQL_DUCK

    ORACLE["dedup_best_of_cluster"] = f"""
    WITH d AS (
      SELECT doc_id,
             md5(trim(regexp_replace(regexp_replace(lower(text),
               '[^a-z0-9 ]', ' ', 'g'), ' +', ' ', 'g'))) AS content_key,
             {QUALITY_SQL_DUCK} AS q
      FROM documents
    ),
    r AS (
      SELECT content_key, doc_id, q,
             COUNT(*) OVER (PARTITION BY content_key) AS dup_count,
             ROW_NUMBER() OVER (PARTITION BY content_key
                                ORDER BY q DESC, doc_id ASC) AS rn
      FROM d
    )
    SELECT content_key, doc_id, ROUND(q, 6) AS quality, dup_count
    FROM r WHERE rn = 1
    """


_register_best_of_cluster_oracle()


@query(
    "dedup_minhash_signature",
    None,  # filled below after imports
)
def dedup_minhash_signature(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash signature head: (doc_id, first two permutation mins) —
    the signature step of MinHash-LSH, oracle-checked hash-for-hash."""
    from .operators.dedup import minhash_signatures

    sigs = minhash_signatures(load_table(spark, sf_dir, "documents"), num_hashes=4)
    return sigs.select(
        "doc_id",
        F.expr("sig[0]").alias("mh0"),
        F.expr("sig[1]").alias("mh1"),
        F.expr("sig[2]").alias("mh2"),
        F.expr("sig[3]").alias("mh3"),
    )


def _register_minhash_oracle() -> None:
    from .operators.dedup import MINHASH_A, MINHASH_B, MINHASH_P, duck_shingle_hashes

    terms = ", ".join(
        f"list_min(list_transform(sh, h -> ({MINHASH_A[i]} * h + {MINHASH_B[i]}) % {MINHASH_P})) AS mh{i}"
        for i in range(4)
    )
    ORACLE["dedup_minhash_signature"] = f"""
        WITH s AS (SELECT doc_id, {duck_shingle_hashes(3)} AS sh FROM documents)
        SELECT doc_id, {terms} FROM s
    """


_register_minhash_oracle()


@query(
    "dedup_ngram_jaccard",
    None,
)
def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-LSH near-dup pipeline end to end: 16-hash signatures →
    8 bands × 2 rows candidates → exact 3-gram Jaccard ≥ 0.35 on
    candidates only. Deterministic in both engines (fixed
    permutations), so the oracle replays the identical pipeline —
    and the N² scan the brute-force variant needs (141 s at sf0.1)
    never happens."""
    from .operators.dedup import (
        jaccard_pairs,
        lsh_candidate_pairs,
        minhash_signatures,
    )

    docs = load_table(spark, sf_dir, "documents")
    sigs = minhash_signatures(docs, num_hashes=16)
    cand = lsh_candidate_pairs(sigs, bands=8, rows_per_band=2)
    return jaccard_pairs(docs, threshold=0.35, candidates=cand)


def _register_jaccard_oracle() -> None:
    from .operators.dedup import (
        MINHASH_A,
        MINHASH_B,
        MINHASH_P,
        duck_shingle_hashes,
    )

    sig_terms = ", ".join(
        f"list_min(list_transform(sh, h -> ({MINHASH_A[i]} * h + {MINHASH_B[i]}) % {MINHASH_P}))"
        for i in range(16)
    )
    ORACLE["dedup_ngram_jaccard"] = f"""
        WITH s AS (SELECT doc_id, {duck_shingle_hashes(3)} AS sh FROM documents),
        sig AS (SELECT doc_id, sh, [{sig_terms}] AS sig FROM s),
        band AS (
          SELECT doc_id, b,
                 md5(array_to_string(list_slice(sig, b*2+1, b*2+2), ',')) AS bh
          FROM sig CROSS JOIN (SELECT unnest(range(0, 8)) AS b) bands
        ),
        cand AS (
          SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
          FROM band a JOIN band b ON a.b = b.b AND a.bh = b.bh
                                 AND a.doc_id < b.doc_id
        )
        SELECT c.id_a, c.id_b,
               ROUND(len(list_intersect(sa.sh, sb.sh))::DOUBLE
                     / len(list_distinct(sa.sh || sb.sh)), 6) AS jaccard
        FROM cand c
        JOIN s sa ON sa.doc_id = c.id_a
        JOIN s sb ON sb.doc_id = c.id_b
        WHERE len(list_intersect(sa.sh, sb.sh))::DOUBLE
              / len(list_distinct(sa.sh || sb.sh)) >= 0.35
    """


_register_jaccard_oracle()


@query(
    "dedup_components",
    None,  # filled below (reuses the LSH pipeline fragments)
)
def dedup_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate-CLUSTER resolution: near-dup pairs from the
    MinHash-LSH pipeline → connected components by iterative
    min-label propagation (one shuffle per round, lineage truncated
    per round — the standard Spark shape for transitive closure, no
    graph library needed). Output (doc_id, component) where component
    is the smallest doc id in the cluster; the DuckDB oracle walks
    the same symmetric edge set with a recursive CTE."""
    from .operators.dedup import (
        connected_components,
        jaccard_pairs,
        lsh_candidate_pairs,
        minhash_signatures,
    )

    docs = load_table(spark, sf_dir, "documents")
    sigs = minhash_signatures(docs, num_hashes=16)
    cand = lsh_candidate_pairs(sigs, bands=8, rows_per_band=2)
    pairs = jaccard_pairs(docs, threshold=0.35, candidates=cand)
    return connected_components(docs.select("doc_id"), pairs).orderBy("doc_id")


def _register_components_oracle() -> None:
    from .operators.dedup import (
        MINHASH_A,
        MINHASH_B,
        MINHASH_P,
        duck_shingle_hashes,
    )

    sig_terms = ", ".join(
        f"list_min(list_transform(sh, h -> ({MINHASH_A[i]} * h + {MINHASH_B[i]}) % {MINHASH_P}))"
        for i in range(16)
    )
    ORACLE["dedup_components"] = f"""
        WITH RECURSIVE
        s AS (SELECT doc_id, {duck_shingle_hashes(3)} AS sh FROM documents),
        sig AS (SELECT doc_id, sh, [{sig_terms}] AS sig FROM s),
        band AS (
          SELECT doc_id, b,
                 md5(array_to_string(list_slice(sig, b*2+1, b*2+2), ',')) AS bh
          FROM sig CROSS JOIN (SELECT unnest(range(0, 8)) AS b) bands
        ),
        cand AS (
          SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
          FROM band a JOIN band b ON a.b = b.b AND a.bh = b.bh
                                 AND a.doc_id < b.doc_id
        ),
        near AS (
          SELECT c.id_a, c.id_b
          FROM cand c
          JOIN s sa ON sa.doc_id = c.id_a
          JOIN s sb ON sb.doc_id = c.id_b
          WHERE ROUND(len(list_intersect(sa.sh, sb.sh))::DOUBLE
                / len(list_distinct(sa.sh || sb.sh)), 6) >= 0.35
        ),
        sym AS (SELECT id_a AS src, id_b AS dst FROM near
                UNION SELECT id_b, id_a FROM near),
        reach(id, label) AS (
          SELECT doc_id, doc_id FROM documents
          UNION
          SELECT e.dst, r.label FROM reach r JOIN sym e ON e.src = r.id
        )
        SELECT id AS doc_id, MIN(label) AS component
        FROM reach GROUP BY id ORDER BY doc_id
    """


_register_components_oracle()


@query(
    "dedup_simhash",
    None,
)
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """32-bit SimHash per document (two hash-agg stages, no UDF)."""
    from .operators.dedup import simhash

    return simhash(load_table(spark, sf_dir, "documents"))


def _register_simhash_oracle() -> None:
    from .operators.dedup import duck_shingle_hashes

    ORACLE["dedup_simhash"] = f"""
        WITH s AS (SELECT doc_id, unnest({duck_shingle_hashes(3)}) AS h FROM documents),
        v AS (
          SELECT doc_id, bit, SUM(CASE WHEN (h >> bit) & 1 = 1 THEN 1 ELSE -1 END) AS score
          FROM s CROSS JOIN (SELECT unnest(range(0, 32)) AS bit) bits
          GROUP BY 1, 2
        )
        SELECT doc_id,
               CAST(SUM(CASE WHEN score >= 0 THEN (1::BIGINT << bit) ELSE 0 END)
                    AS BIGINT) AS simhash
        FROM v GROUP BY 1
    """


_register_simhash_oracle()


@query("dedup_image_phash", None)  # oracle registered below
def dedup_image_phash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perceptual-hash IMAGE near-dup (VERDICT r8 item 2) — the first
    dedup modality a multimodal training-data pipeline needs beyond
    text: per document a REAL 9x8 grayscale BMP is synthesized from
    deterministic integer arithmetic (`multimodal.synth_gray_bmp_payloads`
    — groups of 4 ids share a base image, member 1 brightness-bumped
    into a planted near-dup, members 2-3 independent), round-tripped
    through the real byte path (`multimodal.image_dhash`: encode →
    magic-byte decode → Rec.709 luminance → 64-bit dHash), then paired
    by the Hamming-banded candidate join
    (`dedup.hamming_near_dup_pairs`: 4×16-bit bands, pigeonhole
    guarantee for hamming <= 3, 64-id bucket gate) — never
    image×image. The twin replays the luminance + hash-bit arithmetic
    and the identical band/gate/bit_count(xor) pipeline; the decode
    round-trip itself is pinned by the planted-pair pytest and the
    codec suite."""
    from .operators.dedup import hamming_near_dup_pairs
    from .operators.multimodal import image_dhash, synth_gray_bmp_payloads

    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    hashed = image_dhash(synth_gray_bmp_payloads(docs))
    return hamming_near_dup_pairs(
        hashed, bits=64, bands=4, max_hamming=3, max_ids_per_bucket=64
    )


def _register_image_phash_oracle() -> None:
    from .operators.multimodal import duck_image_phash_sql

    ORACLE["dedup_image_phash"] = duck_image_phash_sql(
        table="documents", width=9, height=8, bands=4,
        max_hamming=3, max_ids_per_bucket=64,
    )


_register_image_phash_oracle()


@query("dedup_video_phash", None)  # oracle registered below
def dedup_video_phash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perceptual VIDEO near-dup (VERDICT r9 missing item 2 — closes
    the multimodal dedup matrix: text/embedding/image/audio/VIDEO):
    per document a REAL RIFF-AVI container is synthesized
    (`multimodal.synth_avi_payloads` — 6 deterministic 9×8 gray DIB
    frames; groups of 4 ids: member 1 redraws ONE sampled frame,
    member 2 re-containers the SAME frames with different fps + a
    JUNK chunk — the cross-container plant no exact byte hash can
    pair, member 3 unrelated), stride-sampled every 2nd frame WITHOUT
    decoding the skipped frames (`multimodal.sample_avi_frames` walks
    chunk headers and seeks over unsampled bodies), per-frame dHashed
    through the image path's exact bit arithmetic
    (`multimodal.video_frame_dhash`), then doc pairs form by the
    min-matching-frames rule over the EXISTING Hamming-banded join
    (`dedup.video_near_dup_pairs`: composite (doc·16+frame) ids, one
    (band_idx, band_val) shuffle, ≤64-id gate, ≥2 distinct matching
    frame pairs). Expected structure per group: (base, redrawn) match
    on 2 of 3 sampled frames, (base, re-containered) on 3, never
    video×video. The twin replays frame luminance, hash bits, bands,
    gate, hamming, and the distinct-frame-pair rollup; the container
    round-trip is pinned by the codec/stride pytest suite."""
    from .operators.dedup import video_near_dup_pairs
    from .operators.multimodal import (
        VID_MIN_MATCH,
        synth_avi_payloads,
        video_frame_dhash,
    )

    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    frames = video_frame_dhash(synth_avi_payloads(docs))
    return video_near_dup_pairs(frames, min_matching_frames=VID_MIN_MATCH)


def _register_video_phash_oracle() -> None:
    from .operators.multimodal import duck_video_near_dup_sql

    ORACLE["dedup_video_phash"] = duck_video_near_dup_sql(table="documents")


_register_video_phash_oracle()


@query("dedup_still_from_video", None)  # oracle registered below
def dedup_still_from_video(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CROSS-MODAL still-from-video near-dup (r11, VERDICT r10
    item 3): find still images that are frames EXTRACTED from videos
    — the curation case neither single-modality pass can see
    (thumbnails/screenshots lifted from video content). The still
    corpus (`multimodal.synth_still_payloads`) plants a pixel-exact
    extraction of video ``doc_id``'s sampled frame 2 at every
    ``doc_id % 8 == 0``, real-BMP round-tripped through the image
    dHash byte path (`multimodal.image_dhash`); the video corpus is
    the SAME RIFF-AVI synth + stride-sample + per-frame dHash chain
    as `dedup_video_phash`. Both fingerprint sets then ride ONE
    Hamming-banded join via the parity-tagged composite-id scheme
    (`dedup.still_from_video_pairs`: video frames even, stills odd —
    one (band_idx, band_val) shuffle, ≤64-id gate, mixed-parity
    filter, composite decomposition). Expected structure per planted
    still: it pairs with the BASE video (exact frame, hamming 0) and
    the re-containered group member (same frames, different
    container) but NOT the redrawn member — frame 2 is exactly the
    frame that member redraws, so the gate pins cross-modal matching
    AND within-group discrimination. The twin replays both luminance
    paths, both hash-bit chains, the union banding, gate, hamming,
    parity filter, and decomposition."""
    from .operators.dedup import still_from_video_pairs
    from .operators.multimodal import (
        image_dhash,
        synth_avi_payloads,
        synth_still_payloads,
        video_frame_dhash,
    )

    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    frames = video_frame_dhash(synth_avi_payloads(docs))
    stills = image_dhash(synth_still_payloads(docs))
    return still_from_video_pairs(frames, stills)


def _register_still_from_video_oracle() -> None:
    from .operators.multimodal import (
        duck_still_dhash_cte,
        duck_video_dhash_cte,
    )

    ORACLE["dedup_still_from_video"] = f"""
        WITH {duck_video_dhash_cte("documents")},
        {duck_still_dhash_cte("documents")},
        cidf AS (
          SELECT (doc_id * 16 + f) * 2 AS fid, dh FROM hh
          UNION ALL
          SELECT doc_id * 2 + 1 AS fid, dh FROM sh),
        bd AS (
          SELECT fid, dh, t.b AS band_idx,
                 (dh >> (t.b * 16)) & 65535 AS band_val
          FROM cidf, UNNEST(range(0, 4)) t(b)),
        ok AS (
          SELECT band_idx, band_val FROM bd GROUP BY 1, 2
          HAVING COUNT(*) BETWEEN 2 AND 64),
        cand AS (
          SELECT DISTINCT a.fid AS fa, c.fid AS fb,
                 CAST(bit_count(xor(a.dh, c.dh)) AS INT) AS hamming
          FROM bd a
          JOIN ok USING (band_idx, band_val)
          JOIN bd c ON c.band_idx = a.band_idx
                   AND c.band_val = a.band_val
                   AND a.fid < c.fid),
        x AS (SELECT * FROM cand
              WHERE hamming <= 3 AND (fa % 2) <> (fb % 2)),
        pairs AS (
          SELECT CASE WHEN fa % 2 = 0 THEN fa ELSE fb END AS vfid,
                 CASE WHEN fa % 2 = 1 THEN fa ELSE fb END AS sfid,
                 hamming
          FROM x)
        SELECT (vfid // 2) // 16 AS video_id,
               CAST((vfid // 2) % 16 AS INT) AS frame_idx,
               (sfid - 1) // 2 AS still_id, hamming
        FROM pairs
    """


_register_still_from_video_oracle()


@query("dedup_audio_fingerprint", None)  # oracle registered below
def dedup_audio_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perceptual AUDIO near-dup — completes the multimodal dedup
    matrix (text/embedding/image/audio): per document a REAL 16-bit
    PCM WAV is synthesized from deterministic integer samples
    (`multimodal.synth_wav_payloads` — groups of 4 ids share a base
    signal, member 1 re-draws ONE frame into a planted near-dup with
    Hamming <= 2 by construction), round-tripped through the real
    byte path (`multimodal.audio_fingerprint`: encode → stdlib wave
    decode → exact int16 recovery → per-frame integer energy →
    64-bit energy-delta-sign fingerprint, Haitsma–Kalker shape), then
    paired by the same Hamming-banded candidate join as the image
    family (`dedup.hamming_near_dup_pairs`: 4×16-bit bands,
    pigeonhole for hamming <= 3, 64-id bucket gate) — never
    audio×audio. All energy arithmetic is int64-exact on BOTH
    engines, so there is no float-order drift to snap. The twin
    replays the sample + energy + bit arithmetic; the WAV round-trip
    itself is pinned by the codec + planted-pair pytest."""
    from .operators.dedup import hamming_near_dup_pairs
    from .operators.multimodal import audio_fingerprint, synth_wav_payloads

    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    hashed = audio_fingerprint(synth_wav_payloads(docs))
    return hamming_near_dup_pairs(
        hashed, hash_col="afp", bits=64, bands=4,
        max_hamming=3, max_ids_per_bucket=64,
    )


def _register_audio_fp_oracle() -> None:
    from .operators.multimodal import duck_audio_fp_sql

    ORACLE["dedup_audio_fingerprint"] = duck_audio_fp_sql(
        table="documents", bands=4, max_hamming=3, max_ids_per_bucket=64,
    )


_register_audio_fp_oracle()


@query("dedup_fingerprint_incremental", None)  # oracle registered below
def dedup_fingerprint_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Image-dHash dedup through the PERSISTED banded-fingerprint
    store (`dedup.incremental_fingerprint_dedup_bucketed`) — the
    FIFTH incremental store, giving the image/audio fingerprint
    modalities the same batch-vs-history shape the text family has:
    each batch's fingerprints check within Hamming 3 of ALL accepted
    survivors without re-hashing earlier batches; the store side of
    the band join reads exchange-free (bucketed on the composite band
    key, batch-scoped via broadcast semi-join). Two id-ordered
    batches here; the twin unrolls the SAME two stages with
    per-stage union-distinct bucket gates (history ∪ batch, scoped
    to the batch's buckets — the gate makes incremental legitimately
    different from one full pass). Returns (doc_id, is_dup) for the
    full corpus. Store path reuses one session-scoped dir with
    fresh=True overwrite (the VERDICT r8 noise discipline)."""
    from .operators.dedup import incremental_fingerprint_dedup_bucketed
    from .operators.multimodal import image_dhash, synth_gray_bmp_payloads
    from .plans.cachereg import swap_cache

    store = "q_dedup_fp_store"
    path = _session_store_dir("spark_graft_fp_store_")
    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    # both store batches (and their concurrent broadcast builds) read
    # the fingerprints: stage the synth+decode chain once, eagerly
    hashed = swap_cache(
        "q.dedup_fp_incremental_hashed",
        image_dhash(synth_gray_bmp_payloads(docs)),
        eager=True,
    )
    kept = []
    for i, pred in enumerate((F.col("doc_id") < 250, F.col("doc_id") >= 250)):
        s = incremental_fingerprint_dedup_bucketed(
            hashed.filter(pred), store, hash_col="dhash",
            bits=64, bands=4, max_hamming=3, max_ids_per_bucket=64,
            buckets=8, path=path, fresh=(i == 0),
        )
        kept.append(s.select("doc_id"))
    surv = kept[0].unionByName(kept[1])
    return (
        docs.join(surv.withColumn("__k", F.lit(1)), "doc_id", "left")
        .select(
            "doc_id",
            F.when(F.col("__k").isNull(), F.lit(1))
            .otherwise(F.lit(0))
            .cast("int")
            .alias("is_dup"),
        )
    )


def _register_fp_incremental_oracle() -> None:
    from .operators.multimodal import duck_image_dhash_cte

    ORACLE["dedup_fingerprint_incremental"] = f"""
        WITH {duck_image_dhash_cte("documents", "doc_id", 9, 8)},
        bd AS (
          SELECT doc_id, dh,
                 (t.b::BIGINT << 16) | ((dh >> (t.b * 16)) & 65535) AS bk
          FROM h, UNNEST(range(0, 4)) t(b)),
        b1 AS (SELECT * FROM bd WHERE doc_id < 250),
        g1 AS (SELECT bk FROM b1 GROUP BY bk
               HAVING COUNT(DISTINCT doc_id) <= 64),
        p1 AS (
          SELECT DISTINCT c.doc_id AS id_b
          FROM b1 a JOIN g1 USING (bk) JOIN b1 c USING (bk)
          WHERE a.doc_id < c.doc_id
            AND bit_count(xor(a.dh, c.dh)) <= 3),
        d1 AS (SELECT id_b AS doc_id FROM p1),
        store AS (SELECT * FROM b1
                  WHERE doc_id NOT IN (SELECT doc_id FROM d1)),
        b2 AS (SELECT * FROM bd WHERE doc_id >= 250),
        u2 AS (
          SELECT bk, doc_id FROM b2
          UNION ALL
          SELECT s.bk, s.doc_id FROM store s
          WHERE s.bk IN (SELECT bk FROM b2)),
        g2 AS (SELECT bk FROM u2 GROUP BY bk
               HAVING COUNT(DISTINCT doc_id) <= 64),
        in2 AS (
          SELECT DISTINCT c.doc_id AS id_b
          FROM b2 a JOIN g2 USING (bk) JOIN b2 c USING (bk)
          WHERE a.doc_id < c.doc_id
            AND bit_count(xor(a.dh, c.dh)) <= 3),
        vs2 AS (
          SELECT DISTINCT c.doc_id AS id_b
          FROM store s JOIN g2 USING (bk) JOIN b2 c USING (bk)
          WHERE bit_count(xor(s.dh, c.dh)) <= 3),
        d2 AS (SELECT id_b AS doc_id FROM in2
               UNION SELECT id_b FROM vs2)
        SELECT d.doc_id,
               CAST(CASE WHEN d.doc_id IN (SELECT doc_id FROM d1)
                           OR d.doc_id IN (SELECT doc_id FROM d2)
                    THEN 1 ELSE 0 END AS INT) AS is_dup
        FROM documents d
    """


_register_fp_incremental_oracle()


@query("dedup_video_incremental", None)  # oracle registered below
def dedup_video_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """VIDEO dedup through the persisted banded store — the SIXTH
    incremental-store member (`dedup.incremental_video_dedup_bucketed`):
    each crawl batch's frame-sampled perceptual fingerprints check
    against ALL accepted history with the ≥2-distinct-matching-frames
    doc rule, store side exchange-free (bucketed on the composite
    band key, batch-scoped via broadcast semi). Two id-ordered
    batches; one planted near-dup group (base/redrawn/re-containered,
    ids g..g+2 of the 4-wide group) straddles the doc_id<250 split —
    base 248 and redrawn 249 in batch 1, re-containered 250 in batch
    2 — and the incremental result still EQUALS the one-pass rule
    because the group's base (the within-batch survivor) lands in the
    store, so 250 matches it vs-store exactly as it would have within
    one batch. The twin unrolls BOTH stages with per-stage
    union-distinct gates, so the store arithmetic (not just the
    outcome) is inside the hash — including that cross-batch match.
    Returns (doc_id, is_dup) for the corpus."""
    from .operators.dedup import incremental_video_dedup_bucketed
    from .operators.multimodal import (
        VID_MIN_MATCH,
        synth_avi_payloads,
        video_frame_dhash,
    )

    from .plans.cachereg import swap_cache

    store = "q_dedup_video_store"
    path = _session_store_dir("spark_graft_vfp_store_")
    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    # ONE synth+hash pass: both store stages' survivor joins and the
    # final is_dup join re-read this frame — uncached, the Arrow
    # synth+decode chain would re-run per consumer
    # eager: the first consumers are concurrent (broadcast-exchange
    # builds on their own threads) — lazily persisted, each of them
    # recomputed the full synth+decode chain (see swap_cache docstring)
    frames = swap_cache(
        "q.dedup_video_incremental_frames",
        video_frame_dhash(synth_avi_payloads(docs)),
        eager=True,
    )
    kept = []
    for i, pred in enumerate((F.col("doc_id") < 250, F.col("doc_id") >= 250)):
        s = incremental_video_dedup_bucketed(
            frames.filter(pred), store,
            min_matching_frames=VID_MIN_MATCH,
            bits=64, bands=4, max_hamming=3, max_ids_per_bucket=64,
            buckets=8, path=path, fresh=(i == 0),
        )
        kept.append(s.select("doc_id").distinct())
    surv = kept[0].unionByName(kept[1])
    return (
        docs.join(surv.withColumn("__k", F.lit(1)), "doc_id", "left")
        .select(
            "doc_id",
            F.when(F.col("__k").isNull(), F.lit(1))
            .otherwise(F.lit(0))
            .cast("int")
            .alias("is_dup"),
        )
    )


def _register_video_incremental_oracle() -> None:
    from .operators.multimodal import VID_MIN_MATCH, duck_video_dhash_cte

    m = VID_MIN_MATCH
    ORACLE["dedup_video_incremental"] = f"""
        WITH {duck_video_dhash_cte("documents", "doc_id")},
        bd AS (
          SELECT doc_id, f, dh,
                 (t.b::BIGINT << 16) | ((dh >> (t.b * 16)) & 65535) AS bk
          FROM hh, UNNEST(range(0, 4)) t(b)),
        b1 AS (SELECT * FROM bd WHERE doc_id < 250),
        g1 AS (SELECT bk FROM b1 GROUP BY bk
               HAVING COUNT(DISTINCT (doc_id, f)) <= 64),
        p1 AS (
          SELECT a.doc_id AS da, c.doc_id AS db, a.f AS fa, c.f AS fb
          FROM b1 a JOIN g1 USING (bk) JOIN b1 c USING (bk)
          WHERE a.doc_id < c.doc_id
            AND bit_count(xor(a.dh, c.dh)) <= 3),
        d1 AS (
          SELECT db AS doc_id FROM (
            SELECT da, db, COUNT(DISTINCT (fa, fb)) AS m
            FROM p1 GROUP BY 1, 2)
          WHERE m >= {m} GROUP BY 1),
        store AS (SELECT * FROM b1
                  WHERE doc_id NOT IN (SELECT doc_id FROM d1)),
        b2 AS (SELECT * FROM bd WHERE doc_id >= 250),
        u2 AS (
          SELECT bk, doc_id, f FROM b2
          UNION ALL
          SELECT s.bk, s.doc_id, s.f FROM store s
          WHERE s.bk IN (SELECT bk FROM b2)),
        g2 AS (SELECT bk FROM u2 GROUP BY bk
               HAVING COUNT(DISTINCT (doc_id, f)) <= 64),
        in2p AS (
          SELECT a.doc_id AS da, c.doc_id AS db, a.f AS fa, c.f AS fb
          FROM b2 a JOIN g2 USING (bk) JOIN b2 c USING (bk)
          WHERE a.doc_id < c.doc_id
            AND bit_count(xor(a.dh, c.dh)) <= 3),
        vs2p AS (
          SELECT s.doc_id AS da, c.doc_id AS db, s.f AS fa, c.f AS fb
          FROM store s JOIN g2 USING (bk) JOIN b2 c USING (bk)
          WHERE bit_count(xor(s.dh, c.dh)) <= 3),
        d2 AS (
          SELECT db AS doc_id FROM (
            SELECT da, db, COUNT(DISTINCT (fa, fb)) AS m
            FROM in2p GROUP BY 1, 2) WHERE m >= {m}
          UNION
          SELECT db FROM (
            SELECT da, db, COUNT(DISTINCT (fa, fb)) AS m
            FROM vs2p GROUP BY 1, 2) WHERE m >= {m})
        SELECT d.doc_id,
               CAST(CASE WHEN d.doc_id IN (SELECT doc_id FROM d1)
                           OR d.doc_id IN (SELECT doc_id FROM d2)
                    THEN 1 ELSE 0 END AS INT) AS is_dup
        FROM documents d
    """


_register_video_incremental_oracle()


@query("dedup_still_from_video_store", None)  # oracle registered below
def dedup_still_from_video_store(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CROSS-MODAL lookup against the PERSISTED video store (r11 —
    the curation-loop form of `dedup_still_from_video`): the video
    corpus first dedups batch-by-batch into the banded frame store
    (`dedup.incremental_video_dedup_bucketed`, two id-ordered
    batches), then the ENTIRE still corpus checks against the
    store's ACCEPTED frames only (`dedup.stills_against_video_store`
    — broadcast semi on the stills' band keys, ZERO store-side
    Exchange, lookup cost independent of video-history size). The
    planted still is a pixel-exact extraction of its group's BASE
    video frame, and the base is exactly the member the store keeps
    (redrawn + re-containered members deduped away), so every
    planted still matches ONE stored video at hamming 0 — the
    matches-only-accepted-content semantics is itself inside the
    hash. Twin: the full two-stage store-build unroll (the
    `dedup_video_incremental` CTE chain) composed with the still
    luminance/hash chain, the store-side band semi, the union
    hot-bucket gate, and the Hamming verify."""
    from .operators.dedup import (
        incremental_video_dedup_bucketed,
        stills_against_video_store,
    )
    from .operators.multimodal import (
        VID_MIN_MATCH,
        image_dhash,
        synth_avi_payloads,
        synth_still_payloads,
        video_frame_dhash,
    )
    from .plans.cachereg import swap_cache

    store = "q_dedup_sfv_store"
    path = _session_store_dir("spark_graft_sfv_store_")
    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    frames = swap_cache(
        "q.dedup_sfv_frames",
        video_frame_dhash(synth_avi_payloads(docs)),
        eager=True,  # concurrent first consumers — see swap_cache
    )
    for i, pred in enumerate(
        (F.col("doc_id") < 250, F.col("doc_id") >= 250)
    ):
        incremental_video_dedup_bucketed(
            frames.filter(pred), store,
            min_matching_frames=VID_MIN_MATCH,
            buckets=8, path=path, fresh=(i == 0),
        )
    stills = image_dhash(synth_still_payloads(docs))
    return stills_against_video_store(stills, store)


def _register_still_from_video_store_oracle() -> None:
    from .operators.multimodal import (
        VID_MIN_MATCH,
        duck_still_dhash_cte,
        duck_video_dhash_cte,
    )

    m = VID_MIN_MATCH
    ORACLE["dedup_still_from_video_store"] = f"""
        WITH {duck_video_dhash_cte("documents", "doc_id")},
        bd AS (
          SELECT doc_id, f, dh,
                 (t.b::BIGINT << 16) | ((dh >> (t.b * 16)) & 65535) AS bk
          FROM hh, UNNEST(range(0, 4)) t(b)),
        b1 AS (SELECT * FROM bd WHERE doc_id < 250),
        g1 AS (SELECT bk FROM b1 GROUP BY bk
               HAVING COUNT(DISTINCT (doc_id, f)) <= 64),
        p1 AS (
          SELECT a.doc_id AS da, c.doc_id AS db, a.f AS fa, c.f AS fb
          FROM b1 a JOIN g1 USING (bk) JOIN b1 c USING (bk)
          WHERE a.doc_id < c.doc_id
            AND bit_count(xor(a.dh, c.dh)) <= 3),
        d1 AS (
          SELECT db AS doc_id FROM (
            SELECT da, db, COUNT(DISTINCT (fa, fb)) AS m
            FROM p1 GROUP BY 1, 2)
          WHERE m >= {m} GROUP BY 1),
        store AS (SELECT * FROM b1
                  WHERE doc_id NOT IN (SELECT doc_id FROM d1)),
        b2 AS (SELECT * FROM bd WHERE doc_id >= 250),
        u2 AS (
          SELECT bk, doc_id, f FROM b2
          UNION ALL
          SELECT s.bk, s.doc_id, s.f FROM store s
          WHERE s.bk IN (SELECT bk FROM b2)),
        g2 AS (SELECT bk FROM u2 GROUP BY bk
               HAVING COUNT(DISTINCT (doc_id, f)) <= 64),
        in2p AS (
          SELECT a.doc_id AS da, c.doc_id AS db, a.f AS fa, c.f AS fb
          FROM b2 a JOIN g2 USING (bk) JOIN b2 c USING (bk)
          WHERE a.doc_id < c.doc_id
            AND bit_count(xor(a.dh, c.dh)) <= 3),
        vs2p AS (
          SELECT s.doc_id AS da, c.doc_id AS db, s.f AS fa, c.f AS fb
          FROM store s JOIN g2 USING (bk) JOIN b2 c USING (bk)
          WHERE bit_count(xor(s.dh, c.dh)) <= 3),
        d2 AS (
          SELECT db AS doc_id FROM (
            SELECT da, db, COUNT(DISTINCT (fa, fb)) AS m
            FROM in2p GROUP BY 1, 2) WHERE m >= {m}
          UNION
          SELECT db FROM (
            SELECT da, db, COUNT(DISTINCT (fa, fb)) AS m
            FROM vs2p GROUP BY 1, 2) WHERE m >= {m}),
        keepstore AS (
          SELECT bd.* FROM bd
          WHERE bd.doc_id NOT IN (SELECT doc_id FROM d1)
            AND bd.doc_id NOT IN (SELECT doc_id FROM d2)),
        {duck_still_dhash_cte("documents", "doc_id").replace(
            "sg AS", "sg AS"
        )},
        sbd AS (
          SELECT doc_id AS sid, dh AS sdh,
                 (t.b::BIGINT << 16) | ((dh >> (t.b * 16)) & 65535) AS bk
          FROM sh, UNNEST(range(0, 4)) t(b)),
        sbk AS (SELECT DISTINCT bk FROM sbd),
        shits AS (SELECT s.* FROM keepstore s JOIN sbk USING (bk)),
        gid AS (
          SELECT bk, 's:' || sid::VARCHAR AS fid FROM sbd
          UNION ALL
          SELECT bk, doc_id::VARCHAR || ':' || f::VARCHAR AS fid
          FROM shits),
        gok AS (SELECT bk FROM gid GROUP BY bk
                HAVING COUNT(DISTINCT fid) <= 64)
        SELECT DISTINCT s.sid AS still_id, h.doc_id AS video_id,
               CAST(h.f AS INT) AS frame_idx,
               CAST(bit_count(xor(s.sdh, h.dh)) AS INT) AS hamming
        FROM sbd s JOIN gok USING (bk) JOIN shits h USING (bk)
        WHERE bit_count(xor(s.sdh, h.dh)) <= 3
    """


_register_still_from_video_store_oracle()


@query("pipeline_multimodal_curation", None)  # oracle registered below
def pipeline_multimodal_curation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end MULTIMODAL curation pipeline — the composition a
    vision-text training-data run executes, each stage one of the
    engine's oracled operators: real-byte image decode + dHash
    (`multimodal.image_dhash` over the synthesized BMP corpus) →
    Hamming-banded visual near-dup removal (drop the higher id of
    every ≤3-bit pair — `dedup.hamming_near_dup_pairs`, never
    image×image) → text-quality filter on the visual survivors
    (`text.quality_score`, codegen'd) → per-language corpus stats.
    The twin chains the image-fingerprint arithmetic, the identical
    band/gate/verify pipeline, the survivor anti-join, and the
    quality expression stage for stage."""
    from .operators.dedup import hamming_near_dup_pairs
    from .operators.multimodal import image_dhash, synth_gray_bmp_payloads
    from .operators.text import QUALITY_SQL_SPARK

    docs = load_table(spark, sf_dir, "documents")
    hashed = image_dhash(synth_gray_bmp_payloads(docs.select("doc_id")))
    pairs = hamming_near_dup_pairs(
        hashed, bits=64, bands=4, max_hamming=3, max_ids_per_bucket=64
    )
    drops = pairs.select(F.col("id_b").alias("doc_id")).distinct()
    surv = docs.join(drops, "doc_id", "left_anti")
    scored = surv.select(
        "doc_id", "lang", F.expr(QUALITY_SQL_SPARK).alias("quality")
    ).filter(F.col("quality") >= 0.5)
    return scored.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.round(F.avg("quality"), 6).alias("avg_quality"),
    )


def _register_multimodal_curation_oracle() -> None:
    from .operators.multimodal import duck_image_dhash_cte
    from .operators.text import QUALITY_SQL_DUCK

    ORACLE["pipeline_multimodal_curation"] = f"""
        WITH {duck_image_dhash_cte("documents", "doc_id", 9, 8)},
        bd AS (
          SELECT doc_id, dh, t.b AS band_idx,
                 (dh >> (t.b * 16)) & 65535 AS band_val
          FROM h, UNNEST(range(0, 4)) t(b)),
        ok AS (
          SELECT band_idx, band_val FROM bd GROUP BY 1, 2
          HAVING COUNT(*) BETWEEN 2 AND 64),
        cand AS (
          SELECT DISTINCT a.doc_id AS id_a, c.doc_id AS id_b,
                 CAST(bit_count(xor(a.dh, c.dh)) AS INT) AS hamming
          FROM bd a
          JOIN ok USING (band_idx, band_val)
          JOIN bd c ON c.band_idx = a.band_idx AND c.band_val = a.band_val
                    AND a.doc_id < c.doc_id),
        drops AS (SELECT DISTINCT id_b AS doc_id FROM cand
                  WHERE hamming <= 3),
        surv AS (SELECT d.* FROM documents d
                 WHERE d.doc_id NOT IN (SELECT doc_id FROM drops)),
        scored AS (
          SELECT doc_id, lang, {QUALITY_SQL_DUCK} AS quality FROM surv)
        SELECT lang, COUNT(*) AS n_docs,
               ROUND(AVG(quality), 6) AS avg_quality
        FROM scored WHERE quality >= 0.5 GROUP BY lang
    """


_register_multimodal_curation_oracle()


@query("pipeline_corpus_curation", None)
def pipeline_corpus_curation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end corpus-curation pipeline — the composition a
    training-data run would actually execute, each stage one of the
    engine's oracled operators: quality/token/lang scoring (codegen'd
    expressions) → quality+length filter → exact dedup (min-id
    survivor per content key) → MinHash-LSH near-dup removal (drop
    the higher id of every Jaccard≥0.35 candidate pair) → per-
    (lang, quality-decile) corpus stats. The DuckDB oracle replays
    the identical pipeline stage for stage."""
    from .operators.curation import corpus_stats, curate_corpus

    docs = load_table(spark, sf_dir, "documents")
    kept = curate_corpus(docs, min_quality=0.6, min_tokens=20)
    return corpus_stats(kept)


def _register_curation_oracle() -> None:
    from .operators.dedup import (
        MINHASH_A,
        MINHASH_B,
        MINHASH_P,
        NORM_SQL_DUCK,
        duck_shingle_hashes,
    )
    from .operators.text import QUALITY_SQL_DUCK, duck_lang_id_sql

    sig_terms = ", ".join(
        f"list_min(list_transform(sh, h -> ({MINHASH_A[i]} * h + {MINHASH_B[i]}) % {MINHASH_P}))"
        for i in range(16)
    )
    ORACLE["pipeline_corpus_curation"] = f"""
        WITH scored AS (
          SELECT doc_id, text,
                 len(string_split({NORM_SQL_DUCK}, ' ')) AS n_tokens,
                 {duck_lang_id_sql()} AS lang_guess,
                 {QUALITY_SQL_DUCK} AS quality
          FROM documents),
        filt AS (SELECT * FROM scored WHERE quality >= 0.6 AND n_tokens >= 20),
        keyed AS (SELECT *, md5({NORM_SQL_DUCK}) AS ck FROM filt),
        winners AS (SELECT ck, MIN(doc_id) AS doc_id FROM keyed GROUP BY ck),
        surv AS (SELECT k.* FROM keyed k
                 JOIN winners w ON k.ck = w.ck AND k.doc_id = w.doc_id),
        s AS (SELECT doc_id, {duck_shingle_hashes(3)} AS sh FROM surv),
        sig AS (SELECT doc_id, sh, [{sig_terms}] AS sig FROM s),
        band AS (
          SELECT doc_id, b,
                 md5(array_to_string(list_slice(sig, b*2+1, b*2+2), ',')) AS bh
          FROM sig CROSS JOIN (SELECT unnest(range(0, 8)) AS b) bands
        ),
        cand AS (
          SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
          FROM band a JOIN band b ON a.b = b.b AND a.bh = b.bh
                                 AND a.doc_id < b.doc_id
        ),
        near AS (
          SELECT c.id_a, c.id_b
          FROM cand c
          JOIN s sa ON sa.doc_id = c.id_a
          JOIN s sb ON sb.doc_id = c.id_b
          WHERE len(list_intersect(sa.sh, sb.sh))::DOUBLE
                / len(list_distinct(sa.sh || sb.sh)) >= 0.35
        ),
        kept AS (SELECT * FROM surv
                 WHERE doc_id NOT IN (SELECT DISTINCT id_b FROM near))
        SELECT lang_guess, CAST(FLOOR(quality*10) AS INT) AS q_bucket,
               COUNT(*) AS n_docs, ROUND(AVG(quality),6) AS avg_quality,
               ROUND(AVG(n_tokens),6) AS avg_tokens
        FROM kept GROUP BY 1, 2
    """


_register_curation_oracle()


@query(
    "ann_top1_cosine",
    """
    WITH n AS (
      SELECT vec_id,
             list_transform(embedding, x -> x::DOUBLE /
               sqrt(list_sum(list_transform(embedding, y -> y::DOUBLE * y::DOUBLE))))
               AS e
      FROM embeddings
    )
    , p AS (
      SELECT a.vec_id, b.vec_id AS nb, list_dot_product(a.e, b.e) AS s
      FROM n a JOIN n b ON a.vec_id <> b.vec_id
    ), r AS (
      SELECT vec_id, nb,
             ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY s DESC, nb ASC) AS rn
      FROM p
    )
    SELECT vec_id, nb AS neighbor_id FROM r WHERE rn = 1
    """,
)
def ann_top1_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact nearest neighbor by cosine (brute force, broadcast query
    matrix + one BLAS matmul per Arrow batch). Output is id-only so
    the oracle hash is float-jitter-proof."""
    from .operators.similarity import cosine_topk

    emb = load_table(spark, sf_dir, "embeddings")
    top = cosine_topk(emb, k=1)
    return top.select("vec_id", "neighbor_id")


@query(
    "ann_truncation_agree",
    """
    WITH n AS (
      SELECT vec_id,
             list_transform(embedding, x -> x::DOUBLE /
               sqrt(list_sum(list_transform(embedding, y -> y::DOUBLE * y::DOUBLE))))
               AS e
      FROM embeddings
    ),
    nt AS (
      SELECT vec_id,
             list_transform(list_slice(embedding, 1, 16), x -> x::DOUBLE /
               sqrt(list_sum(list_transform(list_slice(embedding, 1, 16),
                                            y -> y::DOUBLE * y::DOUBLE))))
               AS e
      FROM embeddings
    ),
    pf AS (SELECT vec_id AS pid, e FROM n WHERE vec_id % 200 = 0),
    pt AS (SELECT vec_id AS pid, e FROM nt WHERE vec_id % 200 = 0),
    rf AS (
      SELECT a.vec_id, p.pid,
             ROW_NUMBER() OVER (PARTITION BY a.vec_id
               ORDER BY ROUND(list_dot_product(a.e, p.e), 6) DESC,
                        p.pid ASC) AS rn
      FROM n a CROSS JOIN pf p
    ),
    rt AS (
      SELECT a.vec_id, p.pid,
             ROW_NUMBER() OVER (PARTITION BY a.vec_id
               ORDER BY ROUND(list_dot_product(a.e, p.e), 6) DESC,
                        p.pid ASC) AS rn
      FROM nt a CROSS JOIN pt p
    ),
    f1 AS (SELECT vec_id, pid AS full_probe FROM rf WHERE rn = 1),
    t1 AS (SELECT vec_id, pid AS trunc_probe FROM rt WHERE rn = 1)
    SELECT f1.vec_id, full_probe, trunc_probe,
           CAST(full_probe = trunc_probe AS INT) AS agree
    FROM f1 JOIN t1 ON t1.vec_id = f1.vec_id
    """,
)
def ann_truncation_agree(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Matryoshka-style TRUNCATION diagnostic: per corpus vector, its
    nearest probe (vec_id % 200) under the full 64-d embedding vs
    under the first-16-dims truncation (renormalized) — the agreement
    rate is the number that says whether a 4× cheaper index (store,
    shuffle, and ADC all shrink with d) keeps the same answers. Both
    arms are the exact broadcast-matmul search (`cosine_topk`), so
    the diagnostic isolates TRUNCATION loss from quantization loss
    (SQ8/PQ measure those). Output is id-only + an agree flag —
    float-jitter-proof like `ann_top1_cosine`, and BOTH arms snap
    cosines to the repo-wide 6-dp grid before the (score desc, pid
    asc) ranking (ADVICE r9: matching the sq8_adc_top1/l2_exact_top1
    snap contract — without it a near-tie between two probes can
    order differently under BLAS matmul vs DuckDB's sequential
    list_dot_product, and the 16-d arm concentrates similarities).
    Scale shape: two narrow Arrow passes over the corpus with the
    (bounded) probe matrices in closures; zero corpus shuffle."""
    from .operators.similarity import cosine_topk

    emb = load_table(spark, sf_dir, "embeddings")
    probes = emb.filter(F.col("vec_id") % 200 == 0)
    full = cosine_topk(
        emb, queries=probes, k=1, exclude_self=False, round_dp=6
    ).select("vec_id", F.col("neighbor_id").alias("full_probe"))
    emb16 = emb.select(
        "vec_id", F.expr("slice(embedding, 1, 16)").alias("embedding")
    )
    probes16 = emb16.filter(F.col("vec_id") % 200 == 0)
    trunc = cosine_topk(
        emb16, queries=probes16, k=1, exclude_self=False, round_dp=6
    ).select("vec_id", F.col("neighbor_id").alias("trunc_probe"))
    return full.join(trunc, "vec_id").select(
        "vec_id",
        "full_probe",
        "trunc_probe",
        (F.col("full_probe") == F.col("trunc_probe")).cast("int").alias(
            "agree"
        ),
    )


@query(
    "ann_sq8_recall",
    """
    WITH v AS (
      SELECT vec_id,
             list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
      FROM embeddings
    ),
    mm AS (
      SELECT pos, MIN(x) AS mn, MAX(x) AS mx
      FROM (SELECT unnest(e) AS x, generate_subscripts(e, 1) AS pos FROM v)
      GROUP BY 1
    ),
    mml AS (SELECT list(mn ORDER BY pos) AS mn, list(mx ORDER BY pos) AS mx
            FROM mm),
    codes AS (
      SELECT v.vec_id,
             list_transform(generate_series(1, 64),
               i -> CASE WHEN m.mx[i] = m.mn[i] THEN 0
                    ELSE least(255, greatest(0, CAST(floor(
                      ((v.e[i] - m.mn[i]) * 256.0) / (m.mx[i] - m.mn[i])
                    ) AS BIGINT))) END) AS code
      FROM v CROSS JOIN mml m
    ),
    recon AS (
      SELECT c.vec_id,
             list_transform(generate_series(1, 64),
               i -> CASE WHEN m.mx[i] = m.mn[i] THEN m.mn[i]
                    ELSE m.mn[i] + (((CAST(c.code[i] AS DOUBLE) + 0.5)
                         * (m.mx[i] - m.mn[i])) / 256.0) END) AS r
      FROM codes c CROSS JOIN mml m
    ),
    probes AS (SELECT vec_id AS pid, e FROM v WHERE vec_id % 100 = 0),
    dq AS (
      SELECT rc.vec_id, pr.pid,
             ROUND(list_reduce(list_transform(generate_series(1, 64),
               i -> (pr.e[i] - rc.r[i]) * (pr.e[i] - rc.r[i])),
               (a, b) -> a + b), 6) AS adc
      FROM recon rc CROSS JOIN probes pr
    ),
    bq AS (
      SELECT vec_id, pid,
             ROW_NUMBER() OVER (PARTITION BY vec_id
                                ORDER BY adc ASC, pid ASC) AS rn
      FROM dq
    ),
    sq8 AS (SELECT vec_id, pid AS sq8_probe FROM bq WHERE rn = 1),
    de AS (
      SELECT a.vec_id, pr.pid,
             ROUND(list_reduce(list_transform(generate_series(1, 64),
               i -> (pr.e[i] - a.e[i]) * (pr.e[i] - a.e[i])),
               (a2, b2) -> a2 + b2), 6) AS dist
      FROM v a CROSS JOIN probes pr
    ),
    be AS (
      SELECT vec_id, pid,
             ROW_NUMBER() OVER (PARTITION BY vec_id
                                ORDER BY dist ASC, pid ASC) AS rn
      FROM de
    ),
    ex AS (SELECT vec_id, pid AS exact_probe FROM be WHERE rn = 1)
    SELECT s.vec_id, sq8_probe, exact_probe,
           CAST(sq8_probe = exact_probe AS INT) AS agree
    FROM sq8 s JOIN ex ON ex.vec_id = s.vec_id
    """,
)
def ann_sq8_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """QUALITY audit for SQ8 serving — the number every quantized
    index ships next to its latency (the `ann_ivfpq_recall` pattern
    for the scalar quantizer): per corpus vector, the nearest probe
    from the SQ8 codes (`sq8_adc_top1`) vs the EXACT squared-L2
    nearest probe over the raw floats (`l2_exact_top1` — identical
    probe rule, fold order, 6-dp snap, and tie rule, so disagreement
    isolates quantization error). With truncation
    (`ann_truncation_agree`) and IVF-PQ routing audits this closes
    the audit matrix: every ANN shortcut in the repo has a gated
    agreement query. Both arms are zero-corpus-shuffle narrow
    passes."""
    from .operators.similarity import l2_exact_top1, sq8_adc_top1

    emb = load_table(spark, sf_dir, "embeddings")
    sq8 = sq8_adc_top1(emb, d=64, probe_mod=100).select(
        "vec_id", F.col("nearest_probe").alias("sq8_probe")
    )
    exact = l2_exact_top1(emb, d=64, probe_mod=100).select(
        "vec_id", F.col("nearest_probe").alias("exact_probe")
    )
    return sq8.join(exact, "vec_id").select(
        "vec_id",
        "sq8_probe",
        "exact_probe",
        (F.col("sq8_probe") == F.col("exact_probe")).cast("int").alias(
            "agree"
        ),
    )


@query("text_heavy_hitters", None)  # oracle registered below
def text_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT corpus-level frequent tokens — top 20 by count (count
    desc, token asc): the oracle arm of the frequent-items pair
    (`sketch.heavy_hitters_mg` is the mergeable Misra-Gries scale
    path whose n/(k+1) guarantee the tests measure against THIS).
    One map-side-combined token count + TakeOrderedAndProject —
    the shuffle moves one row per distinct token, the sort never
    materializes beyond the top-N heap."""
    from .operators.dedup import norm_sql_spark

    docs = load_table(spark, sf_dir, "documents")
    words = f"filter(split({norm_sql_spark('text')}, ' '), w -> w <> '')"
    return (
        docs.select(F.explode(F.expr(words)).alias("tok"))
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .orderBy(F.col("cnt").desc(), F.col("tok").asc())
        .limit(20)
    )


def _register_heavy_hitters_oracle() -> None:
    from .operators.dedup import NORM_SQL_DUCK

    ORACLE["text_heavy_hitters"] = f"""
        WITH toks AS (
          SELECT unnest(list_filter(string_split({NORM_SQL_DUCK}, ' '),
                                    x -> x <> '')) AS tok
          FROM documents)
        SELECT tok, COUNT(*) AS cnt FROM toks GROUP BY tok
        ORDER BY cnt DESC, tok ASC LIMIT 20
    """


_register_heavy_hitters_oracle()


@query(
    "sample_domain_cap",
    """
    WITH ranked AS (
      SELECT doc_id, source,
             ROW_NUMBER() OVER (
               PARTITION BY source
               ORDER BY md5('cap1' || doc_id::VARCHAR) ASC, doc_id ASC
             ) AS rn
      FROM documents
    )
    SELECT doc_id, source FROM ranked WHERE rn <= 10
    """,
)
def sample_domain_cap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-domain document CAP (the Gopher/CCNet crawl rule: no
    source may contribute more than N docs): keep the N
    deterministically-chosen docs per source, selection by salted md5
    rank so the kept set is a stable uniform sample, not a
    first-N-by-id crawl-order artifact. Declaring it as
    row_number + filter lets Catalyst insert **WindowGroupLimit
    BELOW the exchange**: every map task pre-trims to its local
    top-10 per source, so the shuffle moves ≤ N·sources·partitions
    rows regardless of corpus size — measured 9.5 KB at BOTH 1× and
    10× (the imperative cap a hand-rolled reducer would write ships
    the whole corpus to the shuffle first). At crawl scale the domain
    key is high-cardinality so the reduce side parallelizes; for the
    few-hot-domains regime the rate-based `sample_domain_mix` (no
    per-key total order) is the alternative. Salt/order replayed
    verbatim in the twin."""
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents")
    w = Window.partitionBy("source").orderBy(
        F.md5(F.concat(F.lit("cap1"), F.col("doc_id").cast("string"))).asc(),
        F.col("doc_id").asc(),
    )
    return (
        docs.select("doc_id", "source")
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 10)
        .select("doc_id", "source")
    )


@query(
    "dedup_embedding_cosine",
    """
    WITH n AS (
      SELECT vec_id,
             list_transform(embedding, x -> x::DOUBLE /
               sqrt(list_sum(list_transform(embedding, y -> y::DOUBLE * y::DOUBLE))))
               AS e
      FROM embeddings
    )
    SELECT a.vec_id AS id_a, b.vec_id AS id_b
    FROM n a JOIN n b ON a.vec_id < b.vec_id
    WHERE list_dot_product(a.e, b.e) >= 0.4
    """,
)
def dedup_embedding_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-duplicate pairs (cos ≥ 0.4): exact
    broadcast-matmul path here (id-only output keeps the oracle hash
    float-jitter-proof); ``method="lsh"`` is the 100 TB candidate+
    verify scale path, recall-tested against this one."""
    from .operators.similarity import cosine_near_dup_pairs

    emb = load_table(spark, sf_dir, "embeddings")
    pairs = cosine_near_dup_pairs(emb, threshold=0.4, method="exact")
    return pairs.select("id_a", "id_b")


# Shared twin of the deterministic seed-centroid assignment
# (similarity.seed_centroids + ivf_assign nprobe=1): cell j = the
# normalized position-wise mean of normalized vectors with id%16==j,
# components rounded to 12 dp pre-normalization on both engines; each
# vector lands in its argmax-cosine cell (s DESC, cell ASC tiebreak) —
# the same CTE chain ann_ivf_fixed's oracle proved exact in r3.
_SEED_ASSIGN_CTE = """
    WITH n AS (
      SELECT vec_id,
             list_transform(embedding, x -> x::DOUBLE /
               sqrt(list_sum(list_transform(embedding, y -> y::DOUBLE * y::DOUBLE))))
               AS e,
             CAST(vec_id % 16 AS INT) AS seed_cell
      FROM embeddings
    ),
    comp AS (
      SELECT seed_cell AS cell, pos, ROUND(AVG(x), 12) AS cx
      FROM (SELECT seed_cell, unnest(e) AS x,
                   generate_subscripts(e, 1) AS pos FROM n)
      GROUP BY 1, 2
    ),
    cent AS (SELECT cell, list(cx ORDER BY pos) AS c FROM comp GROUP BY 1),
    centn AS (
      SELECT cell,
             list_transform(c, x -> x / sqrt(list_sum(
               list_transform(c, y -> y * y)))) AS c
      FROM cent
    ),
    sims AS (
      SELECT n.vec_id, cn.cell, list_dot_product(n.e, cn.c) AS s
      FROM n CROSS JOIN centn cn
    ),
    ranked AS (
      SELECT vec_id, cell, s,
             ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY s DESC, cell ASC)
               AS rn
      FROM sims
    ),
    assigned AS (SELECT vec_id, cell, s FROM ranked WHERE rn = 1)
"""


@query(
    "dedup_semantic",
    _SEED_ASSIGN_CTE
    + """,
    mem AS (SELECT a.vec_id, a.cell, n.e
            FROM assigned a JOIN n ON n.vec_id = a.vec_id),
    dropped AS (
      SELECT DISTINCT b.vec_id
      FROM mem a JOIN mem b
        ON a.cell = b.cell AND a.vec_id < b.vec_id
       AND ROUND(list_dot_product(a.e, b.e), 6) >= 0.4
    )
    SELECT m.vec_id, m.cell,
           CAST(CASE WHEN d.vec_id IS NULL THEN 0 ELSE 1 END AS INT) AS is_dup
    FROM mem m LEFT JOIN dropped d ON d.vec_id = m.vec_id
    """,
)
def dedup_semantic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup-style semantic dedup (`similarity.semantic_dedup`):
    k-means-cell assignment (deterministic seed centroids so the
    whole pipeline sits in the hash gate) then an id-greedy cosine
    ≥ 0.4 drop WITHIN each cell — cluster-gating replaces the O(N²)
    corpus pair scan with bounded per-cell blocked matmuls, the shape
    that survives 100 TB. Cross-cell recall vs the exact pair scan is
    measured in tests (SemDeDup's documented approximation)."""
    from .operators.similarity import semantic_dedup

    emb = load_table(spark, sf_dir, "embeddings")
    out = semantic_dedup(emb, eps=0.4, nlist=16)
    return out.select(
        "vec_id", "cell", F.col("is_dup").cast("int").alias("is_dup")
    )


@query(
    "ann_cluster_profile",
    _SEED_ASSIGN_CTE
    + """
    SELECT cell, COUNT(*) AS n_members, ROUND(AVG(s), 6) AS avg_cos
    FROM assigned GROUP BY cell
    """,
)
def ann_cluster_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus diversity map (`similarity.cluster_profile`): per-cell
    member count + mean member→centroid cosine — the dashboard run
    before choosing SemDeDup thresholds. One narrow broadcast matmul
    + one combinable groupBy(cell); 100 TB reduces map-side."""
    from .operators.similarity import cluster_profile

    emb = load_table(spark, sf_dir, "embeddings")
    return cluster_profile(emb, nlist=16)


@query(
    "text_token_count",
    f"""
    SELECT doc_id, len(string_split(trim(regexp_replace(regexp_replace(
             lower(text), '[^a-z0-9 ]', ' ', 'g'), ' +', ' ', 'g')), ' '))
             AS n_tokens
    FROM documents
    """,
)
def text_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Whitespace token count on normalized text (codegen'd)."""
    from .operators.text import token_count

    d = load_table(spark, sf_dir, "documents")
    return d.select("doc_id", token_count().alias("n_tokens"))


@query("text_lang_id", None)
def text_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Marker-stopword language-ID heuristic + CJK detection."""
    from .operators.text import lang_id_expr

    d = load_table(spark, sf_dir, "documents")
    return d.select("doc_id", lang_id_expr().alias("lang_guess"))


def _register_lang_oracle() -> None:
    from .operators.text import duck_lang_id_sql

    ORACLE["text_lang_id"] = (
        f"SELECT doc_id, {duck_lang_id_sql()} AS lang_guess FROM documents"
    )


_register_lang_oracle()


@query("text_quality_score", None)
def text_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composite quality score (length/punctuation/word-length)."""
    from .operators.text import quality_score

    d = load_table(spark, sf_dir, "documents")
    return d.select("doc_id", quality_score().alias("quality"))


def _register_quality_oracle() -> None:
    from .operators.text import QUALITY_SQL_DUCK

    ORACLE["text_quality_score"] = (
        f"SELECT doc_id, {QUALITY_SQL_DUCK} AS quality FROM documents"
    )


_register_quality_oracle()


@query("text_fingerprint", None)
def text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Min-shingle-hash document fingerprint (5-gram), staged
    pipeline (normalize/split once per row)."""
    from .operators.dedup import with_shingle_hashes

    d = load_table(spark, sf_dir, "documents")
    return with_shingle_hashes(d, n=5).select(
        "doc_id", F.expr("array_min(__sh)").alias("fingerprint")
    )


def _register_fingerprint_oracle() -> None:
    from .operators.dedup import duck_shingle_hashes

    ORACLE["text_fingerprint"] = (
        f"SELECT doc_id, list_min({duck_shingle_hashes(5)}) AS fingerprint FROM documents"
    )


_register_fingerprint_oracle()


@query("text_pii_redaction", None)  # oracle registered below
def text_pii_redaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrubbing (`operators/text.redact_pii`): the corpus text
    carries no PII, so the query plants deterministic email / IPv4 /
    phone spans derived from (doc_id, source) and then redacts — the
    md5 of the redacted text and the per-row hit count flow through
    the hash gate, and the oracle replays the plant + the same
    pattern chain in RE2. Patterns are restricted to the
    Java-regex ∩ RE2 common syntax so both engines redact
    identically."""
    from .operators.text import pii_counts, redact_pii

    docs = load_table(spark, sf_dir, "documents")
    aug = docs.select(
        "doc_id",
        F.concat(
            F.substring("text", 1, 40),
            F.lit(" contact "),
            F.col("source"),
            F.col("doc_id").cast("string"),
            F.lit("@example.com host 10.0."),
            (F.col("doc_id") % 256).cast("string"),
            F.lit(".7 call +1 555-"),
            (F.lit(1000) + F.col("doc_id") % 9000).cast("string"),
        ).alias("text"),
    ).withColumn("n_pii", pii_counts("text").cast("long"))
    red = redact_pii(aug, "text")
    return red.select(
        "doc_id", F.md5("text").alias("redacted_md5"), "n_pii"
    )


def _register_pii_oracle() -> None:
    from .operators.text import PII_PATTERNS

    # counts mirror pii_counts: each pattern counted on the text AFTER
    # the previous patterns' redaction, so a span is counted once
    terms = []
    red = "text"
    for _, pat, repl in PII_PATTERNS:
        terms.append(f"len(regexp_extract_all({red}, '{pat}'))")
        red = f"regexp_replace({red}, '{pat}', '{repl}', 'g')"
    counts = " + ".join(terms)
    ORACLE["text_pii_redaction"] = f"""
        WITH aug AS (
          SELECT doc_id,
                 substr(text, 1, 40) || ' contact ' || source ||
                 CAST(doc_id AS VARCHAR) || '@example.com host 10.0.' ||
                 CAST(doc_id % 256 AS VARCHAR) || '.7 call +1 555-' ||
                 CAST(1000 + doc_id % 9000 AS VARCHAR) AS text
          FROM documents)
        SELECT doc_id, md5({red}) AS redacted_md5,
               CAST({counts} AS BIGINT) AS n_pii
        FROM aug
    """


_register_pii_oracle()


@query("text_pii_by_lang", None)  # oracle registered below
def text_pii_by_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language PII exposure report (r7): the compliance
    dashboard a corpus owner actually reads — documents, PII-bearing
    documents, and total spans per detected language. Composes two
    oracled narrow expressions (`text.lang_id_expr`,
    `text.pii_counts` — chained-redaction counting, spans counted
    once) over the same deterministic PII plant as
    `text_pii_redaction`, then ONE combinable groupBy(lang). Exact
    integer outputs."""
    from .operators.text import lang_id_expr, pii_counts

    docs = load_table(spark, sf_dir, "documents")
    aug = docs.select(
        "doc_id",
        F.concat(
            F.substring("text", 1, 40),
            F.lit(" contact "),
            F.col("source"),
            F.col("doc_id").cast("string"),
            F.lit("@example.com host 10.0."),
            (F.col("doc_id") % 256).cast("string"),
            F.lit(".7 call +1 555-"),
            (F.lit(1000) + F.col("doc_id") % 9000).cast("string"),
        ).alias("text"),
    )
    per = aug.select(
        lang_id_expr().alias("lang_guess"),
        pii_counts("text").cast("long").alias("n_pii"),
    )
    return per.groupBy("lang_guess").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum((F.col("n_pii") > 0).cast("long")).alias("docs_with_pii"),
        F.sum("n_pii").alias("pii_spans"),
    )


def _register_pii_by_lang_oracle() -> None:
    from .operators.text import PII_PATTERNS, duck_lang_id_sql

    terms = []
    red = "text"
    for _, pat, repl in PII_PATTERNS:
        terms.append(f"len(regexp_extract_all({red}, '{pat}'))")
        red = f"regexp_replace({red}, '{pat}', '{repl}', 'g')"
    counts = " + ".join(terms)
    ORACLE["text_pii_by_lang"] = f"""
        WITH aug AS (
          SELECT doc_id,
                 substr(text, 1, 40) || ' contact ' || source ||
                 CAST(doc_id AS VARCHAR) || '@example.com host 10.0.' ||
                 CAST(doc_id % 256 AS VARCHAR) || '.7 call +1 555-' ||
                 CAST(1000 + doc_id % 9000 AS VARCHAR) AS text
          FROM documents),
        per AS (
          SELECT {duck_lang_id_sql()} AS lang_guess,
                 CAST({counts} AS BIGINT) AS n_pii
          FROM aug)
        SELECT lang_guess, COUNT(*) AS n_docs,
               CAST(SUM(CASE WHEN n_pii > 0 THEN 1 ELSE 0 END) AS BIGINT)
                 AS docs_with_pii,
               CAST(SUM(n_pii) AS BIGINT) AS pii_spans
        FROM per GROUP BY 1
    """


_register_pii_by_lang_oracle()


# --------------------------------------------------------------------------
# ML / statistical operators through the driver contract. Since round
# 3 EVERY query here is hash-gated — exact KKT support enumeration,
# fixed-schedule replays, unrolled recursions, or pinned independent
# twins (no rows-only checks remain); pytest keeps the numerical
# oracles as a second line.
# --------------------------------------------------------------------------


_QUARTERLY_PAIR_CTE = """
    WITH o AS (
      SELECT CAST(date_trunc('quarter', o_orderdate) AS DATE) AS obs_date,
             SUM(o_totalprice)/1e6 AS revenue
      FROM orders GROUP BY 1
    ),
    li AS (
      SELECT CAST(date_trunc('quarter', l_shipdate) AS DATE) AS obs_date,
             SUM(l_quantity)/1e5 AS quantity
      FROM lineitem GROUP BY 1
    ),
    pair AS (
      SELECT o.obs_date, revenue, quantity FROM o JOIN li USING (obs_date)
    )
"""


def _quarterly_pair(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-series quarterly wide frame from orders/lineitem
    (memoized + persisted per session/sf — see ``_shared_frame``)."""

    def build() -> DataFrame:
        o = (
            load_table(spark, sf_dir, "orders")
            .groupBy(
                F.date_trunc("quarter", "o_orderdate").cast("date").alias("obs_date")
            )
            .agg((F.sum("o_totalprice") / 1e6).alias("revenue"))
        )
        li = (
            load_table(spark, sf_dir, "lineitem")
            .groupBy(
                F.date_trunc("quarter", "l_shipdate").cast("date").alias("obs_date")
            )
            .agg((F.sum("l_quantity") / 1e5).alias("quantity"))
        )
        return o.join(li, "obs_date", "inner").orderBy("obs_date")

    return _shared_frame(spark, sf_dir, "quarterly_pair", build)


@query("ml_enet_var_coefs", None)
def ml_enet_var_coefs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M1-M4: elastic-net VAR(2) fit on the quarterly revenue/quantity
    pair (fixed λ path, Gram-matrix distributed pass); coefficient
    matrix as (z_name, equation, coef) rows. Hash-gated END TO END
    (oracle generated by ``_enet_oracle_sql`` below): the DuckDB twin
    replays lag-embed → moments → glmnet standardization → the CD
    soft-threshold iteration itself as a recursive CTE. KKT/ridge/
    simulation oracles additionally pin the solver in pytest."""
    from .ml.var_model import fit_enet_var

    wide = _quarterly_pair(spark, sf_dir)
    m = fit_enet_var(
        wide, ["revenue", "quantity"], p=2, alpha=0.5, lam=0.01, intercept=True
    )
    B = m.coef_matrix()
    rows = [
        (rn, eq, round(float(B[i, j]), 6))
        for i, rn in enumerate(m.row_names)
        for j, eq in enumerate(m.series)
    ]
    return spark.createDataFrame(
        rows, "z_name string, equation string, coef double"
    ).orderBy("equation", "z_name")


@query("ml_ridge_var_coefs", None)  # oracle generated below
def ml_ridge_var_coefs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M1/M2 at α=0: ridge VAR(2) on the quarterly pair through the
    SAME distributed Gram pass + CD solver as the elastic-net path —
    but ridge has a closed form, so the full chain (lag embed →
    moments → glmnet standardization → solve → un-standardize) is
    replayed in the DuckDB oracle via generated Cramer's-rule SQL.
    This puts the estimation core itself inside the driver's hash
    gate; the α>0 soft-thresholding semantics stay pinned in pytest
    (KKT/orthonormal oracles)."""
    from .ml.var_model import fit_enet_var

    wide = _quarterly_pair(spark, sf_dir)
    m = fit_enet_var(
        wide, ["revenue", "quantity"], p=2, alpha=0.0, lam=0.05, intercept=True
    )
    B = m.coef_matrix()
    rows = [
        (rn, eq, round(float(B[i, j]), 6))
        for i, rn in enumerate(m.row_names)
        for j, eq in enumerate(m.series)
    ]
    return spark.createDataFrame(
        rows, "z_name string, equation string, coef double"
    ).orderBy("equation", "z_name")


def _det_sql(m: list[list[str]]) -> str:
    """Cofactor-expansion determinant of a matrix of SQL scalar
    expressions — lets the DuckDB oracle solve small dense linear
    systems (ridge normal equations) in closed form."""
    if len(m) == 1:
        return m[0][0]
    terms = []
    for j, head in enumerate(m[0]):
        minor = [row[:j] + row[j + 1 :] for row in m[1:]]
        sgn = "" if j % 2 == 0 else "-"
        terms.append(f"{sgn}({head})*({_det_sql(minor)})")
    return " + ".join(terms)


def _ridge_oracle_sql(lam: float, dp: int) -> str:
    xs = ["rl1", "ql1", "rl2", "ql2"]
    zn = ["revenue.l1", "quantity.l1", "revenue.l2", "quantity.l2"]

    def ckey(a: str, b: str) -> str:
        ia, ib = xs.index(a), xs.index(b)
        return f"c_{xs[min(ia, ib)]}_{xs[max(ia, ib)]}"

    sums = ", ".join(f"SUM({a}) AS s_{a}" for a in xs)
    cross = ", ".join(
        f"SUM({a}*{b}) AS c_{a}_{b}" for i, a in enumerate(xs) for b in xs[i:]
    )
    xy = ", ".join(
        f"SUM({a}*y_{e}) AS cy_{a}_{e}" for a in xs for e in ("r", "q")
    )
    std_cols = (
        ", ".join(f"s_{a}/n AS mx_{a}" for a in xs)
        + ", "
        + ", ".join(
            f"sqrt(c_{a}_{a}/n - (s_{a}/n)*(s_{a}/n)) AS sc_{a}" for a in xs
        )
        + ", s_y_r/n AS my_r, s_y_q/n AS my_q"
    )
    solved_cols = (
        ", ".join(
            f"({ckey(a, b)}/n - mx_{a}*mx_{b})/(sc_{a}*sc_{b})"
            + (f" + {lam}" if i == j else "")
            + f" AS m_{i}_{j}"
            for i, a in enumerate(xs)
            for j, b in enumerate(xs)
            if i <= j
        )
        + ", "
        + ", ".join(
            f"(cy_{a}_{e}/n - mx_{a}*my_{e})/sc_{a} AS r_{a}_{e}"
            for a in xs
            for e in ("r", "q")
        )
    )

    def mref(i: int, j: int) -> str:
        return f"m_{min(i, j)}_{max(i, j)}"

    M = [[mref(i, j) for j in range(4)] for i in range(4)]
    det_m = _det_sql(M)
    rows_sql = []
    for e, eq in (("r", "revenue"), ("q", "quantity")):
        rhs = [f"r_{a}_{e}" for a in xs]
        bex = []
        for j in range(4):
            Mj = [
                [(rhs[i] if jj == j else M[i][jj]) for jj in range(4)]
                for i in range(4)
            ]
            bex.append(f"(({_det_sql(Mj)})/({det_m}))/sc_{xs[j]}")
        a0 = (
            f"my_{e} - ("
            + " + ".join(f"({bex[j]})*mx_{xs[j]}" for j in range(4))
            + ")"
        )
        rows_sql.append(
            f"SELECT 'intercept' AS z_name, '{eq}' AS equation,"
            f" ROUND({a0},{dp}) AS coef FROM solved"
        )
        for j in range(4):
            rows_sql.append(
                f"SELECT '{zn[j]}', '{eq}', ROUND({bex[j]},{dp}) FROM solved"
            )

    return f"""
        WITH q AS ({_QPAIR_SQL}),
        lagged AS (
          SELECT revenue AS y_r, quantity AS y_q,
                 LAG(revenue,1) OVER w AS rl1, LAG(quantity,1) OVER w AS ql1,
                 LAG(revenue,2) OVER w AS rl2, LAG(quantity,2) OVER w AS ql2
          FROM q WINDOW w AS (ORDER BY obs_date)
          QUALIFY rl2 IS NOT NULL AND ql2 IS NOT NULL),
        mom AS (SELECT COUNT(*) AS n, {sums}, SUM(y_r) AS s_y_r,
                       SUM(y_q) AS s_y_q, {cross}, {xy} FROM lagged),
        std AS (SELECT *, {std_cols} FROM mom),
        solved AS (SELECT *, {solved_cols} FROM std)
        {" UNION ALL ".join(rows_sql)}
        ORDER BY equation, z_name
    """


_QPAIR_SQL = """
      SELECT o.obs_date, o.revenue, l.quantity
      FROM (SELECT CAST(date_trunc('quarter', o_orderdate) AS DATE) AS obs_date,
                   SUM(o_totalprice)/1e6 AS revenue
            FROM orders GROUP BY 1) o
      JOIN (SELECT CAST(date_trunc('quarter', l_shipdate) AS DATE) AS obs_date,
                   SUM(l_quantity)/1e5 AS quantity
            FROM lineitem GROUP BY 1) l USING (obs_date)
"""

ORACLE["ml_ridge_var_coefs"] = _ridge_oracle_sql(0.05, 6)
ORACLE["ml_group_ridge_coefs"] = _ridge_oracle_sql(0.05, 4)


def _enet_oracle_sql(alpha: float, lam: float, dp: int) -> str:
    """Full SQL replay of the α>0 elastic-net fit (VERDICT r2
    next-round item 1): the same lag-embed → moment → glmnet
    standardization chain as ``_ridge_oracle_sql``, then the solver
    itself via EXACT KKT support enumeration — no iteration, so no
    convergence gap vs the engine (a recursive-CTE CD replay was
    measured thousands of sweeps from 6-dp agreement on this
    collinear lag design).

    At α∈(0,1) the objective is strictly convex (ridge term
    λ(1−α) > 0) with a unique minimizer b*, characterized by KKT:
    for active j,  C_Aj·b + λ(1−α)b_j = r_j − λα·sign(b_j); for
    inactive j, |r_j − C_j·b| ≤ λα. The oracle enumerates all 3^4
    sign patterns s ∈ {−1,0,+1}^4, solves each masked ridge system
    by Cramer's rule (inactive rows replaced by identity, forcing
    b_j = 0), and selects the unique pattern passing both KKT
    checks. Reference: enetVAR.R:10-37 (.enetVAR → glmnet CD);
    engine solver: ml/elastic_net.py:coordinate_descent."""
    xs = ["rl1", "ql1", "rl2", "ql2"]
    zn = ["revenue.l1", "quantity.l1", "revenue.l2", "quantity.l2"]
    k = len(xs)

    def ckey(a: str, b: str) -> str:
        ia, ib = xs.index(a), xs.index(b)
        return f"c_{xs[min(ia, ib)]}_{xs[max(ia, ib)]}"

    sums = ", ".join(f"SUM({a}) AS s_{a}" for a in xs)
    cross = ", ".join(
        f"SUM({a}*{b}) AS c_{a}_{b}" for i, a in enumerate(xs) for b in xs[i:]
    )
    xy = ", ".join(
        f"SUM({a}*y_{e}) AS cy_{a}_{e}" for a in xs for e in ("r", "q")
    )
    std_cols = (
        ", ".join(f"s_{a}/n AS mx_{a}" for a in xs)
        + ", "
        + ", ".join(
            f"sqrt(c_{a}_{a}/n - (s_{a}/n)*(s_{a}/n)) AS sc_{a}" for a in xs
        )
        + ", s_y_r/n AS my_r, s_y_q/n AS my_q"
    )
    # standardized Gram (correlation form; diagonal = 1) and X'y/n
    gram_cols = (
        ", ".join(
            f"({ckey(a, b)}/n - mx_{a}*mx_{b})/(sc_{a}*sc_{b}) AS g_{i}_{j}"
            for i, a in enumerate(xs)
            for j, b in enumerate(xs)
            if i < j
        )
        + ", "
        + ", ".join(
            f"(cy_{a}_{e}/n - mx_{a}*my_{e})/sc_{a} AS r_{a}_{e}"
            for a in xs
            for e in ("r", "q")
        )
    )
    gam = repr(lam * alpha)
    ridge = repr(lam * (1.0 - alpha))

    # masked system entries, staged as named columns per pattern row:
    # m_i_j (i<j) = C_ij if both active else 0;
    # m_i_i       = 1 + ridge if active else 1   (C_ii = 1 standardized)
    mask_cols = ", ".join(
        f"CASE WHEN s{i + 1} <> 0 AND s{j + 1} <> 0 THEN g_{i}_{j} "
        f"ELSE 0.0 END AS m_{i}_{j}"
        for i in range(k)
        for j in range(k)
        if i < j
    ) + ", " + ", ".join(
        f"CASE WHEN s{i + 1} <> 0 THEN 1.0 + {ridge} ELSE 1.0 END AS m_{i}_{i}"
        for i in range(k)
    ) + ", " + ", ".join(
        f"CASE WHEN s{i + 1} <> 0 THEN r_{xs[i]}_{e} - {gam}*s{i + 1} "
        f"ELSE 0.0 END AS rh_{i}_{e}"
        for i in range(k)
        for e in ("r", "q")
    )

    def mref(i: int, j: int) -> str:
        return f"m_{min(i, j)}_{max(i, j)}"

    M = [[mref(i, j) for j in range(k)] for i in range(k)]
    det_m = _det_sql(M)
    # standardized solutions for both equations, Cramer's rule
    sol_cols = [f"({det_m}) AS det_m"]
    for e in ("r", "q"):
        for j in range(k):
            Mj = [
                [(f"rh_{i}_{e}" if jj == j else M[i][jj]) for jj in range(k)]
                for i in range(k)
            ]
            sol_cols.append(f"({_det_sql(Mj)}) AS num_{j}_{e}")
    # KKT checks per equation: active sign consistency + inactive
    # subgradient bound on the UNMASKED gradient (C_ii = 1)
    kkt = {}
    for e in ("r", "q"):
        bstd = [f"(num_{j}_{e}/det_m)" for j in range(k)]
        checks = []
        for i in range(k):
            grad = f"r_{xs[i]}_{e}"
            for j in range(k):
                cij = f"1.0*{bstd[i]}" if j == i else f"{mref(i, j).replace('m_', 'g_', 1)}*{bstd[j]}"
                grad += f" - {cij}"
            checks.append(
                f"CASE WHEN s{i + 1} <> 0 "
                f"THEN {bstd[i]}*s{i + 1} > 0 "
                f"ELSE abs({grad}) <= {gam} + 1e-12 END"
            )
        kkt[e] = " AND ".join(checks)

    rows_sql = []
    for e, eq in (("r", "revenue"), ("q", "quantity")):
        borig = [f"(d.num_{j}_{e}/d.det_m/d.sc_{xs[j]})" for j in range(k)]
        a0 = (
            f"d.my_{e} - ("
            + " + ".join(f"{borig[j]}*d.mx_{xs[j]}" for j in range(k))
            + ")"
        )
        rows_sql.append(
            f"SELECT 'intercept' AS z_name, '{eq}' AS equation,"
            f" ROUND({a0},{dp}) AS coef FROM pick_{e} d"
        )
        for j in range(k):
            rows_sql.append(
                f"SELECT '{zn[j]}', '{eq}', ROUND({borig[j]},{dp})"
                f" FROM pick_{e} d"
            )

    signs = "(VALUES (-1),(0),(1))"
    nact = " + ".join(f"abs(s{i + 1})" for i in range(k))
    return f"""
        WITH q AS ({_QPAIR_SQL}),
        lagged AS (
          SELECT revenue AS y_r, quantity AS y_q,
                 LAG(revenue,1) OVER w AS rl1, LAG(quantity,1) OVER w AS ql1,
                 LAG(revenue,2) OVER w AS rl2, LAG(quantity,2) OVER w AS ql2
          FROM q WINDOW w AS (ORDER BY obs_date)
          QUALIFY rl2 IS NOT NULL AND ql2 IS NOT NULL),
        mom AS (SELECT COUNT(*) AS n, {sums}, SUM(y_r) AS s_y_r,
                       SUM(y_q) AS s_y_q, {cross}, {xy} FROM lagged),
        std AS (SELECT *, {std_cols} FROM mom),
        gram AS MATERIALIZED (SELECT *, {gram_cols} FROM std),
        patterns AS (
          SELECT p1.col0 AS s1, p2.col0 AS s2, p3.col0 AS s3, p4.col0 AS s4
          FROM {signs} p1, {signs} p2, {signs} p3, {signs} p4),
        masked AS (SELECT * , {mask_cols} FROM patterns, gram),
        cand AS (SELECT *, {", ".join(sol_cols)} FROM masked),
        pick_r AS MATERIALIZED (SELECT * FROM cand WHERE {kkt["r"]}
                   ORDER BY {nact}, s1, s2, s3, s4 LIMIT 1),
        pick_q AS MATERIALIZED (SELECT * FROM cand WHERE {kkt["q"]}
                   ORDER BY {nact}, s1, s2, s3, s4 LIMIT 1)
        {" UNION ALL ".join(rows_sql)}
        ORDER BY equation, z_name
    """


ORACLE["ml_enet_var_coefs"] = _enet_oracle_sql(0.5, 0.01, 6)


def _group_enet_oracle_sql(
    alpha: float, lam: float, dp: int, sweeps: int
) -> str:
    """Step-for-step SQL replay of ``block_cd_fixed`` (the mgaussian
    α>0 solver, VERDICT r2 item 1): lag-embed → moments → glmnet
    standardization WITH response scaling, then exactly
    ``sweeps``×4 sequential row updates as a DuckDB recursive CTE —
    each recursion step updates row j = it mod 4 for BOTH responses
    with the group soft-threshold
    ``B_j ← r_j·(1 − λα/‖r_j‖)₊ / (1 + λ(1−α))``, identical to the
    engine's fixed schedule (group KKT is nonlinear in the direction
    B_j/‖B_j‖, so the support-enumeration trick used for the
    univariate twin does not apply). Reference: enetVAR.R:344-366."""
    xs = ["rl1", "ql1", "rl2", "ql2"]
    zn = ["revenue.l1", "quantity.l1", "revenue.l2", "quantity.l2"]
    k = len(xs)

    def ckey(a: str, b: str) -> str:
        ia, ib = xs.index(a), xs.index(b)
        return f"c_{xs[min(ia, ib)]}_{xs[max(ia, ib)]}"

    sums = ", ".join(f"SUM({a}) AS s_{a}" for a in xs)
    cross = ", ".join(
        f"SUM({a}*{b}) AS c_{a}_{b}" for i, a in enumerate(xs) for b in xs[i:]
    )
    xy = ", ".join(
        f"SUM({a}*y_{e}) AS cy_{a}_{e}" for a in xs for e in ("r", "q")
    )
    std_cols = (
        ", ".join(f"s_{a}/n AS mx_{a}" for a in xs)
        + ", "
        + ", ".join(
            f"sqrt(c_{a}_{a}/n - (s_{a}/n)*(s_{a}/n)) AS sc_{a}" for a in xs
        )
        + ", s_y_r/n AS my_r, s_y_q/n AS my_q"
        + ", ".join(
            [""]
            + [
                f"sqrt(c_y_{e}/n - (s_y_{e}/n)*(s_y_{e}/n)) AS scy_{e}"
                for e in ("r", "q")
            ]
        )
    )
    gram_cols = (
        ", ".join(
            f"({ckey(a, b)}/n - mx_{a}*mx_{b})/(sc_{a}*sc_{b}) AS g_{i}_{j}"
            for i, a in enumerate(xs)
            for j, b in enumerate(xs)
            if i < j
        )
        + ", "
        + ", ".join(
            f"(cy_{a}_{e}/n - mx_{a}*my_{e})/(sc_{a}*scy_{e}) AS r_{a}_{e}"
            for a in xs
            for e in ("r", "q")
        )
    )
    gam = repr(lam * alpha)
    den = f"(1.0 + {lam * (1.0 - alpha)!r})"

    def gref(i: int, j: int) -> str:
        return f"g.g_{min(i, j)}_{max(i, j)}"

    # one row update per recursion step: j = it % k, both responses
    upd_cols = []
    for j in range(k):
        rho = {}
        for e in ("r", "q"):
            ex = f"g.r_{xs[j]}_{e}"
            for i in range(k):
                if i != j:
                    ex += f" - {gref(i, j)}*cd.b{i + 1}{e}"
            rho[e] = f"({ex})"
        nr = f"sqrt({rho['r']}*{rho['r']} + {rho['q']}*{rho['q']})"
        fac = (
            f"(CASE WHEN {nr} > {gam} THEN (1.0 - {gam}/{nr})/{den} "
            f"ELSE 0.0 END)"
        )
        for e in ("r", "q"):
            upd_cols.append(
                f"CASE WHEN cd.it % {k} = {j} THEN {rho[e]}*{fac} "
                f"ELSE cd.b{j + 1}{e} END AS b{j + 1}{e}"
            )
    # CAST: a bare 0.0 literal is DECIMAL(1,1) in DuckDB and the
    # recursion coerces the whole CD state to it, truncating updates
    zeros = ", ".join(
        f"CAST(0 AS DOUBLE) AS b{j + 1}{e}"
        for j in range(k)
        for e in ("r", "q")
    )
    n_steps = sweeps * k

    rows_sql = []
    for e, eq in (("r", "revenue"), ("q", "quantity")):
        for j in range(k):
            borig = f"(d.b{j + 1}{e} * d.scy_{e} / d.sc_{xs[j]})"
            rows_sql.append(
                f"SELECT '{zn[j]}' AS z_name, '{eq}' AS equation,"
                f" ROUND({borig},{dp}) AS coef FROM done d"
            )

    return f"""
        WITH RECURSIVE q AS ({_QPAIR_SQL}),
        lagged AS (
          SELECT revenue AS y_r, quantity AS y_q,
                 LAG(revenue,1) OVER w AS rl1, LAG(quantity,1) OVER w AS ql1,
                 LAG(revenue,2) OVER w AS rl2, LAG(quantity,2) OVER w AS ql2
          FROM q WINDOW w AS (ORDER BY obs_date)
          QUALIFY rl2 IS NOT NULL AND ql2 IS NOT NULL),
        mom AS (SELECT COUNT(*) AS n, {sums}, SUM(y_r) AS s_y_r,
                       SUM(y_q) AS s_y_q, SUM(y_r*y_r) AS c_y_r,
                       SUM(y_q*y_q) AS c_y_q, {cross}, {xy} FROM lagged),
        std AS (SELECT *, {std_cols} FROM mom),
        gram AS MATERIALIZED (SELECT *, {gram_cols} FROM std),
        cd AS (
          SELECT 0 AS it, {zeros}
          UNION ALL
          SELECT cd.it + 1, {", ".join(upd_cols)}
          FROM cd, gram g WHERE cd.it < {n_steps}),
        done AS MATERIALIZED (SELECT cd.*, g.* FROM cd, gram g WHERE cd.it = {n_steps})
        {" UNION ALL ".join(rows_sql)}
        ORDER BY equation, z_name
    """


ORACLE["ml_group_enet_coefs"] = _group_enet_oracle_sql(0.5, 0.01, 6, 80)


@query(
    "ml_modeltrain_msfe",
    f"""
    WITH q AS ({_QPAIR_SQL}),
    s AS (SELECT ROW_NUMBER() OVER (ORDER BY obs_date) - 1 AS i, revenue AS v
          FROM q),
    par AS (SELECT COUNT(*) AS n, COUNT(*)//2 + 4 AS si FROM s),
    origins AS (SELECT i AS o FROM s, par WHERE i BETWEEN si - 4 AND n - 2),
    phi AS (
      SELECT o.o,
             (SELECT SUM(a.v * b.v) FROM s a JOIN s b ON b.i = a.i - 1
              WHERE a.i BETWEEN 1 AND o.o)
             / NULLIF((SELECT SUM(b.v * b.v) FROM s b WHERE b.i <= o.o - 1), 0)
             AS phi
      FROM origins o),
    fc AS (
      SELECT p.o, h.h, POWER(p.phi, h.h) * yo.v AS yhat, yt.v AS ytrue
      FROM phi p
      CROSS JOIN (VALUES (1), (2), (4)) h(h)
      JOIN s yo ON yo.i = p.o
      JOIN s yt ON yt.i = p.o + h.h),
    aligned AS (SELECT fc.* FROM fc, par WHERE o + h BETWEEN si AND n - 1),
    dn AS (SELECT SUM(POWER(a.v - b.v, 2)) AS denom
           FROM s a JOIN s b ON b.i = a.i - 1, par
           WHERE a.i BETWEEN si AND n - 1)
    SELECT h AS horizon,
           ROUND(SUM(POWER(yhat - ytrue, 2)) / COUNT(*), 6) AS msfe,
           ROUND(SQRT(SUM(POWER(yhat - ytrue, 2)) / (SELECT denom FROM dn)), 6)
             AS theils_u_rw
    FROM aligned GROUP BY 1 ORDER BY 1
    """,
)
def ml_modeltrain_msfe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E1: the rolling-origin OOS experiment on the quarterly revenue
    series (h=4, horizons {1,2,4}) — distributed per-origin expanding-
    window refits, recursive forecasts, h*.ind-equivalent alignment,
    MSFE and Theil's U vs the random walk. Uses the AR(1) estimator
    (M9, CSS no-const: φ = Σy_t·y_{t−1}/Σy_{t−1}², ŷ_{o+h} = φʰ·y_o)
    so the WHOLE harness is independently recomputable in ANSI SQL —
    the DuckDB twin replays origins, fits, recursion, alignment and
    both metrics exactly. Closed-form per-origin fits are prefix
    moments, so the WHOLE experiment runs as one relational DAG
    (``ar1_rolling_relational`` — cumulative windows, no Python
    boundary); equality with the generic ``modeltrain`` fan-out is
    asserted in tests/test_modeltrain.py. The elastic-net variant of
    the same harness is exercised by tools/golden_repro.py and
    pytest (numpy-replication oracles)."""
    from .harness.modeltrain import ar1_rolling_relational

    wide = _quarterly_pair(spark, sf_dir)
    dates = [r["obs_date"] for r in wide.select("obs_date").orderBy("obs_date").collect()]
    start = dates[len(dates) // 2 + 4]
    return ar1_rolling_relational(
        spark, wide, "revenue", start_pred=start, h=4, dates=dates,
    )


@query(
    "ml_theils_u_ar1",
    f"""
    WITH q AS ({_QPAIR_SQL}),
    s AS (SELECT ROW_NUMBER() OVER (ORDER BY obs_date) - 1 AS i, revenue AS v
          FROM q),
    par AS (SELECT COUNT(*) AS n, COUNT(*)//2 + 4 AS si FROM s),
    origins AS (SELECT i AS o FROM s, par WHERE i BETWEEN si - 4 AND n - 2),
    phi AS (
      SELECT o.o,
             COALESCE(
               (SELECT SUM(a.v * b.v) FROM s a JOIN s b ON b.i = a.i - 1
                WHERE a.i BETWEEN 1 AND o.o)
               / NULLIF(
                   (SELECT SUM(b.v * b.v) FROM s b WHERE b.i <= o.o - 1), 0),
               0.0)
             AS phi
      FROM origins o),
    fc AS (
      SELECT p.o, h.h, POWER(p.phi, h.h) * yo.v AS yhat, yo.v AS yrw,
             yt.v AS ytrue
      FROM phi p
      CROSS JOIN (VALUES (1), (2), (4)) h(h)
      JOIN s yo ON yo.i = p.o
      JOIN s yt ON yt.i = p.o + h.h),
    aligned AS (SELECT fc.* FROM fc, par WHERE o + h BETWEEN si AND n - 1)
    SELECT h AS horizon,
           ROUND(SQRT(SUM(POWER(yrw - ytrue, 2)) / COUNT(yhat - ytrue))
                 / SQRT(SUM(POWER(yhat - ytrue, 2)) / COUNT(yhat - ytrue)),
                 6) AS u_ar1,
           ROUND(SUM(POWER(yrw - ytrue, 2)) / COUNT(yhat - ytrue), 6)
             AS msfe_model,
           ROUND(SUM(POWER(yhat - ytrue, 2)) / COUNT(yhat - ytrue), 6)
             AS msfe_ar1
    FROM aligned GROUP BY 1 ORDER BY 1
    """,
)
def ml_theils_u_ar1(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M23: per-horizon Theil's U against the AR(1) benchmark
    (`harness.theils_u_ar1_relational`; reference enetVAR.R:847-855
    ``U = sqrt(mse_pred)/sqrt(ar1$msfe[h])``), scored over the SAME
    aligned rolling-origin grid as `ml_modeltrain_msfe` with the
    random-walk forecast as the scored model — so numerator AND
    denominator (the whole harness error table, both models) replay
    exactly in the twin. Closes the last §2 operator whose own output
    had no hash-gated query (r6 VERDICT item 4)."""
    from .harness.modeltrain import theils_u_ar1_relational

    wide = _quarterly_pair(spark, sf_dir)
    dates = [r["obs_date"] for r in wide.select("obs_date").orderBy("obs_date").collect()]
    start = dates[len(dates) // 2 + 4]
    return theils_u_ar1_relational(
        spark, wide, "revenue", start_pred=start, h=4, dates=dates,
    )


@query(
    "ml_ar1_coefs",
    """
    WITH m AS (
      SELECT event_type AS series_id,
             CAST(date_trunc('day', ts) AS DATE) AS obs_date,
             ROUND(SUM(value), 6) AS value
      FROM events GROUP BY 1, 2
    ), p AS (
      SELECT series_id, value AS y,
             LAG(value) OVER (PARTITION BY series_id ORDER BY obs_date) AS ylag
      FROM m
    )
    SELECT series_id,
           ROUND(REGR_SLOPE(y, ylag), 6) AS phi,
           ROUND(REGR_INTERCEPT(y, ylag), 6) AS intercept
    FROM p WHERE ylag IS NOT NULL
    GROUP BY 1
    """,
)
def ml_ar1_coefs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M9: the AR(1)-with-constant estimator per series (reference
    ``ar1_train`` inner fit, enetVAR.R:583-585; CSS = OLS of y_t on
    y_{t−1} + const), computed entirely JVM-side from covariance
    aggregates — slope = cov(y, y_lag)/var(y_lag), intercept =
    ȳ − slope·ȳ_lag — hash-checked against DuckDB's REGR_* twin."""
    m = _daily_events(spark, sf_dir)
    w = Window.partitionBy("series_id").orderBy("obs_date")
    p = m.withColumn("ylag", F.lag("value").over(w)).filter(
        F.col("ylag").isNotNull()
    )
    agg = p.groupBy("series_id").agg(
        F.covar_pop("value", "ylag").alias("cov"),
        F.var_pop("ylag").alias("var"),
        F.avg("value").alias("my"),
        F.avg("ylag").alias("mx"),
    )
    slope = F.col("cov") / F.col("var")
    return agg.select(
        "series_id",
        r6(slope).alias("phi"),
        r6(F.col("my") - slope * F.col("mx")).alias("intercept"),
    )


def _adf_chain_sql(src: str) -> str:
    """The full k=0 ADF replay (3×3 OLS via centered normal
    equations, t-statistic, tseries' two-way Dickey–Fuller table
    interpolation) as a CTE chain over any source relation named
    ``src`` with (series_id, obs_date, value) — shared by
    ``stat_adf_batch`` and ``stat_stationarity_round1``. Ends with
    the ``pv`` CTE exposing (series_id, stat, p_value)."""
    return """
 d0 AS (SELECT series_id, value,
               ROW_NUMBER() OVER (PARTITION BY series_id ORDER BY obs_date) AS rn,
               COUNT(*) OVER (PARTITION BY series_id) AS n,
               LEAD(value) OVER (PARTITION BY series_id ORDER BY obs_date) - value
                 AS resp
        FROM m),
 d1 AS (SELECT series_id, n, CAST(rn AS DOUBLE) AS tr, value AS yl, resp
        FROM d0 WHERE rn <= n - 1),
 d2 AS (SELECT series_id, n, resp,
               tr - AVG(tr) OVER (PARTITION BY series_id) AS tc,
               yl - AVG(yl) OVER (PARTITION BY series_id) AS yc,
               resp - AVG(resp) OVER (PARTITION BY series_id) AS rc
        FROM d1),
 sums AS (SELECT series_id, MAX(n) AS n,
                 SUM(tc*tc) AS sxx, SUM(tc*yc) AS sxy, SUM(yc*yc) AS syy,
                 SUM(tc*rc) AS sxr, SUM(yc*rc) AS syr, SUM(rc*rc) AS srr
          FROM d2 GROUP BY series_id),
 st AS (SELECT series_id, n, CAST(n - 1 AS DOUBLE) AS n_tab,
               (sxx*syr - sxy*sxr)/(sxx*syy - sxy*sxy) AS b_y,
               (syy*sxr - sxy*syr)/(sxx*syy - sxy*sxy) AS b_t,
               sxx, sxy, syy, sxr, syr, srr
        FROM sums),
 st2 AS (SELECT series_id, n, n_tab,
                b_y / sqrt( ((srr - b_t*sxr - b_y*syr) / (n - 1 - 3))
                            * sxx / (sxx*syy - sxy*sxy) ) AS stat
         FROM st),
 tab(nv, pr, cv) AS (VALUES
  (25.0,0.01,-4.38),(25.0,0.025,-3.95),(25.0,0.05,-3.60),(25.0,0.10,-3.24),
  (25.0,0.90,-1.14),(25.0,0.95,-0.80),(25.0,0.975,-0.50),(25.0,0.99,-0.15),
  (50.0,0.01,-4.15),(50.0,0.025,-3.80),(50.0,0.05,-3.50),(50.0,0.10,-3.18),
  (50.0,0.90,-1.19),(50.0,0.95,-0.87),(50.0,0.975,-0.58),(50.0,0.99,-0.24),
  (100.0,0.01,-4.04),(100.0,0.025,-3.73),(100.0,0.05,-3.45),(100.0,0.10,-3.15),
  (100.0,0.90,-1.22),(100.0,0.95,-0.90),(100.0,0.975,-0.62),(100.0,0.99,-0.28),
  (250.0,0.01,-3.99),(250.0,0.025,-3.69),(250.0,0.05,-3.43),(250.0,0.10,-3.13),
  (250.0,0.90,-1.23),(250.0,0.95,-0.92),(250.0,0.975,-0.64),(250.0,0.99,-0.31),
  (500.0,0.01,-3.98),(500.0,0.025,-3.68),(500.0,0.05,-3.42),(500.0,0.10,-3.13),
  (500.0,0.90,-1.24),(500.0,0.95,-0.93),(500.0,0.975,-0.65),(500.0,0.99,-0.32),
  (100000.0,0.01,-3.96),(100000.0,0.025,-3.66),(100000.0,0.05,-3.41),
  (100000.0,0.10,-3.12),(100000.0,0.90,-1.25),(100000.0,0.95,-0.94),
  (100000.0,0.975,-0.66),(100000.0,0.99,-0.33)),
 jn AS (SELECT s.series_id, s.n_tab, s.stat, t.pr, t.nv, t.cv
        FROM st2 s CROSS JOIN tab t),
 lo AS (SELECT series_id, pr, arg_max(cv, nv) AS cv_lo, MAX(nv) AS nv_lo
        FROM jn WHERE nv <= n_tab GROUP BY 1,2),
 hi AS (SELECT series_id, pr, arg_min(cv, nv) AS cv_hi, MIN(nv) AS nv_hi
        FROM jn WHERE nv >= n_tab GROUP BY 1,2),
 rowcv AS (SELECT s.series_id, t.pr,
        CASE WHEN lo.nv_lo IS NULL THEN hi.cv_hi
             WHEN hi.nv_hi IS NULL THEN lo.cv_lo
             WHEN hi.nv_hi = lo.nv_lo THEN lo.cv_lo
             ELSE lo.cv_lo + (hi.cv_hi - lo.cv_lo)
                    * (s.n_tab - lo.nv_lo)/(hi.nv_hi - lo.nv_lo)
        END AS cv
     FROM st2 s CROSS JOIN (SELECT DISTINCT pr FROM tab) t
     LEFT JOIN lo ON lo.series_id = s.series_id AND lo.pr = t.pr
     LEFT JOIN hi ON hi.series_id = s.series_id AND hi.pr = t.pr),
 plo AS (SELECT r.series_id, arg_max(pr, cv) AS p_lo, MAX(cv) AS cv_plo
         FROM rowcv r JOIN st2 USING (series_id) WHERE cv <= stat GROUP BY 1),
 phi AS (SELECT r.series_id, arg_min(pr, cv) AS p_hi, MIN(cv) AS cv_phi
         FROM rowcv r JOIN st2 USING (series_id) WHERE cv >= stat GROUP BY 1),
 pv AS (SELECT s.series_id, s.stat,
        CASE WHEN plo.p_lo IS NULL THEN 0.01
             WHEN phi.p_hi IS NULL THEN 0.99
             WHEN phi.cv_phi = plo.cv_plo THEN plo.p_lo
             ELSE plo.p_lo + (phi.p_hi - plo.p_lo)
                    * (s.stat - plo.cv_plo)/(phi.cv_phi - plo.cv_plo)
        END AS p_value
     FROM st2 s LEFT JOIN plo ON plo.series_id = s.series_id
                LEFT JOIN phi ON phi.series_id = s.series_id)
""".replace("FROM m)", f"FROM {src})")


@query(
    "stat_adf_batch",
    _DAILY_EVENTS_CTE
    + ","
    + _adf_chain_sql("m")
    + """
    SELECT series_id, ROUND(stat,6) AS statistic, ROUND(p_value,6) AS p_value,
           0 AS k
    FROM pv ORDER BY series_id
    """,
)
def stat_adf_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M18: per-series ADF (constant+trend, Dickey–Fuller table
    p-values, tseries::adf.test semantics) over the daily event
    series in one grouped pass. Declared at k=0 (the plain DF
    regression Δy_t ~ (1, t, y_{t−1})) so the ENTIRE test — 3×3 OLS
    via centered normal equations, t-statistic, and tseries' two-way
    table interpolation — is replayed in the DuckDB oracle; the
    augmented general-k path (default k = trunc((n−1)^{1/3})) is
    pinned in tests/test_stats.py and drives the stationarity loop."""
    from .functions.stats import adf_table

    m = _daily_events(spark, sf_dir)
    t = adf_table(m, k=0)
    return t.select(
        "series_id",
        r6(F.col("statistic")).alias("statistic"),
        r6(F.col("p_value")).alias("p_value"),
        "k",
    )


@query(
    "stat_stationarity_round1",
    _DAILY_EVENTS_CTE
    + """,
 -- I(2) construction: the raw daily diffs are already stationary, so
 -- a double running sum feeds the loop something whose FIRST diff is
 -- still integrated — the flag/branch logic actually fires
 m1 AS (SELECT series_id, obs_date,
               SUM(value) OVER (PARTITION BY series_id ORDER BY obs_date
                 ROWS UNBOUNDED PRECEDING) AS value
        FROM m),
 m2 AS (SELECT series_id, obs_date,
               SUM(value) OVER (PARTITION BY series_id ORDER BY obs_date
                 ROWS UNBOUNDED PRECEDING) AS value
        FROM m1),
 d AS (SELECT series_id, obs_date,
              value - LAG(value) OVER (PARTITION BY series_id
                                       ORDER BY obs_date) AS value
       FROM m2),
 qq AS (SELECT series_id,
               CAST(date_trunc('day', obs_date) AS DATE) AS obs_date,
               CASE WHEN COUNT(*) = COUNT(value) THEN SUM(value) END AS value
        FROM d GROUP BY 1, 2),
 fq AS (SELECT MIN(obs_date) AS f FROM qq),
 src AS (SELECT qq.series_id, qq.obs_date, qq.value
         FROM qq, fq WHERE qq.obs_date > fq.f AND qq.value IS NOT NULL),
"""
    + _adf_chain_sql("src")
    + """,
 pos AS (SELECT series_id, MIN(value) > 0 AS positive
         FROM m2 WHERE value IS NOT NULL GROUP BY 1)
    SELECT p.series_id AS series,
           ROUND(p.p_value, 6) AS p1,
           CASE WHEN p.p_value <= 0.05 THEN 'diff_quarterly_sum'
                WHEN p.series_id = 'click' AND pos.positive
                  THEN 'logdiff_quarterly_sum'
                ELSE 'diff_quarterly_sum+diff' END AS transform,
           CASE WHEN p.p_value <= 0.05 THEN 0 ELSE 1 END AS flagged
    FROM pv p JOIN pos ON pos.series_id = p.series_id
    ORDER BY series
    """,
)
def stat_stationarity_round1(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M19's decision function hash-gated: ONE round of the
    stationarity fixpoint (Main.R:64-92 variant at the replayable
    k=0, crit=0.05, currency = {'click'}) on the daily event
    series made I(2) by a double running sum (raw daily diffs are
    already stationary; the integration makes the flag/branch logic
    actually fire) — the initial sum-of-diffs transform at daily
    buckets (the reference's monthly→quarterly shape degenerates at
    the testdata's 30-day span; the resample/diff/drop-first
    machinery is identical), the per-series ADF flag, and
    the branch logic (currency ∧ positive → log-diff replacement;
    otherwise extra diff appended). The DuckDB twin replays the
    transform, the full ADF chain (shared ``_adf_chain_sql``), the
    raw-level positivity check, and every branch. Only the
    multi-round ITERATION CONTROL stays pytest-pinned
    (tests/test_selection_stationarity.py + the golden repro)."""
    from .functions.stats import adf_table
    from .operators.stationarity import (
        make_quarterly_diffs,
        stationarity_pipeline,
    )

    from pyspark.sql import Window as _W

    daily = _daily_events(spark, sf_dir)
    w = (
        _W.partitionBy("series_id")
        .orderBy("obs_date")
        .rowsBetween(_W.unboundedPreceding, 0)
    )
    i2 = daily.select(
        "series_id", "obs_date", F.sum("value").over(w).alias("value")
    ).select(
        "series_id", "obs_date", F.sum("value").over(w).alias("value")
    )
    res = stationarity_pipeline(
        i2, currency_series={"click"}, crit=0.05, max_rounds=1,
        adf_k=0, resample_freq="day",
    )
    q1 = make_quarterly_diffs(i2, freq="day")
    pv = {
        r["series_id"]: float(r["p_value"])
        for r in adf_table(q1.dropna(subset=["value"]), k=0).collect()
    }
    rows = [
        (
            s,
            round(pv[s], 6),
            "+".join(res.transforms[s]),
            int(s in res.still_non_stationary),
        )
        for s in sorted(res.transforms)
    ]
    return spark.createDataFrame(
        rows, "series string, p1 double, transform string, flagged int"
    ).orderBy("series")


@query("ml_group_enet_coefs", None)  # oracle generated below
def ml_group_enet_coefs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M7: group (mgaussian) elastic-net VAR(2) on the quarterly pair
    at α=0.5, fixed λ — hash-gated END TO END: the engine runs the
    distributed lag-embed → Gram → standardize(+response) chain with
    a FIXED 80-sweep Gauss–Seidel block-CD schedule, and the DuckDB
    oracle (``_group_enet_oracle_sql``) replays the identical
    schedule as a recursive CTE, so both sides compute the same
    finite iteration — no convergence-tolerance daylight. The CV
    λ.min flavor (enetVAR.R:344-366 cv.glmnet mgaussian) stays
    pinned in tests/test_group_enet.py, and block_cd_fixed ≈
    converged _block_cd is itself a pinned test."""
    from .ml.group_enet import fit_group_enet_var_fixed

    wide = _quarterly_pair(spark, sf_dir)
    x_cols, y_cols, B, _a0 = fit_group_enet_var_fixed(
        wide, ["revenue", "quantity"], p=2, alpha=0.5, lam=0.01, sweeps=80
    )
    rows = [
        (zn, yc, round(float(B[i, j]), 6))
        for i, zn in enumerate(x_cols)
        for j, yc in enumerate(y_cols)
    ]
    return spark.createDataFrame(
        rows, "z_name string, equation string, coef double"
    ).orderBy("equation", "z_name")


@query(
    "ml_lasso_soft_threshold",
    _QUARTERLY_PAIR_CTE
    + """,
 base AS (SELECT obs_date, CAST(revenue AS DOUBLE) AS y,
                 CAST(LAG(quantity) OVER (ORDER BY obs_date) AS DOUBLE) AS x
          FROM pair),
 emb AS (SELECT x, y FROM base WHERE x IS NOT NULL),
 mom AS (SELECT COUNT(*) AS n, SUM(x) AS sx, SUM(y) AS sy,
                SUM(x*x) AS sxx, SUM(x*y) AS sxy
         FROM emb),
 std AS (SELECT n, sx/n AS mx, sy/n AS my,
                sqrt(sxx/n - (sx/n)*(sx/n)) AS s,
                (sxy/n - (sx/n)*(sy/n)) / sqrt(sxx/n - (sx/n)*(sx/n)) AS r
         FROM mom),
 grid AS (SELECT CAST(lam AS DOUBLE) AS lam
          FROM (VALUES (0.0005), (0.005), (0.05), (0.5), (1.5)) g(lam)),
 sol AS (SELECT g.lam,
                (CASE WHEN std.r > g.lam THEN std.r - g.lam
                      WHEN std.r < -g.lam THEN std.r + g.lam
                      ELSE 0.0 END) / std.s AS coef,
                std.mx, std.my
         FROM grid g CROSS JOIN std)
    SELECT ROUND(lam, 6) AS lam, ROUND(coef, 6) AS coef,
           ROUND(my - coef * mx, 6) AS intercept
    FROM sol ORDER BY lam
    """,
)
def ml_lasso_soft_threshold(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M1 at α=1 on one predictor — the lasso soft-threshold rule in
    the driver hash gate: on the standardized 1-feature problem the
    path solution is S(r, λ)/scale exactly, so the DuckDB twin
    replays standardization + thresholding + un-standardization in
    closed form for λ on both sides of the threshold. (The multi-
    feature α∈(0,1) path is pinned by KKT/orthonormal pytest
    oracles; ridge and group closed forms have their own gate
    queries.)"""
    from .ml.elastic_net import enet_path
    from .ml.gram import compute_moments

    wide = _quarterly_pair(spark, sf_dir)
    w = Window.orderBy("obs_date")  # quarterly time axis — bounded
    frame = wide.select(
        F.col("revenue").cast("double").alias("revenue"),
        F.lag("quantity").over(w).cast("double").alias("x"),
    ).filter(F.col("x").isNotNull())
    m = compute_moments(frame, ["x", "revenue"])
    rows = []
    for lam in (0.0005, 0.005, 0.05, 0.5, 1.5):
        fit = enet_path(
            m, ["x"], "revenue", alpha=1.0,
            lambdas=__import__("numpy").array([lam]), intercept=True,
        )
        b, a0 = fit.coef_at(lam)
        rows.append((round(lam, 6), round(float(b[0]), 6), round(float(a0), 6)))
    return spark.createDataFrame(
        rows, "lam double, coef double, intercept double"
    ).orderBy("lam")


@query("ml_group_ridge_coefs", None)  # oracle registered near _QPAIR_SQL
def ml_group_ridge_coefs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M7/M8 at α=0: the GROUP (mgaussian) block-CD solver through
    the same distributed Gram pass, hash-checked against the ridge
    closed form — at α=0 the group penalty separates per coefficient
    and the response standardization cancels, so the mgaussian
    solution equals per-equation ridge and the ml_ridge_var_coefs
    Cramer oracle applies verbatim. Declared at 4 dp: block CD at
    tol=1e-16 converges to ~1e-6 of the closed form on this
    near-collinear design (group KKT / K=1-equivalence pytest covers
    α>0)."""
    import numpy as np

    from .ml.gram import compute_moments
    from .ml.group_enet import group_enet_path
    from .operators.lag_embed import lag_col_name, na_omit, var_z

    wide = _quarterly_pair(spark, sf_dir)
    series = ["revenue", "quantity"]
    p, lam = 2, 0.05
    vz = var_z(wide.select("obs_date", *series), series, p, date_col="obs_date")
    z_cols = [lag_col_name(s, i) for i in range(1, p + 1) for s in series]
    m = compute_moments(na_omit(vz.df, z_cols + series), z_cols + series)
    fit = group_enet_path(
        m, z_cols, series, alpha=0.0,
        lambdas=np.linspace(2 * lam, lam / 2, 10), intercept=True, tol=1e-16,
    )
    B, a0 = fit.coef_at(lam)
    rows = [
        ("intercept", eq, round(float(a0[j]), 4))
        for j, eq in enumerate(series)
    ] + [
        (zn, eq, round(float(B[i, j]), 4))
        for i, zn in enumerate(z_cols)
        for j, eq in enumerate(series)
    ]
    return spark.createDataFrame(
        rows, "z_name string, equation string, coef double"
    ).orderBy("equation", "z_name")


@query(
    "ml_acf_selection",
    _DAILY_EVENTS_CTE
    + """,
 tname AS (SELECT MIN(series_id) AS target FROM m),
 stats AS (SELECT series_id, AVG(value) AS mm,
                  SUM(value*value)/COUNT(*) - AVG(value)*AVG(value) AS vv,
                  COUNT(*) AS tt
           FROM m GROUP BY 1),
 tstat AS (SELECT mm AS mx, vv AS vx FROM stats, tname
           WHERE series_id = target),
 lagged AS (SELECT series_id, obs_date, k.lag, value,
                   LAG(value, k.lag) OVER
                     (PARTITION BY series_id, k.lag ORDER BY obs_date) AS y
            FROM m CROSS JOIN (SELECT unnest([1,2,3,4]) AS lag) k),
 tx AS (SELECT obs_date, value AS x FROM m, tname WHERE series_id = target),
 xacf AS (SELECT l.series_id, l.lag,
                 SUM((t.x - ts.mx) * (l.y - s.mm))
                   / (s.tt * sqrt(s.vv * ts.vx)) AS acf
          FROM lagged l JOIN tx t USING (obs_date)
          JOIN stats s ON s.series_id = l.series_id
          CROSS JOIN tstat ts
          GROUP BY l.series_id, l.lag, s.tt, s.vv, ts.vx),
 scores AS (SELECT series_id, AVG(acf*acf) AS score FROM xacf GROUP BY 1),
 ranked AS (SELECT series_id,
                   ROW_NUMBER() OVER (ORDER BY score DESC, series_id) AS rn
            FROM scores),
 -- M15: top-3 + target prepended (quirk-Q10-fixed path)
 sel AS (SELECT * FROM ranked WHERE rn <= 3),
 tail AS (SELECT series_id,
                 CAST(ROW_NUMBER() OVER (ORDER BY rn) AS INT) AS rank
          FROM sel, tname WHERE series_id <> target),
 -- M16: greedy diversity on the cross-ACF profile; maxnrvar=3 means
 -- exactly one diversity round: first = top-scored non-target, then
 -- the series whose profile is FARTHEST (mean sq distance) from it
 afirst AS (SELECT series_id FROM ranked, tname
            WHERE series_id <> target
            ORDER BY rn LIMIT 1),
 adist AS (SELECT a.series_id,
                  CASE WHEN a.series_id = f.series_id THEN 0.0
                       ELSE AVG(pow(a.acf - b.acf, 2)) END AS dist
           FROM xacf a
           JOIN xacf b ON a.lag = b.lag
           JOIN afirst f ON b.series_id = f.series_id
           GROUP BY a.series_id, f.series_id),
 apick AS (SELECT a.series_id FROM adist a, tname
           WHERE a.series_id <> target
           ORDER BY a.dist DESC, a.series_id LIMIT 1),
 -- M17: the same greedy round on univariate Durbin-Levinson PACF
 -- profiles (recursion unrolled as in ml_pacf_m17_profile)
 w AS (SELECT series_id,
              MAX(CASE WHEN lag = 1 THEN r END) AS r1,
              MAX(CASE WHEN lag = 2 THEN r END) AS r2,
              MAX(CASE WHEN lag = 3 THEN r END) AS r3,
              MAX(CASE WHEN lag = 4 THEN r END) AS r4
       FROM (SELECT l.series_id, l.lag,
                    SUM((l.value - s.mm) * (l.y - s.mm)) / (s.tt * s.vv) AS r
             FROM lagged l JOIN stats s USING (series_id)
             GROUP BY l.series_id, l.lag, s.tt, s.vv)
       GROUP BY 1),
 dl1 AS (SELECT *, r1 AS p11 FROM w),
 dl2 AS (SELECT *, (r2 - p11*r1) / (1 - p11*r1) AS p22 FROM dl1),
 dl2b AS (SELECT *, p11 - p22*p11 AS q21 FROM dl2),
 dl3 AS (SELECT *, (r3 - (q21*r2 + p22*r1))
                   / (1 - (q21*r1 + p22*r2)) AS p33 FROM dl2b),
 dl3b AS (SELECT *, q21 - p33*p22 AS q31, p22 - p33*q21 AS q32 FROM dl3),
 dl4 AS (SELECT series_id, p11, p22, p33, p44 FROM
           (SELECT *, (r4 - (q31*r3 + q32*r2 + p33*r1))
                      / (1 - (q31*r1 + q32*r2 + p33*r3)) AS p44 FROM dl3b)),
 pranked AS (SELECT series_id, ROW_NUMBER() OVER (ORDER BY
                 (p11*p11 + p22*p22 + p33*p33 + p44*p44)/4 DESC,
                 series_id) AS rn
             FROM dl4),
 pfirst AS (SELECT series_id FROM pranked, tname
            WHERE series_id <> target ORDER BY rn LIMIT 1),
 pdist AS (SELECT a.series_id,
                  CASE WHEN a.series_id = f.series_id THEN 0.0
                       ELSE (pow(a.p11 - b.p11, 2) + pow(a.p22 - b.p22, 2)
                             + pow(a.p33 - b.p33, 2)
                             + pow(a.p44 - b.p44, 2))/4 END AS dist
           FROM dl4 a, dl4 b, pfirst f
           WHERE b.series_id = f.series_id),
 ppick AS (SELECT a.series_id FROM pdist a, tname
           WHERE a.series_id <> target
           ORDER BY a.dist DESC, a.series_id LIMIT 1)
    SELECT 'acf' AS method, 0 AS rank, target AS series FROM tname
    UNION ALL SELECT 'acf', rank, series_id FROM tail
    UNION ALL SELECT 'acf2', 0, target FROM tname
    UNION ALL SELECT 'acf2', 1, series_id FROM afirst
    UNION ALL SELECT 'acf2', 2, series_id FROM apick
    UNION ALL SELECT 'pacf', 0, target FROM tname
    UNION ALL SELECT 'pacf', 1, series_id FROM pfirst
    UNION ALL SELECT 'pacf', 2, series_id FROM ppick
    ORDER BY method, rank
    """,
)
def ml_acf_selection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M15/M16/M17: the three ACF/PACF variable-selection operators
    over the daily event series (target = first series
    alphabetically), each returning its ranked pick list. Hash-gated
    END TO END (VERDICT r2 item 1): at maxnrvar=3 the greedy
    diversity loop runs exactly ONE round, so the oracle unrolls it —
    M15's (−score, name) top-N, M16's farthest-profile pick on the
    cross-ACF matrix, and M17's pick on unrolled Durbin–Levinson
    PACF profiles. Deeper recursions stay pinned in
    tests/test_selection_stationarity.py. Reference:
    enetVAR.R:646-756."""
    from .ml.selection import (
        _cross_acf_matrix,
        acf_var_selection,
        acf_var_selection2,
        pacf_var_selection,
    )

    m = _daily_events(spark, sf_dir)
    target = m.select(F.min("series_id")).collect()[0][0]
    # ONE windowed cross-ACF pass serves both M15 and M16 (identical
    # (target, lag) matrix): the combined query's driver-job count was
    # the noise amplifier VERDICT r9 flagged — every small job paid a
    # session-latency toll, so jobs that recompute shared inputs are
    # the first thing to collapse.
    cross = _cross_acf_matrix(m, target, 4)
    rows = []
    for method, sel in (
        ("acf", acf_var_selection(m, target, lag=4, maxnrvar=3, precomputed=cross)),
        ("acf2", acf_var_selection2(m, target, lag=4, maxnrvar=3, precomputed=cross)),
        ("pacf", pacf_var_selection(m, target, lag=4, maxnrvar=3)),
    ):
        rows.extend((method, i, s) for i, s in enumerate(sel))
    return spark.createDataFrame(
        rows, "method string, rank int, series string"
    ).orderBy("method", "rank")


@query(
    "ml_pacf_m17_profile",
    _DAILY_EVENTS_CTE
    + """,
 stats AS (SELECT series_id, AVG(value) AS mm,
                  SUM(value*value)/COUNT(*) - AVG(value)*AVG(value) AS vv,
                  COUNT(*) AS tt
           FROM m GROUP BY 1),
 lagged AS (SELECT series_id, obs_date, k.lag, value,
                   LAG(value, k.lag) OVER
                     (PARTITION BY series_id, k.lag ORDER BY obs_date) AS y
            FROM m CROSS JOIN (SELECT unnest([1,2,3,4]) AS lag) k),
 acf AS (SELECT l.series_id, l.lag,
                SUM((l.value - s.mm) * (l.y - s.mm)) / (s.tt * s.vv) AS r
         FROM lagged l JOIN stats s USING (series_id)
         GROUP BY l.series_id, l.lag, s.tt, s.vv),
 w AS (SELECT series_id,
              MAX(CASE WHEN lag = 1 THEN r END) AS r1,
              MAX(CASE WHEN lag = 2 THEN r END) AS r2,
              MAX(CASE WHEN lag = 3 THEN r END) AS r3,
              MAX(CASE WHEN lag = 4 THEN r END) AS r4
       FROM acf GROUP BY 1),
 dl1 AS (SELECT *, r1 AS p11 FROM w),
 dl2 AS (SELECT *, (r2 - p11*r1) / (1 - p11*r1) AS p22 FROM dl1),
 dl2b AS (SELECT *, p11 - p22*p11 AS q21 FROM dl2),
 dl3 AS (SELECT *, (r3 - (q21*r2 + p22*r1))
                   / (1 - (q21*r1 + p22*r2)) AS p33 FROM dl2b),
 dl3b AS (SELECT *, q21 - p33*p22 AS q31, p22 - p33*q21 AS q32 FROM dl3),
 dl4 AS (SELECT *, (r4 - (q31*r3 + q32*r2 + p33*r1))
                   / (1 - (q31*r1 + q32*r2 + p33*r3)) AS p44 FROM dl3b)
    SELECT series_id, 1 AS lag, ROUND(p11, 6) AS pacf FROM dl4
    UNION ALL SELECT series_id, 2, ROUND(p22, 6) FROM dl4
    UNION ALL SELECT series_id, 3, ROUND(p33, 6) FROM dl4
    UNION ALL SELECT series_id, 4, ROUND(p44, 6) FROM dl4
    """,
)
def ml_pacf_m17_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M17's PACF profile hash-gated: per-series univariate
    Durbin–Levinson partials at lags 1..4 from the one-pass R-normal
    ACF table — the DuckDB twin unrolls the DL recursion in closed
    form, so the gate covers the ACF pipeline AND the recursion; the
    greedy diversity pick is hash-gated too (`ml_acf_selection`)."""
    import numpy as np

    from .operators.acf import acf_table, pacf_from_acf

    daily = _daily_events(spark, sf_dir)
    rows = acf_table(daily, 4, method="r").collect()
    by: dict[str, dict[int, float]] = {}
    for r in rows:
        by.setdefault(r["series_id"], {})[r["lag"]] = r["acf"]
    out = []
    for s in sorted(by):
        p = pacf_from_acf(np.array([by[s][k] for k in (1, 2, 3, 4)]))
        out.extend((s, k + 1, round(float(p[k]), 6)) for k in range(4))
    return spark.createDataFrame(out, "series_id string, lag int, pacf double")


@query(
    "ml_acf_m15_topn",
    _DAILY_EVENTS_CTE
    + """,
 tname AS (SELECT MIN(series_id) AS target FROM m),
 stats AS (SELECT series_id, AVG(value) AS mm,
                  SUM(value*value)/COUNT(*) - AVG(value)*AVG(value) AS vv,
                  COUNT(*) AS tt
           FROM m GROUP BY 1),
 tstat AS (SELECT mm AS mx, vv AS vx FROM stats, tname
           WHERE series_id = target),
 lagged AS (SELECT series_id, obs_date, k.lag,
                   LAG(value, k.lag) OVER
                     (PARTITION BY series_id, k.lag ORDER BY obs_date) AS y
            FROM m CROSS JOIN (SELECT unnest([1,2,3,4]) AS lag) k),
 tx AS (SELECT obs_date, value AS x FROM m, tname WHERE series_id = target),
 xacf AS (SELECT l.series_id, l.lag,
                 SUM((t.x - ts.mx) * (l.y - s.mm))
                   / (s.tt * sqrt(s.vv * ts.vx)) AS acf
          FROM lagged l JOIN tx t USING (obs_date)
          JOIN stats s ON s.series_id = l.series_id
          CROSS JOIN tstat ts
          GROUP BY l.series_id, l.lag, s.tt, s.vv, ts.vx),
 scores AS (SELECT series_id, AVG(acf*acf) AS score FROM xacf GROUP BY 1),
 ranked AS (SELECT series_id,
                   ROW_NUMBER() OVER (ORDER BY score DESC, series_id) AS rn
            FROM scores),
 sel AS (SELECT * FROM ranked WHERE rn <= 3),
 tail AS (SELECT series_id,
                 CAST(ROW_NUMBER() OVER (ORDER BY rn) AS INT) AS rank
          FROM sel, tname WHERE series_id <> target)
    SELECT 0 AS rank, target AS series FROM tname
    UNION ALL
    SELECT rank, series_id AS series FROM tail
    ORDER BY rank
    """,
)
def ml_acf_m15_topn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M15 acf.var.selection (quirk-Q10-fixed path), hash-checked end
    to end: mean-square cross-ACF score (R normalization — full-series
    population moments, denominator T) → deterministic (−score, name)
    ranking → top-N with target prepended. The DuckDB twin replays
    the whole selection; the greedy M16/M17 variants are hash-gated
    in ``ml_acf_selection`` (unrolled greedy round)."""
    from .ml.selection import acf_var_selection

    m = _daily_events(spark, sf_dir)
    target = m.select(F.min("series_id")).collect()[0][0]
    sel = acf_var_selection(m, target, lag=4, maxnrvar=3)
    rows = [(i, s) for i, s in enumerate(sel)]
    return spark.createDataFrame(rows, "rank int, series string").orderBy("rank")


@query("ml_tune_ridge", None)  # oracle generated below
def ml_tune_ridge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M13 enetVARtune at α=0 — the caret timeSlice grid search
    hash-checked END TO END: the ridge closed form makes every
    (origin, λ) fold fit exact, and each origin's Gram is a PREFIX
    of cumulative cross-moments, so the DuckDB twin replays the
    entire grid search (expanding-window moments → per-origin
    standardization → 2×2 ridge solve → horizon forecasts → mean
    RMSE per λ → caret first-min tie-break) in SQL. The α>0 grid is
    ``ml_tune_best`` (hash-gated since r3 via per-cell KKT
    enumeration; sequential-replication pytest as well)."""
    import numpy as np

    from .ml.tuning import rolling_origin_tune

    wide = _quarterly_pair(spark, sf_dir)
    best = rolling_origin_tune(
        spark, wide, ["revenue", "quantity"], lag=1,
        init_window=None, init_window_from_end=(16, 8), horizon=2,
        alpha_grid=np.array([0.0]),
        lambda_grid=_TUNE_LAMBDA_GRID,
        intercept=False,
    )
    rows = [
        (str(eq), round(float(lam), 6), round(float(rm), 6))
        for eq, lam, rm in best[["equation", "lambda", "rmse"]].to_numpy()
    ]
    return spark.createDataFrame(
        rows, "equation string, lambda double, rmse double"
    ).orderBy("equation")


_TUNE_LAMBDA_GRID = tuple(10 ** __import__("numpy").linspace(0, -3, 10))


def _register_tune_ridge_oracle() -> None:
    lam_rows = ", ".join(f"({i}, {float(l)!r})" for i, l in enumerate(_TUNE_LAMBDA_GRID))
    eq_cases = []
    for e, eq in (("r", "revenue"), ("q", "quantity")):
        eq_cases.append(f"""
 sse_{e} AS (
   -- caret semantics: RMSE per resample (origin), then mean
   SELECT g.gi, g.lam, o.rn AS orn,
          SUM(POW(t.x1 * (((1+g.lam)*(o.c1{e}/o.rn/o.s1) - o.rho*(o.c2{e}/o.rn/o.s2))
                          / ((1+g.lam)*(1+g.lam) - o.rho*o.rho)) / o.s1
                + t.x2 * (((1+g.lam)*(o.c2{e}/o.rn/o.s2) - o.rho*(o.c1{e}/o.rn/o.s1))
                          / ((1+g.lam)*(1+g.lam) - o.rho*o.rho)) / o.s2
                - t.y_{e}, 2)) / COUNT(*) AS mse_o
   FROM origins o
   CROSS JOIN par
   CROSS JOIN grid g
   JOIN emb t ON t.rn > o.rn AND t.rn <= o.rn + par.horizon
   GROUP BY g.gi, g.lam, o.rn),
 rmse_{e} AS (
   SELECT gi, lam, AVG(SQRT(mse_o)) AS rmse_m
   FROM sse_{e} GROUP BY gi, lam),
 best_{e} AS (
   SELECT '{eq}' AS equation, ROUND(lam, 6) AS lambda,
          ROUND(rmse_m, 6) AS rmse,
          ROW_NUMBER() OVER (ORDER BY rmse_m ASC, lam ASC) AS pick
   FROM rmse_{e})""")
    ORACLE["ml_tune_ridge"] = f"""
        WITH q AS ({_QPAIR_SQL}),
        base AS (SELECT obs_date,
                        CAST(revenue AS DOUBLE) AS revenue,
                        CAST(quantity AS DOUBLE) AS quantity,
                        CAST(LAG(revenue) OVER (ORDER BY obs_date) AS DOUBLE) AS x1,
                        CAST(LAG(quantity) OVER (ORDER BY obs_date) AS DOUBLE) AS x2
                 FROM q),
        emb AS (SELECT ROW_NUMBER() OVER (ORDER BY obs_date) AS rn, x1, x2,
                       revenue AS y_r, quantity AS y_q
                FROM base WHERE x1 IS NOT NULL),
        par AS (SELECT GREATEST((SELECT COUNT(*) FROM q) - 16, 8) AS iw,
                       2 AS horizon,
                       (SELECT COUNT(*) FROM emb) AS n_emb),
        cum AS (SELECT rn, x1, x2, y_r, y_q,
                       SUM(x1*x1) OVER w AS c11, SUM(x1*x2) OVER w AS c12,
                       SUM(x2*x2) OVER w AS c22,
                       SUM(x1*y_r) OVER w AS c1r, SUM(x2*y_r) OVER w AS c2r,
                       SUM(x1*y_q) OVER w AS c1q, SUM(x2*y_q) OVER w AS c2q
                FROM emb
                WINDOW w AS (ORDER BY rn ROWS BETWEEN UNBOUNDED PRECEDING
                             AND CURRENT ROW)),
        origins AS (SELECT c.*,
                           SQRT(c.c11/c.rn) AS s1, SQRT(c.c22/c.rn) AS s2,
                           c.c12/SQRT(c.c11*c.c22) AS rho
                    FROM cum c, par
                    WHERE c.rn >= par.iw AND c.rn <= par.n_emb - par.horizon),
        grid AS (SELECT gi, CAST(lam AS DOUBLE) AS lam
                 FROM (VALUES {lam_rows}) g(gi, lam)),{",".join(eq_cases)}
        SELECT equation, lambda, rmse FROM best_r WHERE pick = 1
        UNION ALL
        SELECT equation, lambda, rmse FROM best_q WHERE pick = 1
        ORDER BY equation
    """


_register_tune_ridge_oracle()


@query("ml_tune_best", None)  # oracle generated below
def ml_tune_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M13 enetVARtune: rolling-origin (timeSlice) grid search over
    (α, λ) per equation on the quarterly pair — the reference's
    caret trainControl semantics, distributed as (equation, α) task
    cells. Hash-gated END TO END (``_tune_oracle_sql`` below): the
    DuckDB twin replays every grid cell — expanding-window prefix
    moments per origin, the EXACT α>0 elastic-net solve by KKT
    support enumeration (3² sign patterns at lag 1), caret's
    per-resample RMSE aggregation, and the bestTune tie-break
    (first grid cell in α-then-λ-ascending order). Equivalence to a
    sequential replication is additionally pinned in
    tests/test_tuning.py. Reference: enetVAR.R:538-565."""
    import numpy as np

    from .ml.tuning import rolling_origin_tune

    wide = _quarterly_pair(spark, sf_dir)
    # init_window anchored to the series END so the resample count
    # (hence bench cost) is constant across scale factors — the grid
    # work per origin, not the origin count, is what this query gates.
    # The anchor derives from the collected frame (no count() job).
    best = rolling_origin_tune(
        spark, wide, ["revenue", "quantity"], lag=1,
        init_window=None, init_window_from_end=(16, 8), horizon=2,
        alpha_grid=np.array([0.2, 0.8]),
        lambda_grid=10 ** np.linspace(0, -3, 10),
    )
    rows = [
        (str(eq), round(float(a), 6), round(float(lam), 6), round(float(rm), 6))
        for eq, a, lam, rm in best[
            ["equation", "alpha", "lambda", "rmse"]
        ].to_numpy()
    ]
    return spark.createDataFrame(
        rows, "equation string, alpha double, lambda double, rmse double"
    ).orderBy("equation")


def _tune_oracle_sql(dp: int = 6) -> str:
    """Full SQL replay of ``ml_tune_best`` (VERDICT r2 item 1):
    caret timeSlice over the lag-1 quarterly pair. Per origin t
    (train rows 1..t), the standardized 2-feature problem comes from
    EXPANDING-WINDOW prefix moments (intercept=False ⇒ uncentered
    second-moment scaling, matching
    elastic_net.standardize_problem); each (α, λ, equation, origin)
    cell is solved EXACTLY by enumerating the 3² sign patterns of
    the 2-feature KKT system (same trick as ``_enet_oracle_sql``);
    test rows t+1..t+horizon are scored with their ACTUAL lag
    features (caret predicts the held-out design, no recursion);
    RMSE is per-resample then averaged (caret aggregation, quirk
    pinned round 2); bestTune = first minimum in α-asc, λ-asc grid
    order. α and λ output literals are pre-rounded in Python so
    banker's-vs-half-away rounding cannot differ between engines."""
    import numpy as np

    alphas = [0.2, 0.8]
    lambdas = [float(v) for v in 10 ** np.linspace(0, -3, 10)]
    horizon = 2
    # CAST: bare float literals parse as DECIMAL in DuckDB and the
    # downstream products overflow DECIMAL's max scale
    grid_rows = ", ".join(
        f"(CAST({a!r} AS DOUBLE), CAST({lam!r} AS DOUBLE),"
        f" CAST({round(a, dp)!r} AS DOUBLE),"
        f" CAST({round(lam, dp)!r} AS DOUBLE))"
        for a in alphas
        for lam in lambdas
    )
    signs = "(VALUES (-1),(0),(1))"
    return f"""
        WITH q AS ({_QPAIR_SQL}),
        nw AS (SELECT COUNT(*) AS n_wide FROM q),
        lagged AS (
          SELECT obs_date, revenue AS y_r, quantity AS y_q,
                 LAG(revenue,1) OVER w AS x1, LAG(quantity,1) OVER w AS x2
          FROM q WINDOW w AS (ORDER BY obs_date)
          QUALIFY x1 IS NOT NULL AND x2 IS NOT NULL),
        emb AS (
          SELECT ROW_NUMBER() OVER (ORDER BY obs_date) AS rn, *
          FROM lagged),
        prefix AS (
          SELECT rn AS t,
                 SUM(x1*x1) OVER w AS c11, SUM(x1*x2) OVER w AS c12,
                 SUM(x2*x2) OVER w AS c22,
                 SUM(x1*y_r) OVER w AS cy1_r, SUM(x2*y_r) OVER w AS cy2_r,
                 SUM(x1*y_q) OVER w AS cy1_q, SUM(x2*y_q) OVER w AS cy2_q
          FROM emb
          WINDOW w AS (ORDER BY rn ROWS UNBOUNDED PRECEDING)),
        origins AS MATERIALIZED (
          SELECT p.t,
                 sqrt(p.c11/p.t) AS sc1, sqrt(p.c22/p.t) AS sc2,
                 p.c12/p.t/(sqrt(p.c11/p.t)*sqrt(p.c22/p.t)) AS g12,
                 p.cy1_r/p.t/sqrt(p.c11/p.t) AS r1_r,
                 p.cy2_r/p.t/sqrt(p.c22/p.t) AS r2_r,
                 p.cy1_q/p.t/sqrt(p.c11/p.t) AS r1_q,
                 p.cy2_q/p.t/sqrt(p.c22/p.t) AS r2_q
          FROM prefix p, nw, (SELECT MAX(rn) AS n_emb FROM emb) ne
          WHERE p.t >= GREATEST(nw.n_wide - 16, 8)
            AND p.t <= ne.n_emb - {horizon}),
        grid AS (SELECT * FROM (VALUES {grid_rows})
                 g(alpha, lambda, alpha_out, lambda_out)),
        eqs AS (SELECT * FROM (VALUES ('r'), ('q')) e(eq)),
        patterns AS (SELECT p1.col0 AS s1, p2.col0 AS s2
                     FROM {signs} p1, {signs} p2),
        cand AS (
          SELECT o.t, g.alpha, g.lambda, g.alpha_out, g.lambda_out,
                 e.eq, p.s1, p.s2, o.sc1, o.sc2, o.g12,
                 CASE WHEN e.eq = 'r' THEN o.r1_r ELSE o.r1_q END AS r1,
                 CASE WHEN e.eq = 'r' THEN o.r2_r ELSE o.r2_q END AS r2,
                 g.lambda*g.alpha AS gam,
                 g.lambda*(1.0 - g.alpha) AS ridge
          FROM origins o, grid g, eqs e, patterns p),
        solved AS (
          SELECT *,
            CASE WHEN s1 <> 0 THEN 1.0 + ridge ELSE 1.0 END AS m11,
            CASE WHEN s2 <> 0 THEN 1.0 + ridge ELSE 1.0 END AS m22,
            CASE WHEN s1 <> 0 AND s2 <> 0 THEN g12 ELSE 0.0 END AS m12,
            CASE WHEN s1 <> 0 THEN r1 - gam*s1 ELSE 0.0 END AS rh1,
            CASE WHEN s2 <> 0 THEN r2 - gam*s2 ELSE 0.0 END AS rh2
          FROM cand),
        bstd AS (
          SELECT *,
            (rh1*m22 - m12*rh2)/(m11*m22 - m12*m12) AS b1s,
            (m11*rh2 - m12*rh1)/(m11*m22 - m12*m12) AS b2s
          FROM solved),
        kkt AS MATERIALIZED (
          SELECT t, alpha, lambda, alpha_out, lambda_out, eq,
                 b1s/sc1 AS b1, b2s/sc2 AS b2
          FROM bstd
          WHERE (CASE WHEN s1 <> 0 THEN b1s*s1 > 0
                      ELSE abs(r1 - b1s - g12*b2s) <= gam + 1e-12 END)
            AND (CASE WHEN s2 <> 0 THEN b2s*s2 > 0
                      ELSE abs(r2 - g12*b1s - b2s) <= gam + 1e-12 END)
          QUALIFY ROW_NUMBER() OVER (
            PARTITION BY t, alpha, lambda, eq
            ORDER BY abs(s1) + abs(s2), s1, s2) = 1),
        scored AS (
          SELECT k.eq, k.alpha, k.lambda, k.alpha_out, k.lambda_out, k.t,
                 sqrt(AVG(pow(
                   (CASE WHEN k.eq = 'r' THEN m.y_r ELSE m.y_q END)
                   - (k.b1*m.x1 + k.b2*m.x2), 2))) AS origin_rmse
          FROM kkt k JOIN emb m ON m.rn BETWEEN k.t + 1 AND k.t + {horizon}
          GROUP BY ALL),
        cell AS (
          SELECT eq, alpha, lambda, alpha_out, lambda_out,
                 AVG(origin_rmse) AS rmse
          FROM scored GROUP BY ALL),
        best AS (
          SELECT eq, alpha_out, lambda_out, rmse
          FROM cell
          QUALIFY ROW_NUMBER() OVER (
            PARTITION BY eq ORDER BY rmse, alpha, lambda) = 1)
        SELECT CASE WHEN eq = 'r' THEN 'revenue' ELSE 'quantity' END
                 AS equation,
               alpha_out AS alpha, lambda_out AS lambda,
               ROUND(rmse, {dp}) AS rmse
        FROM best ORDER BY equation
    """


ORACLE["ml_tune_best"] = _tune_oracle_sql(6)


@query("ml_ezlasso_select", None)
def ml_ezlasso_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M14 ezlasso at α=0, hash-gated END TO END (oracle registered
    below): the caret timeSlice λ tuner (expanding-window origins over
    the reference's 100-point 10^[2,-2] grid), full-sample ridge refit
    at λ.best via the standardized 2×2 closed form, and quirk-Q6
    SIGNED coefficient ranking with the target prepended — every stage
    replayed in SQL. Output carries the tuned λ and refit coefficients
    so the hash covers the numbers, not just the selection order.
    The α>0 path stays pinned in tests/test_tuning.py."""
    from .ml.tuning import ezlasso

    daily = _daily_events(spark, sf_dir)
    wide = (
        daily.groupBy("obs_date")
        .pivot("series_id", ["click", "purchase", "view"])
        .agg(F.first("value"))
    )
    n = wide.dropna().count()
    sel, best_lam, coefs = ezlasso(
        spark, wide, "click", ["purchase", "view"],
        alpha=0.0, maxnrvar=2, init_window=max(n // 2, 8), horizon=1,
        return_details=True,
    )
    rows = [(0, "click", 0.0, round(best_lam, 6))]
    for i, s in enumerate(sel[1:], start=1):
        rows.append((i, s, round(coefs[s], 6), round(best_lam, 6)))
    return spark.createDataFrame(
        rows, "rank int, series string, coef double, best_lambda double"
    )


def _register_ezlasso_oracle() -> None:
    import numpy as np

    grid = sorted(float(l) for l in 10 ** np.linspace(2, -2, 100))
    lam_rows = ", ".join(f"({float(l)!r})" for l in grid)
    det = "((1+b.lam)*(1+b.lam) - fm.rho*fm.rho)"
    a1 = "(fm.c1y/fm.n/fm.s1)"
    a2 = "(fm.c2y/fm.n/fm.s2)"
    b1 = f"(((1+b.lam)*{a1} - fm.rho*{a2})/{det})/fm.s1"
    b2 = f"(((1+b.lam)*{a2} - fm.rho*{a1})/{det})/fm.s2"
    ORACLE["ml_ezlasso_select"] = (
        _DAILY_EVENTS_CTE
        + f""",
    wide AS (
      SELECT obs_date,
             MAX(CASE WHEN series_id = 'click' THEN value END) AS y,
             MAX(CASE WHEN series_id = 'purchase' THEN value END) AS x1,
             MAX(CASE WHEN series_id = 'view' THEN value END) AS x2
      FROM m GROUP BY 1),
    emb AS (
      SELECT ROW_NUMBER() OVER (ORDER BY obs_date) AS rn, y, x1, x2
      FROM wide
      WHERE y IS NOT NULL AND x1 IS NOT NULL AND x2 IS NOT NULL),
    par AS (SELECT GREATEST(CAST(FLOOR(COUNT(*)/2) AS INT), 8) AS iw,
                   1 AS horizon, COUNT(*) AS n_emb FROM emb),
    cum AS (
      SELECT rn, x1, x2, y,
             SUM(x1*x1) OVER w AS c11, SUM(x1*x2) OVER w AS c12,
             SUM(x2*x2) OVER w AS c22,
             SUM(x1*y) OVER w AS c1y, SUM(x2*y) OVER w AS c2y
      FROM emb
      WINDOW w AS (ORDER BY rn ROWS BETWEEN UNBOUNDED PRECEDING
                   AND CURRENT ROW)),
    origins AS (
      SELECT c.*, SQRT(c.c11/c.rn) AS s1, SQRT(c.c22/c.rn) AS s2,
             c.c12/SQRT(c.c11*c.c22) AS rho
      FROM cum c, par
      WHERE c.rn >= par.iw AND c.rn <= par.n_emb - par.horizon),
    grid AS (SELECT CAST(lam AS DOUBLE) AS lam FROM (VALUES {lam_rows}) g(lam)),
    sse AS (
      -- caret semantics: RMSE per resample (origin), then mean
      SELECT g.lam, o.rn AS orn,
             SUM(POW(t.x1 * (((1+g.lam)*(o.c1y/o.rn/o.s1) - o.rho*(o.c2y/o.rn/o.s2))
                             / ((1+g.lam)*(1+g.lam) - o.rho*o.rho)) / o.s1
                   + t.x2 * (((1+g.lam)*(o.c2y/o.rn/o.s2) - o.rho*(o.c1y/o.rn/o.s1))
                             / ((1+g.lam)*(1+g.lam) - o.rho*o.rho)) / o.s2
                   - t.y, 2)) / COUNT(*) AS mse_o
      FROM origins o CROSS JOIN grid g CROSS JOIN par
      JOIN emb t ON t.rn > o.rn AND t.rn <= o.rn + par.horizon
      GROUP BY g.lam, o.rn),
    best AS (
      SELECT lam FROM (
        SELECT lam, ROW_NUMBER() OVER (ORDER BY AVG(SQRT(mse_o)) ASC, lam ASC)
                 AS pick
        FROM sse GROUP BY lam) WHERE pick = 1),
    fm AS (
      SELECT * , SQRT(c11/n) AS s1, SQRT(c22/n) AS s2,
             c12/SQRT(c11*c22) AS rho
      FROM (SELECT CAST(COUNT(*) AS DOUBLE) AS n,
                   SUM(x1*x1) AS c11, SUM(x1*x2) AS c12, SUM(x2*x2) AS c22,
                   SUM(x1*y) AS c1y, SUM(x2*y) AS c2y
            FROM emb)),
    coefs AS (
      SELECT 'purchase' AS series, 1 AS ord, {b1} AS coef FROM fm, best b
      UNION ALL
      SELECT 'view', 2, {b2} FROM fm, best b)
    SELECT CAST(0 AS INT) AS rank, 'click' AS series,
           CAST(0.0 AS DOUBLE) AS coef,
           ROUND((SELECT lam FROM best), 6) AS best_lambda
    UNION ALL
    SELECT CAST(ROW_NUMBER() OVER (ORDER BY coef DESC, ord ASC) AS INT),
           series, ROUND(coef, 6), ROUND((SELECT lam FROM best), 6)
    FROM coefs
    """
    )


_register_ezlasso_oracle()


@query("ml_ezlasso_enet", None)  # oracle registered below
def ml_ezlasso_enet(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M14 ezlasso at α=0.5 — closes the last pytest-only corner of
    the tuner family (the α=0 flavor is ``ml_ezlasso_select``): the
    caret timeSlice λ tuner over the reference's 100-point grid, the
    full-sample refit at λ.best, and the ``rank_abs`` |coef| ranking
    (the fix-mode flag, so BOTH ranking branches are now query-gated
    — Q6 signed ranking is gated by ``ml_ezlasso_select``). The
    DuckDB twin replays every (origin, λ) cell and the refit with
    the exact 3² KKT sign-pattern enumeration; engine and oracle
    both land on the unique strictly-convex minimizer, so no
    iteration appears on either side. Reference: enetVAR.R:617-641."""
    from .ml.tuning import ezlasso

    daily = _daily_events(spark, sf_dir)
    wide = (
        daily.groupBy("obs_date")
        .pivot("series_id", ["click", "purchase", "view"])
        .agg(F.first("value"))
    )
    n = wide.dropna().count()
    sel, best_lam, coefs = ezlasso(
        spark, wide, "click", ["purchase", "view"],
        alpha=0.5, maxnrvar=2, init_window=max(n // 2, 8), horizon=1,
        rank_abs=True, return_details=True,
    )
    rows = [(0, "click", 0.0, round(best_lam, 6))]
    for i, s in enumerate(sel[1:], start=1):
        rows.append((i, s, round(coefs[s], 6), round(best_lam, 6)))
    return spark.createDataFrame(
        rows, "rank int, series string, coef double, best_lambda double"
    ).orderBy("rank")


def _register_ezlasso_enet_oracle(alpha: float = 0.5) -> None:
    import numpy as np

    grid = sorted(float(l) for l in 10 ** np.linspace(2, -2, 100))
    lam_rows = ", ".join(f"(CAST({float(l)!r} AS DOUBLE))" for l in grid)
    signs = "(VALUES (-1),(0),(1))"
    # per-cell exact solve: masked 2x2 ridge system + KKT filter
    # (same construction as _tune_oracle_sql, shared doc there)
    solve_cols = f"""
            CASE WHEN s1 <> 0 THEN 1.0 + ridge ELSE 1.0 END AS m11,
            CASE WHEN s2 <> 0 THEN 1.0 + ridge ELSE 1.0 END AS m22,
            CASE WHEN s1 <> 0 AND s2 <> 0 THEN rho ELSE 0.0 END AS m12,
            CASE WHEN s1 <> 0 THEN r1 - gam*s1 ELSE 0.0 END AS rh1,
            CASE WHEN s2 <> 0 THEN r2 - gam*s2 ELSE 0.0 END AS rh2"""
    bexpr = """
            (rh1*m22 - m12*rh2)/(m11*m22 - m12*m12) AS b1s,
            (m11*rh2 - m12*rh1)/(m11*m22 - m12*m12) AS b2s"""
    kkt = """
          (CASE WHEN s1 <> 0 THEN b1s*s1 > 0
                ELSE abs(r1 - b1s - rho*b2s) <= gam + 1e-12 END)
      AND (CASE WHEN s2 <> 0 THEN b2s*s2 > 0
                ELSE abs(r2 - rho*b1s - b2s) <= gam + 1e-12 END)"""
    ORACLE["ml_ezlasso_enet"] = (
        _DAILY_EVENTS_CTE
        + f""",
    wide AS (
      SELECT obs_date,
             MAX(CASE WHEN series_id = 'click' THEN value END) AS y,
             MAX(CASE WHEN series_id = 'purchase' THEN value END) AS x1,
             MAX(CASE WHEN series_id = 'view' THEN value END) AS x2
      FROM m GROUP BY 1),
    emb AS (
      SELECT ROW_NUMBER() OVER (ORDER BY obs_date) AS rn, y, x1, x2
      FROM wide
      WHERE y IS NOT NULL AND x1 IS NOT NULL AND x2 IS NOT NULL),
    par AS (SELECT GREATEST(CAST(FLOOR(COUNT(*)/2) AS INT), 8) AS iw,
                   1 AS horizon, COUNT(*) AS n_emb FROM emb),
    cum AS (
      SELECT rn, x1, x2, y,
             SUM(x1*x1) OVER w AS c11, SUM(x1*x2) OVER w AS c12,
             SUM(x2*x2) OVER w AS c22,
             SUM(x1*y) OVER w AS c1y, SUM(x2*y) OVER w AS c2y
      FROM emb
      WINDOW w AS (ORDER BY rn ROWS BETWEEN UNBOUNDED PRECEDING
                   AND CURRENT ROW)),
    origins AS MATERIALIZED (
      SELECT c.rn, SQRT(c.c11/c.rn) AS sc1, SQRT(c.c22/c.rn) AS sc2,
             c.c12/SQRT(c.c11*c.c22) AS rho,
             c.c1y/c.rn/SQRT(c.c11/c.rn) AS r1,
             c.c2y/c.rn/SQRT(c.c22/c.rn) AS r2
      FROM cum c, par
      WHERE c.rn >= par.iw AND c.rn <= par.n_emb - par.horizon),
    grid AS (SELECT lam FROM (VALUES {lam_rows}) g(lam)),
    patterns AS (SELECT p1.col0 AS s1, p2.col0 AS s2
                 FROM {signs} p1, {signs} p2),
    cand AS (
      SELECT o.*, g.lam, p.s1, p.s2,
             g.lam*{alpha!r} AS gam, g.lam*{1.0 - alpha!r} AS ridge
      FROM origins o, grid g, patterns p),
    solved AS (SELECT *, {solve_cols} FROM cand),
    bstd AS (SELECT *, {bexpr} FROM solved),
    kkt AS MATERIALIZED (
      SELECT rn, lam, b1s/sc1 AS b1, b2s/sc2 AS b2
      FROM bstd WHERE {kkt}
      QUALIFY ROW_NUMBER() OVER (PARTITION BY rn, lam
        ORDER BY abs(s1) + abs(s2), s1, s2) = 1),
    rmse_o AS (
      -- caret semantics: RMSE per resample (origin), then mean
      SELECT k.lam, k.rn,
             SQRT(SUM(POW(t.x1*k.b1 + t.x2*k.b2 - t.y, 2)) / COUNT(*))
               AS rmse
      FROM kkt k, par
      JOIN emb t ON t.rn > k.rn AND t.rn <= k.rn + par.horizon
      GROUP BY k.lam, k.rn),
    best AS MATERIALIZED (
      SELECT lam FROM (
        SELECT lam, ROW_NUMBER() OVER (ORDER BY AVG(rmse) ASC, lam ASC)
                 AS pick
        FROM rmse_o GROUP BY lam) WHERE pick = 1),
    fm AS (
      SELECT SQRT(c11/n) AS sc1, SQRT(c22/n) AS sc2,
             c12/SQRT(c11*c22) AS rho,
             c1y/n/SQRT(c11/n) AS r1, c2y/n/SQRT(c22/n) AS r2
      FROM (SELECT CAST(COUNT(*) AS DOUBLE) AS n,
                   SUM(x1*x1) AS c11, SUM(x1*x2) AS c12, SUM(x2*x2) AS c22,
                   SUM(x1*y) AS c1y, SUM(x2*y) AS c2y
            FROM emb)),
    rcand AS (
      SELECT fm.*, b.lam, p.s1, p.s2,
             b.lam*{alpha!r} AS gam, b.lam*{1.0 - alpha!r} AS ridge
      FROM fm, best b, patterns p),
    rsolved AS (SELECT *, {solve_cols} FROM rcand),
    rbstd AS (SELECT *, {bexpr} FROM rsolved),
    refit AS MATERIALIZED (
      SELECT b1s/sc1 AS b1, b2s/sc2 AS b2
      FROM rbstd WHERE {kkt}
      QUALIFY ROW_NUMBER() OVER (ORDER BY abs(s1) + abs(s2), s1, s2) = 1),
    coefs AS (
      SELECT 'purchase' AS series, 1 AS ord, b1 AS coef FROM refit
      UNION ALL
      SELECT 'view', 2, b2 FROM refit)
    SELECT CAST(0 AS INT) AS rank, 'click' AS series,
           CAST(0.0 AS DOUBLE) AS coef,
           ROUND((SELECT lam FROM best), 6) AS best_lambda
    UNION ALL
    SELECT CAST(ROW_NUMBER() OVER (ORDER BY abs(coef) DESC, ord ASC) AS INT),
           series, ROUND(coef, 6), ROUND((SELECT lam FROM best), 6)
    FROM coefs
    ORDER BY rank
    """
    )


_register_ezlasso_enet_oracle()


@query("ml_cv_lambda_min", None)  # oracle generated below
def ml_cv_lambda_min(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M3 + cv.glmnet λ.min, hash-gated END TO END — the last
    pytest-only ML area (VERDICT r2 item 1 follow-through): blocked
    contiguous time folds (enetVAR.R:27-35), the data-derived glmnet
    λ path (λmax = max|x̃'ỹ|/n·max(α,1e-3), 100 log-spaced points to
    λmax·1e-4), per-fold train = total − fold moments, the α=0.5
    fits on every (fold, λ) cell, the grouped fold-size-weighted CV
    mean, λ.min first-minimum selection, and the full-sample
    coefficients at λ.min. Engine: ONE distributed per-fold Gram
    pass (compute_moments fold_col) → driver cv_enet per equation;
    oracle: every stage replayed in SQL with exact 3² KKT
    sign-pattern solves per cell."""
    from .ml.elastic_net import cv_enet
    from .ml.gram import blocked_fold_column, compute_moments
    from .operators.lag_embed import lag_col_name, na_omit, var_z

    wide = _quarterly_pair(spark, sf_dir)
    series = ["revenue", "quantity"]
    vz = var_z(wide.select("obs_date", *series), series, 1,
               date_col="obs_date")
    z_cols = [lag_col_name(s, 1) for s in series]
    frame = blocked_fold_column(na_omit(vz.df, z_cols + series), "obs_date", 10)
    fm = compute_moments(frame, z_cols + series, fold_col="__fold")
    rows = []
    for s in series:
        fit = cv_enet(fm, z_cols, s, alpha=0.5, intercept=True)
        b, a0 = fit.coef_at(fit.lambda_min)
        lam6 = round(float(fit.lambda_min), 6)
        rows.append((s, "intercept", round(float(a0), 6), lam6))
        rows.extend(
            (s, zn, round(float(b[i]), 6), lam6)
            for i, zn in enumerate(z_cols)
        )
    return spark.createDataFrame(
        rows, "equation string, z_name string, coef double, lambda_min double"
    ).orderBy("equation", "z_name")


def _cv_lambda_min_oracle_sql(
    alpha: float = 0.5, nlambda: int = 100, block: int = 10, dp: int = 6
) -> str:
    """Full SQL replay of ``ml_cv_lambda_min`` (see the query
    docstring): contiguous ``(rank−1)//block`` folds, the λ path
    from the TOTAL centered-standardized problem, per-(equation,
    fold, λ) exact KKT solves on train = total − fold moments,
    glmnet's grouped (fold-size-weighted) CV mean, λ.min = the
    first minimum in path order (λ descending), and the full-sample
    refit at λ.min."""
    signs = "(VALUES (-1),(0),(1))"
    # standardized-problem columns from raw moment sums, centered
    # (intercept=True): given prefix n_, s1_, s2_, sy_, c11_... emit
    # mx/sc/r for an equation-specific y
    def std(prefix: str) -> str:
        p = prefix
        return f"""
             {p}s1/{p}n AS {p}mx1, {p}s2/{p}n AS {p}mx2,
             {p}sy/{p}n AS {p}my,
             sqrt({p}c11/{p}n - ({p}s1/{p}n)*({p}s1/{p}n)) AS {p}sc1,
             sqrt({p}c22/{p}n - ({p}s2/{p}n)*({p}s2/{p}n)) AS {p}sc2,
             ({p}c12/{p}n - ({p}s1/{p}n)*({p}s2/{p}n))
               / (sqrt({p}c11/{p}n - ({p}s1/{p}n)*({p}s1/{p}n))
                  * sqrt({p}c22/{p}n - ({p}s2/{p}n)*({p}s2/{p}n))) AS {p}rho,
             ({p}c1y/{p}n - ({p}s1/{p}n)*({p}sy/{p}n))
               / sqrt({p}c11/{p}n - ({p}s1/{p}n)*({p}s1/{p}n)) AS {p}r1,
             ({p}c2y/{p}n - ({p}s2/{p}n)*({p}sy/{p}n))
               / sqrt({p}c22/{p}n - ({p}s2/{p}n)*({p}s2/{p}n)) AS {p}r2"""

    solve = f"""
            CASE WHEN s1 <> 0 THEN 1.0 + ridge ELSE 1.0 END AS m11,
            CASE WHEN s2 <> 0 THEN 1.0 + ridge ELSE 1.0 END AS m22,
            CASE WHEN s1 <> 0 AND s2 <> 0 THEN t_rho ELSE 0.0 END AS m12,
            CASE WHEN s1 <> 0 THEN t_r1 - gam*s1 ELSE 0.0 END AS rh1,
            CASE WHEN s2 <> 0 THEN t_r2 - gam*s2 ELSE 0.0 END AS rh2"""
    bexpr = """
            (rh1*m22 - m12*rh2)/(m11*m22 - m12*m12) AS b1s,
            (m11*rh2 - m12*rh1)/(m11*m22 - m12*m12) AS b2s"""
    kkt = """
          (CASE WHEN s1 <> 0 THEN b1s*s1 > 0
                ELSE abs(t_r1 - b1s - t_rho*b2s) <= gam + 1e-12 END)
      AND (CASE WHEN s2 <> 0 THEN b2s*s2 > 0
                ELSE abs(t_r2 - t_rho*b1s - b2s) <= gam + 1e-12 END)"""
    a = repr(alpha)
    amax = repr(max(alpha, 1e-3))
    return f"""
        WITH q AS ({_QPAIR_SQL}),
        lagged AS (
          SELECT obs_date, revenue AS y_r, quantity AS y_q,
                 LAG(revenue,1) OVER w AS x1, LAG(quantity,1) OVER w AS x2
          FROM q WINDOW w AS (ORDER BY obs_date)
          QUALIFY x1 IS NOT NULL AND x2 IS NOT NULL),
        fr AS (
          SELECT *, CAST(FLOOR((ROW_NUMBER() OVER (ORDER BY obs_date) - 1)
                               / {block}) AS INT) AS fold
          FROM lagged),
        eqs AS (SELECT * FROM (VALUES ('r'), ('q')) e(eq)),
        fm AS MATERIALIZED (
          SELECT e.eq, f.fold, CAST(COUNT(*) AS DOUBLE) AS f_n,
                 SUM(x1) AS f_s1, SUM(x2) AS f_s2,
                 SUM(CASE WHEN e.eq = 'r' THEN y_r ELSE y_q END) AS f_sy,
                 SUM(x1*x1) AS f_c11, SUM(x1*x2) AS f_c12,
                 SUM(x2*x2) AS f_c22,
                 SUM(x1*(CASE WHEN e.eq = 'r' THEN y_r ELSE y_q END)) AS f_c1y,
                 SUM(x2*(CASE WHEN e.eq = 'r' THEN y_r ELSE y_q END)) AS f_c2y,
                 SUM(POW(CASE WHEN e.eq = 'r' THEN y_r ELSE y_q END, 2)) AS f_cyy
          FROM fr f, eqs e GROUP BY 1, 2),
        tot AS MATERIALIZED (
          SELECT eq, SUM(f_n) AS t_n, SUM(f_s1) AS t_s1, SUM(f_s2) AS t_s2,
                 SUM(f_sy) AS t_sy, SUM(f_c11) AS t_c11,
                 SUM(f_c12) AS t_c12, SUM(f_c22) AS t_c22,
                 SUM(f_c1y) AS t_c1y, SUM(f_c2y) AS t_c2y
          FROM fm GROUP BY 1),
        tstd AS (SELECT eq, t_n, {std("t_")} FROM tot),
        -- glmnet λ path from the TOTAL standardized problem
        path AS MATERIALIZED (
          SELECT t.eq, i.range AS li,
                 exp(ln(GREATEST(abs(t.t_r1), abs(t.t_r2)) / {amax})
                     + i.range * ln(1e-4) / ({nlambda} - 1)) AS lam
          FROM tstd t, range(0, {nlambda}) i),
        -- train = total − fold, standardized per (eq, fold)
        train AS (
          SELECT f.eq, f.fold,
                 t.t_n - f.f_n AS t_n, t.t_s1 - f.f_s1 AS t_s1,
                 t.t_s2 - f.f_s2 AS t_s2, t.t_sy - f.f_sy AS t_sy,
                 t.t_c11 - f.f_c11 AS t_c11, t.t_c12 - f.f_c12 AS t_c12,
                 t.t_c22 - f.f_c22 AS t_c22, t.t_c1y - f.f_c1y AS t_c1y,
                 t.t_c2y - f.f_c2y AS t_c2y
          FROM fm f JOIN tot t USING (eq)),
        tr_std AS (SELECT eq, fold, t_n, {std("t_")} FROM train),
        patterns AS (SELECT p1.col0 AS s1, p2.col0 AS s2
                     FROM {signs} p1, {signs} p2),
        cells AS (
          SELECT s.*, p.li, p.lam, pt.s1, pt.s2,
                 p.lam*{a} AS gam, p.lam*(1.0-{a}) AS ridge
          FROM tr_std s JOIN path p USING (eq), patterns pt),
        solved AS (SELECT *, {solve} FROM cells),
        bstd AS (SELECT *, {bexpr} FROM solved),
        fit AS MATERIALIZED (
          SELECT eq, fold, li, lam,
                 b1s/t_sc1 AS b1, b2s/t_sc2 AS b2,
                 t_my - (b1s/t_sc1)*t_mx1 - (b2s/t_sc2)*t_mx2 AS a0
          FROM bstd WHERE {kkt}
          QUALIFY ROW_NUMBER() OVER (PARTITION BY eq, fold, li
            ORDER BY abs(s1) + abs(s2), s1, s2) = 1),
        -- held-out MSE from the fold's own moments
        errs AS (
          SELECT ft.eq, ft.li, ft.lam, f.f_n,
                 (f.f_cyy - 2*(ft.b1*f.f_c1y + ft.b2*f.f_c2y)
                  + (ft.b1*ft.b1*f.f_c11 + 2*ft.b1*ft.b2*f.f_c12
                     + ft.b2*ft.b2*f.f_c22)
                  + f.f_n*ft.a0*ft.a0
                  + 2*ft.a0*(ft.b1*f.f_s1 + ft.b2*f.f_s2 - f.f_sy))
                 / f.f_n AS mse
          FROM fit ft JOIN fm f ON f.eq = ft.eq AND f.fold = ft.fold),
        cvm AS (
          SELECT eq, li, lam,
                 SUM(f_n * mse) / SUM(f_n) AS cvm
          FROM errs GROUP BY 1, 2, 3),
        best AS MATERIALIZED (
          SELECT eq, li AS bli, lam AS blam FROM cvm
          QUALIFY ROW_NUMBER() OVER (PARTITION BY eq
            ORDER BY cvm ASC, li ASC) = 1),
        -- full-sample refit at λ.min
        rcells AS (
          SELECT s.*, b.blam AS lam, pt.s1, pt.s2,
                 b.blam*{a} AS gam, b.blam*(1.0-{a}) AS ridge
          FROM tstd s JOIN best b USING (eq), patterns pt),
        rsolved AS (SELECT *, {solve} FROM rcells),
        rbstd AS (SELECT *, {bexpr} FROM rsolved),
        refit AS MATERIALIZED (
          SELECT eq, lam, b1s/t_sc1 AS b1, b2s/t_sc2 AS b2,
                 t_my - (b1s/t_sc1)*t_mx1 - (b2s/t_sc2)*t_mx2 AS a0
          FROM rbstd WHERE {kkt}
          QUALIFY ROW_NUMBER() OVER (PARTITION BY eq
            ORDER BY abs(s1) + abs(s2), s1, s2) = 1)
        SELECT CASE WHEN eq = 'r' THEN 'revenue' ELSE 'quantity' END
                 AS equation,
               'intercept' AS z_name, ROUND(a0, {dp}) AS coef,
               ROUND(lam, {dp}) AS lambda_min
        FROM refit
        UNION ALL
        SELECT CASE WHEN eq = 'r' THEN 'revenue' ELSE 'quantity' END,
               'revenue.l1', ROUND(b1, {dp}), ROUND(lam, {dp}) FROM refit
        UNION ALL
        SELECT CASE WHEN eq = 'r' THEN 'revenue' ELSE 'quantity' END,
               'quantity.l1', ROUND(b2, {dp}), ROUND(lam, {dp}) FROM refit
        ORDER BY equation, z_name
    """


ORACLE["ml_cv_lambda_min"] = _cv_lambda_min_oracle_sql()


@query("ml_sigma_ic", None)  # oracle generated below
def ml_sigma_ic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A5 + M6 + M10 hash-gated: residual covariance Σ̂ from the
    moment matrix alone, det Σ̂, the elastic-net degrees of freedom
    (trace of the ridge hat matrix over each equation's active set,
    enetVAR.R:177-202 incl. its λ/2 ridge term), and FPE/AIC/HQ/SC —
    for the ridge VAR(1) fit on the quarterly pair. The DuckDB twin
    replays the fit (Cramer), the full Σ̂ = (Y−ZB)'(Y−ZB)/T algebra
    over Z = [1, lags], and the 3×3 hat-trace via cofactor
    determinants."""
    import numpy as np

    from .ml.var_model import fit_enet_var

    wide = _quarterly_pair(spark, sf_dir)
    m = fit_enet_var(
        wide, ["revenue", "quantity"], p=1, alpha=0.0, lam=0.05,
        intercept=True,
    )
    B = m.coef_matrix()
    S = m._sigma_hat(B)
    ic = m.inf_crit()
    rows = [
        ("AIC", round(float(ic["AIC"]), 6)),
        ("FPE", round(float(ic["FPE"]), 6)),
        ("HQ", round(float(ic["HQ"]), 6)),
        ("SC", round(float(ic["SC"]), 6)),
        ("det", round(float(np.linalg.det(S)), 6)),
        ("dof", round(float(ic["dof"]), 6)),
        ("sigma_qq", round(float(S[1, 1]), 6)),
        ("sigma_rq", round(float(S[0, 1]), 6)),
        ("sigma_rr", round(float(S[0, 0]), 6)),
    ]
    return spark.createDataFrame(rows, "metric string, value double").orderBy(
        "metric"
    )


def _sigma_ic_oracle_sql(lam: float = 0.05, dp: int = 6) -> str:
    """SQL replay of ``ml_sigma_ic``: centered-standardized ridge
    solve (Cramer) → original-scale (a0, b1, b2) per equation →
    Σ̂ = (Syy − B'Szy − Szy'B + B'SzzB)/T over raw Z = [1, x1, x2] →
    det/log-det → dof = Σ_eq trace((Szz + r·I)⁻¹·Szz) with
    r = λ·(1−α)/2 (the reference's ridge term) via 3×3 cofactor
    determinants → FPE/AIC/HQ/SC."""
    r = repr(lam * 0.5)  # α = 0 ⇒ λ·(1−α)/2 = λ/2
    # raw 3×3 Szz entries by name
    Z = [["n", "s1", "s2"], ["s1", "c11", "c12"], ["s2", "c12", "c22"]]
    Zr = [
        [f"({Z[i][j]} + {r})" if i == j else Z[i][j] for j in range(3)]
        for i in range(3)
    ]
    det_zr = _det_sql(Zr)

    def minor(mat, i, j):
        return [
            [mat[a][b] for b in range(3) if b != j]
            for a in range(3)
            if a != i
        ]

    tr_inv = " + ".join(f"({_det_sql(minor(Zr, i, i))})" for i in range(3))
    # per-equation original-scale coefs from the centered 2×2 ridge
    # solve (same construction as _ridge_oracle_sql at p=1)
    coef_cols = []
    for e in ("r", "q"):
        det2 = "((1.0+lam)*(1.0+lam) - rho*rho)"
        b1s = f"(((1.0+lam)*r1_{e} - rho*r2_{e})/{det2})"
        b2s = f"(((1.0+lam)*r2_{e} - rho*r1_{e})/{det2})"
        coef_cols += [
            f"{b1s}/sc1 AS b1_{e}",
            f"{b2s}/sc2 AS b2_{e}",
            f"my_{e} - ({b1s}/sc1)*mx1 - ({b2s}/sc2)*mx2 AS a0_{e}",
        ]

    def u(e):  # coefficient 3-vector over Z = [1, x1, x2]
        return [f"a0_{e}", f"b1_{e}", f"b2_{e}"]

    def zy(e):  # Szy column for equation e
        return [f"sy_{e}", f"c1y_{e}", f"c2y_{e}"]

    def dot(a, b):
        return " + ".join(f"({x})*({y})" for x, y in zip(a, b))

    def quad(a, b):  # a' Szz b
        return " + ".join(
            f"({a[i]})*({Z[i][j]})*({b[j]})" for i in range(3) for j in range(3)
        )

    syy = {("r", "r"): "cyy_r", ("q", "q"): "cyy_q",
           ("r", "q"): "cyy_rq", ("q", "r"): "cyy_rq"}
    sig = {}
    for e1, e2 in (("r", "r"), ("r", "q"), ("q", "q")):
        sig[e1 + e2] = (
            f"(({syy[(e1, e2)]} - ({dot(u(e1), zy(e2))})"
            f" - ({dot(u(e2), zy(e1))}) + ({quad(u(e1), u(e2))})) / n)"
        )

    return f"""
        WITH q AS ({_QPAIR_SQL}),
        lagged AS (
          SELECT revenue AS y_r, quantity AS y_q,
                 LAG(revenue,1) OVER w AS x1, LAG(quantity,1) OVER w AS x2
          FROM q WINDOW w AS (ORDER BY obs_date)
          QUALIFY x1 IS NOT NULL AND x2 IS NOT NULL),
        mom AS (
          SELECT CAST(COUNT(*) AS DOUBLE) AS n,
                 SUM(x1) AS s1, SUM(x2) AS s2,
                 SUM(y_r) AS sy_r, SUM(y_q) AS sy_q,
                 SUM(x1*x1) AS c11, SUM(x1*x2) AS c12, SUM(x2*x2) AS c22,
                 SUM(x1*y_r) AS c1y_r, SUM(x2*y_r) AS c2y_r,
                 SUM(x1*y_q) AS c1y_q, SUM(x2*y_q) AS c2y_q,
                 SUM(y_r*y_r) AS cyy_r, SUM(y_q*y_q) AS cyy_q,
                 SUM(y_r*y_q) AS cyy_rq
          FROM lagged),
        std AS (
          SELECT *, CAST({lam!r} AS DOUBLE) AS lam,
                 s1/n AS mx1, s2/n AS mx2, sy_r/n AS my_r, sy_q/n AS my_q,
                 sqrt(c11/n - (s1/n)*(s1/n)) AS sc1,
                 sqrt(c22/n - (s2/n)*(s2/n)) AS sc2,
                 (c12/n - (s1/n)*(s2/n))
                   / (sqrt(c11/n - (s1/n)*(s1/n))
                      * sqrt(c22/n - (s2/n)*(s2/n))) AS rho,
                 (c1y_r/n - (s1/n)*(sy_r/n))
                   / sqrt(c11/n - (s1/n)*(s1/n)) AS r1_r,
                 (c2y_r/n - (s2/n)*(sy_r/n))
                   / sqrt(c22/n - (s2/n)*(s2/n)) AS r2_r,
                 (c1y_q/n - (s1/n)*(sy_q/n))
                   / sqrt(c11/n - (s1/n)*(s1/n)) AS r1_q,
                 (c2y_q/n - (s2/n)*(sy_q/n))
                   / sqrt(c22/n - (s2/n)*(s2/n)) AS r2_q
          FROM mom),
        coefs AS (SELECT *, {", ".join(coef_cols)} FROM std),
        sig AS (SELECT *,
                 {sig["rr"]} AS sig_rr, {sig["rq"]} AS sig_rq,
                 {sig["qq"]} AS sig_qq FROM coefs),
        ic AS (
          SELECT *,
                 sig_rr*sig_qq - sig_rq*sig_rq AS det2,
                 -- dof: both equations share the all-active 3×3 hat
                 -- trace = 3 − r·trace((Szz + rI)⁻¹)
                 2.0*(3.0 - {r}*(({tr_inv})/({det_zr}))) AS dof
          FROM sig)
        SELECT 'AIC' AS metric,
               ROUND(ln(det2) + 2.0/n*dof, {dp}) AS value FROM ic
        UNION ALL SELECT 'FPE',
               ROUND((1.0 + dof/n)/(1.0 - dof/n)*det2, {dp}) FROM ic
        UNION ALL SELECT 'HQ',
               ROUND(ln(det2) + 2.0*ln(ln(n))/n*dof, {dp}) FROM ic
        UNION ALL SELECT 'SC',
               ROUND(ln(det2) + ln(n)/n*dof, {dp}) FROM ic
        UNION ALL SELECT 'det', ROUND(det2, {dp}) FROM ic
        UNION ALL SELECT 'dof', ROUND(dof, {dp}) FROM ic
        UNION ALL SELECT 'sigma_qq', ROUND(sig_qq, {dp}) FROM ic
        UNION ALL SELECT 'sigma_rq', ROUND(sig_rq, {dp}) FROM ic
        UNION ALL SELECT 'sigma_rr', ROUND(sig_rr, {dp}) FROM ic
        ORDER BY metric
    """


ORACLE["ml_sigma_ic"] = _sigma_ic_oracle_sql()


@query("ml_recursive_forecast", None)  # oracle generated below
def ml_recursive_forecast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M5 hash-gated: the recursive h-step VAR forecast
    (enetVAR.R:128-154 — each step's prediction is appended to the
    lag window and fed to the next) for the ridge VAR(1) on the
    quarterly pair, horizons 1..4. The DuckDB twin solves the same
    fit by Cramer and unrolls the recursion as chained CTEs from the
    last observed row."""
    from .ml.var_model import fit_enet_var

    wide = _quarterly_pair(spark, sf_dir)
    m = fit_enet_var(
        wide, ["revenue", "quantity"], p=1, alpha=0.0, lam=0.05,
        intercept=True,
    )
    P = m.predict(n_ahead=4)
    rows = [
        (h + 1, s, round(float(P[h, j]), 6))
        for h in range(4)
        for j, s in enumerate(m.series)
    ]
    return spark.createDataFrame(
        rows, "h int, series string, forecast double"
    ).orderBy("h", "series")


def _recursive_forecast_oracle_sql(lam: float = 0.05, dp: int = 6) -> str:
    """SQL replay of ``ml_recursive_forecast``: the ridge VAR(1)
    solve (shared construction with ``_sigma_ic_oracle_sql``) +
    4 chained one-row CTEs for the recursion."""
    coef_cols = []
    for e in ("r", "q"):
        det2 = "((1.0+lam)*(1.0+lam) - rho*rho)"
        b1s = f"(((1.0+lam)*r1_{e} - rho*r2_{e})/{det2})"
        b2s = f"(((1.0+lam)*r2_{e} - rho*r1_{e})/{det2})"
        coef_cols += [
            f"{b1s}/sc1 AS b1_{e}",
            f"{b2s}/sc2 AS b2_{e}",
            f"my_{e} - ({b1s}/sc1)*mx1 - ({b2s}/sc2)*mx2 AS a0_{e}",
        ]
    steps = []
    prev_r, prev_q = "l.yr", "l.yq"
    for h in range(1, 5):
        src = "coefs c, last l" if h == 1 else f"f{h - 1}"
        pfx = "c." if h == 1 else ""
        steps.append(
            f"f{h} AS (SELECT *, "
            f"{pfx}a0_r + {pfx}b1_r*{prev_r} + {pfx}b2_r*{prev_q} AS fr{h}, "
            f"{pfx}a0_q + {pfx}b1_q*{prev_r} + {pfx}b2_q*{prev_q} AS fq{h} "
            f"FROM {src})"
        )
        prev_r, prev_q = f"fr{h}", f"fq{h}"
    out_rows = " UNION ALL ".join(
        f"SELECT {h} AS h, '{name}' AS series, ROUND(f{c}{h}, {dp})"
        f" AS forecast FROM f4"
        for h in range(1, 5)
        for c, name in (("r", "revenue"), ("q", "quantity"))
    )
    return f"""
        WITH q AS ({_QPAIR_SQL}),
        lagged AS (
          SELECT revenue AS y_r, quantity AS y_q,
                 LAG(revenue,1) OVER w AS x1, LAG(quantity,1) OVER w AS x2
          FROM q WINDOW w AS (ORDER BY obs_date)
          QUALIFY x1 IS NOT NULL AND x2 IS NOT NULL),
        mom AS (
          SELECT CAST(COUNT(*) AS DOUBLE) AS n,
                 SUM(x1) AS s1, SUM(x2) AS s2,
                 SUM(y_r) AS sy_r, SUM(y_q) AS sy_q,
                 SUM(x1*x1) AS c11, SUM(x1*x2) AS c12, SUM(x2*x2) AS c22,
                 SUM(x1*y_r) AS c1y_r, SUM(x2*y_r) AS c2y_r,
                 SUM(x1*y_q) AS c1y_q, SUM(x2*y_q) AS c2y_q
          FROM lagged),
        std AS (
          SELECT *, CAST({lam!r} AS DOUBLE) AS lam,
                 s1/n AS mx1, s2/n AS mx2, sy_r/n AS my_r, sy_q/n AS my_q,
                 sqrt(c11/n - (s1/n)*(s1/n)) AS sc1,
                 sqrt(c22/n - (s2/n)*(s2/n)) AS sc2,
                 (c12/n - (s1/n)*(s2/n))
                   / (sqrt(c11/n - (s1/n)*(s1/n))
                      * sqrt(c22/n - (s2/n)*(s2/n))) AS rho,
                 (c1y_r/n - (s1/n)*(sy_r/n))
                   / sqrt(c11/n - (s1/n)*(s1/n)) AS r1_r,
                 (c2y_r/n - (s2/n)*(sy_r/n))
                   / sqrt(c22/n - (s2/n)*(s2/n)) AS r2_r,
                 (c1y_q/n - (s1/n)*(sy_q/n))
                   / sqrt(c11/n - (s1/n)*(s1/n)) AS r1_q,
                 (c2y_q/n - (s2/n)*(sy_q/n))
                   / sqrt(c22/n - (s2/n)*(s2/n)) AS r2_q
          FROM mom),
        coefs AS (SELECT *, {", ".join(coef_cols)} FROM std),
        last AS (SELECT revenue AS yr, quantity AS yq FROM q
                 ORDER BY obs_date DESC LIMIT 1),
        {", ".join(steps)}
        {out_rows}
        ORDER BY h, series
    """


ORACLE["ml_recursive_forecast"] = _recursive_forecast_oracle_sql()


@query("ml_preselect", None)  # oracle generated below
def ml_preselect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M12 greedy SC preselection hash-gated (enetVAR.R:235-254):
    one forward round on the daily event series — each candidate
    scored by the SC of the joint α=0.25 VAR(1) fit with the target
    (fixed λ flavor; the CV chain is gated by ``ml_cv_lambda_min``),
    first-minimum argmin (Q8 fix). The oracle replays BOTH candidate
    fits (9-pattern KKT solves, uncentered intercept=False
    standardization), their Σ̂/dof/SC (active-set hat-trace on the
    raw Gram), and the selection."""
    from .ml.var_model import enet_var_preselect

    daily = _daily_events(spark, sf_dir)
    wide = (
        daily.groupBy("obs_date")
        .pivot("series_id", ["click", "purchase", "view"])
        .agg(F.first("value"))
    )
    sel, scores = enet_var_preselect(
        wide, ["click", "purchase", "view"], maxnrvar=2, lag=1,
        alpha=0.25, lam=0.01, return_scores=True,
    )
    rows = [
        (cand, round(float(scores[cand]), 6), 1 if sel[1] == cand else 0)
        for cand in ("purchase", "view")
    ]
    return spark.createDataFrame(
        rows, "series string, sc double, chosen int"
    ).orderBy("series")


def _preselect_oracle_sql(
    alpha: float = 0.25, lam: float = 0.01, dp: int = 6
) -> str:
    """SQL replay of ``ml_preselect`` — per candidate: lag embed with
    the pair's own na.omit, uncentered standardization, exact 3²
    KKT solves per equation, Σ̂ from raw moments, active-set dof
    hat-trace (masked 2×2), SC; then the first-min argmin."""
    gam = repr(lam * alpha)
    ridge = repr(lam * (1.0 - alpha))
    rr = repr(lam * 0.5 * (1.0 - alpha))  # inf_crit's ridge term
    signs = "(VALUES (-1),(0),(1))"
    blocks = []
    for c, cand in (("p", "purchase"), ("v", "view")):
        blocks.append(f"""
        lag_{c} AS (
          SELECT click AS ya, {cand} AS yb,
                 LAG(click) OVER w AS x1, LAG({cand}) OVER w AS x2
          FROM wide WINDOW w AS (ORDER BY obs_date)
          QUALIFY x1 IS NOT NULL AND x2 IS NOT NULL
                  AND ya IS NOT NULL AND yb IS NOT NULL),
        mom_{c} AS (
          SELECT CAST(COUNT(*) AS DOUBLE) AS n,
                 SUM(x1*x1) AS c11, SUM(x1*x2) AS c12, SUM(x2*x2) AS c22,
                 SUM(x1*ya) AS c1a, SUM(x2*ya) AS c2a,
                 SUM(x1*yb) AS c1b, SUM(x2*yb) AS c2b,
                 SUM(ya*ya) AS caa, SUM(yb*yb) AS cbb, SUM(ya*yb) AS cab
          FROM lag_{c}),
        std_{c} AS (
          SELECT *, sqrt(c11/n) AS sc1, sqrt(c22/n) AS sc2,
                 c12/sqrt(c11*c22) AS rho,
                 c1a/n/sqrt(c11/n) AS r1_a, c2a/n/sqrt(c22/n) AS r2_a,
                 c1b/n/sqrt(c11/n) AS r1_b, c2b/n/sqrt(c22/n) AS r2_b
          FROM mom_{c}),
        cells_{c} AS (
          SELECT s.*, e.eq, pt.s1, pt.s2,
                 CASE WHEN e.eq = 'a' THEN s.r1_a ELSE s.r1_b END AS t_r1,
                 CASE WHEN e.eq = 'a' THEN s.r2_a ELSE s.r2_b END AS t_r2
          FROM std_{c} s, (VALUES ('a'), ('b')) e(eq), patterns pt),
        solved_{c} AS (
          SELECT *,
            CASE WHEN s1 <> 0 THEN 1.0 + {ridge} ELSE 1.0 END AS m11,
            CASE WHEN s2 <> 0 THEN 1.0 + {ridge} ELSE 1.0 END AS m22,
            CASE WHEN s1 <> 0 AND s2 <> 0 THEN rho ELSE 0.0 END AS m12,
            CASE WHEN s1 <> 0 THEN t_r1 - {gam}*s1 ELSE 0.0 END AS rh1,
            CASE WHEN s2 <> 0 THEN t_r2 - {gam}*s2 ELSE 0.0 END AS rh2
          FROM cells_{c}),
        bstd_{c} AS (
          SELECT *,
            (rh1*m22 - m12*rh2)/(m11*m22 - m12*m12) AS b1s,
            (m11*rh2 - m12*rh1)/(m11*m22 - m12*m12) AS b2s
          FROM solved_{c}),
        fit_{c} AS (
          SELECT eq, s1, s2, b1s/sc1 AS b1, b2s/sc2 AS b2
          FROM bstd_{c}
          WHERE (CASE WHEN s1 <> 0 THEN b1s*s1 > 0
                      ELSE abs(t_r1 - b1s - rho*b2s) <= {gam} + 1e-12 END)
            AND (CASE WHEN s2 <> 0 THEN b2s*s2 > 0
                      ELSE abs(t_r2 - rho*b1s - b2s) <= {gam} + 1e-12 END)
          QUALIFY ROW_NUMBER() OVER (PARTITION BY eq
            ORDER BY abs(s1) + abs(s2), s1, s2) = 1),
        -- one row: both equations' coefs + active patterns
        w_{c} AS (
          SELECT m.*,
            MAX(CASE WHEN f.eq = 'a' THEN f.b1 END) AS ba1,
            MAX(CASE WHEN f.eq = 'a' THEN f.b2 END) AS ba2,
            MAX(CASE WHEN f.eq = 'b' THEN f.b1 END) AS bb1,
            MAX(CASE WHEN f.eq = 'b' THEN f.b2 END) AS bb2,
            MAX(CASE WHEN f.eq = 'a' THEN abs(f.s1) END) AS aa1,
            MAX(CASE WHEN f.eq = 'a' THEN abs(f.s2) END) AS aa2,
            MAX(CASE WHEN f.eq = 'b' THEN abs(f.s1) END) AS ab1,
            MAX(CASE WHEN f.eq = 'b' THEN abs(f.s2) END) AS ab2
          FROM fit_{c} f, mom_{c} m
          GROUP BY ALL),
        sc_{c} AS (
          SELECT
            -- Σ̂ = (Syy − B'Szy − Szy'B + B'SzzB)/n, entrywise
            ((caa - 2*(ba1*c1a + ba2*c2a)
              + (ba1*ba1*c11 + 2*ba1*ba2*c12 + ba2*ba2*c22)) / n) AS sig_aa,
            ((cbb - 2*(bb1*c1b + bb2*c2b)
              + (bb1*bb1*c11 + 2*bb1*bb2*c12 + bb2*bb2*c22)) / n) AS sig_bb,
            ((cab - (ba1*c1b + ba2*c2b) - (bb1*c1a + bb2*c2a)
              + (ba1*bb1*c11 + (ba1*bb2 + ba2*bb1)*c12 + ba2*bb2*c22)) / n)
              AS sig_ab,
            -- dof per equation: active-set hat-trace on the RAW Gram
            -- via the masked 2×2: n_act − r·(trace(M⁻¹) − n_inact)
            (aa1 + aa2) - {rr}*(
              ((CASE WHEN aa1 = 1 THEN c11 + {rr} ELSE 1.0 END)
               + (CASE WHEN aa2 = 1 THEN c22 + {rr} ELSE 1.0 END))
              / ((CASE WHEN aa1 = 1 THEN c11 + {rr} ELSE 1.0 END)
                 * (CASE WHEN aa2 = 1 THEN c22 + {rr} ELSE 1.0 END)
                 - (CASE WHEN aa1 = 1 AND aa2 = 1 THEN c12 ELSE 0.0 END)
                   * (CASE WHEN aa1 = 1 AND aa2 = 1 THEN c12 ELSE 0.0 END))
              - (2 - aa1 - aa2)) AS dof_a,
            (ab1 + ab2) - {rr}*(
              ((CASE WHEN ab1 = 1 THEN c11 + {rr} ELSE 1.0 END)
               + (CASE WHEN ab2 = 1 THEN c22 + {rr} ELSE 1.0 END))
              / ((CASE WHEN ab1 = 1 THEN c11 + {rr} ELSE 1.0 END)
                 * (CASE WHEN ab2 = 1 THEN c22 + {rr} ELSE 1.0 END)
                 - (CASE WHEN ab1 = 1 AND ab2 = 1 THEN c12 ELSE 0.0 END)
                   * (CASE WHEN ab1 = 1 AND ab2 = 1 THEN c12 ELSE 0.0 END))
              - (2 - ab1 - ab2)) AS dof_b,
            n
          FROM w_{c}),
        scv_{c} AS (
          SELECT ln(sig_aa*sig_bb - sig_ab*sig_ab)
                 + ln(n)/n*(dof_a + dof_b) AS sc
          FROM sc_{c})""")
    return (
        _DAILY_EVENTS_CTE
        + f""",
    wide AS (
      SELECT obs_date,
             MAX(CASE WHEN series_id = 'click' THEN value END) AS click,
             MAX(CASE WHEN series_id = 'purchase' THEN value END) AS purchase,
             MAX(CASE WHEN series_id = 'view' THEN value END) AS view
      FROM m GROUP BY 1),
    patterns AS (SELECT p1.col0 AS s1, p2.col0 AS s2
                 FROM {signs} p1, {signs} p2),
    {", ".join(blocks)}
    SELECT 'purchase' AS series, ROUND(p.sc, {dp}) AS sc,
           CASE WHEN p.sc <= v.sc THEN 1 ELSE 0 END AS chosen
    FROM scv_p p, scv_v v
    UNION ALL
    SELECT 'view', ROUND(v.sc, {dp}),
           CASE WHEN v.sc < p.sc THEN 1 ELSE 0 END
    FROM scv_p p, scv_v v
    ORDER BY series
    """
    )


ORACLE["ml_preselect"] = _preselect_oracle_sql()


@query("ml_lag_select", None)  # oracle generated below
def ml_lag_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M11 enetVARselect hash-gated (enetVAR.R:204-232): the IC-based
    lag-order search at ridge/fixed-λ over p ∈ {1, 2} on the
    quarterly pair — per-p fits, Σ̂/dof/FPE/AIC/HQ/SC, and each
    criterion's first-minimum argmin. (The early-stop rules engage
    only past iteration 3 and stay pytest-pinned; every quantity they
    compare is inside this hash.) The oracle replays both lag orders:
    p=2 via the 4-feature Cramer solve, 2×2 Σ̂ quadratic forms over
    the 4×4 raw Gram, and the hat-trace via diagonal cofactors."""
    from .ml.var_model import enet_var_select

    wide = _quarterly_pair(spark, sf_dir)
    out = enet_var_select(
        wide, ["revenue", "quantity"], max_lag_order=2, alpha=0.0, lam=0.05
    )
    rows = []
    for i, nm in enumerate(["FPE", "AIC", "HQ", "SC"]):
        # FPE is det-scaled (arbitrary magnitude — ~800 at sf0.1);
        # 6-dp rounding there demands 1e-9 RELATIVE agreement, which
        # 4x4 Cramer-vs-LAPACK drift cannot guarantee. The log-scale
        # criteria keep 6 dp; FPE rounds at 3.
        dp = 3 if nm == "FPE" else 6
        rows.append(
            (
                nm,
                int(out["IC_lag"][nm]),
                round(float(out["IC_value"][0][nm]), dp),
                round(float(out["IC_value"][1][nm]), dp),
            )
        )
    return spark.createDataFrame(
        rows, "criterion string, best_p int, ic_p1 double, ic_p2 double"
    ).orderBy("criterion")


def _lag_select_oracle_sql(lam: float = 0.05, dp: int = 6) -> str:
    """SQL replay of ``ml_lag_select``: per lag order p ∈ {1, 2} the
    full ridge VAR chain (uncentered intercept=False standardization,
    Cramer solve — 4×4 cofactor expansion at p=2 — Σ̂ from raw
    moments, all-active dof hat-trace via diagonal cofactors) and
    per-criterion first-min argmin."""
    rr = repr(lam * 0.5)
    blocks = []
    for p in (1, 2):
        k = 2 * p
        xs = [f"x{i}" for i in range(k)]
        lag_cols = ", ".join(
            f"LAG({src}, {i}) OVER w AS x{2 * (i - 1) + j}"
            for i in range(1, p + 1)
            for j, src in enumerate(("revenue", "quantity"))
        )
        qual = " AND ".join(f"x{i} IS NOT NULL" for i in range(k))
        cross = ", ".join(
            f"SUM({a}*{b}) AS c_{i}_{j}"
            for i, a in enumerate(xs)
            for j, b in enumerate(xs)
            if i <= j
        )
        xy = ", ".join(
            f"SUM({a}*y_{e}) AS cy_{i}_{e}"
            for i, a in enumerate(xs)
            for e in ("r", "q")
        )
        std = ", ".join(
            f"sqrt(c_{i}_{i}/n) AS sc_{i}" for i in range(k)
        )

        def ckey(i, j):
            return f"c_{min(i, j)}_{max(i, j)}"

        # standardized (uncentered) correlation + ridge on diagonal
        M = [
            [
                f"({ckey(i, j)}/n/(sc_{i}*sc_{j})"
                + (f" + {lam!r})" if i == j else ")")
                for j in range(k)
            ]
            for i in range(k)
        ]
        det_m = _det_sql(M)
        coef_cols = []
        for e in ("r", "q"):
            rhs = [f"(cy_{i}_{e}/n/sc_{i})" for i in range(k)]
            for j in range(k):
                Mj = [
                    [(rhs[i] if jj == j else M[i][jj]) for jj in range(k)]
                    for i in range(k)
                ]
                coef_cols.append(
                    f"(({_det_sql(Mj)})/({det_m}))/sc_{j} AS b{j}_{e}"
                )

        def dot_zy(e1, e2):  # b_{e1}' X'y_{e2}
            return " + ".join(
                f"b{i}_{e1}*cy_{i}_{e2}" for i in range(k)
            )

        def quad(e1, e2):  # b_{e1}' X'X b_{e2}
            return " + ".join(
                f"b{i}_{e1}*{ckey(i, j)}*b{j}_{e2}"
                for i in range(k)
                for j in range(k)
            )

        sig = {}
        for e1, e2, nm in (("r", "r", "rr"), ("r", "q", "rq"), ("q", "q", "qq")):
            sig[nm] = (
                f"((cyy_{nm} - ({dot_zy(e1, e2)}) - ({dot_zy(e2, e1)})"
                f" + ({quad(e1, e2)})) / n)"
            )
        # dof: all-active (ridge) hat trace on the RAW Gram:
        # k − r·trace((Szz + r·I)⁻¹), per equation — ×2
        Zr = [
            [
                f"({ckey(i, j)}" + (f" + {rr})" if i == j else ")")
                for j in range(k)
            ]
            for i in range(k)
        ]
        det_zr = _det_sql(Zr)

        def minor(mat, i, j):
            return [
                [mat[a][b] for b in range(k) if b != j]
                for a in range(k)
                if a != i
            ]

        tr_inv = " + ".join(
            f"({_det_sql(minor(Zr, i, i))})" for i in range(k)
        )
        blocks.append(f"""
        lag{p} AS (
          SELECT revenue AS y_r, quantity AS y_q, {lag_cols}
          FROM q WINDOW w AS (ORDER BY obs_date)
          QUALIFY {qual}),
        mom{p} AS (
          SELECT CAST(COUNT(*) AS DOUBLE) AS n, {cross}, {xy},
                 SUM(y_r*y_r) AS cyy_rr, SUM(y_q*y_q) AS cyy_qq,
                 SUM(y_r*y_q) AS cyy_rq
          FROM lag{p}),
        std{p} AS (SELECT *, {std} FROM mom{p}),
        coef{p} AS (SELECT *, {", ".join(coef_cols)} FROM std{p}),
        ic{p} AS (
          SELECT n,
                 {sig["rr"]} AS s_rr, {sig["rq"]} AS s_rq,
                 {sig["qq"]} AS s_qq,
                 2.0*({k}.0 - {rr}*(({tr_inv})/({det_zr}))) AS dof
          FROM coef{p}),
        icv{p} AS (
          SELECT ln(s_rr*s_qq - s_rq*s_rq) + 2.0/n*dof AS aic,
                 ln(s_rr*s_qq - s_rq*s_rq) + 2.0*ln(ln(n))/n*dof AS hq,
                 ln(s_rr*s_qq - s_rq*s_rq) + ln(n)/n*dof AS sc,
                 (1.0 + dof/n)/(1.0 - dof/n)*(s_rr*s_qq - s_rq*s_rq)
                   AS fpe
          FROM ic{p})""")
    rows_sql = " UNION ALL ".join(
        f"""SELECT '{nm}' AS criterion,
               CASE WHEN a.{col} <= b.{col} THEN 1 ELSE 2 END AS best_p,
               ROUND(a.{col}, {3 if nm == "FPE" else dp}) AS ic_p1,
               ROUND(b.{col}, {3 if nm == "FPE" else dp}) AS ic_p2
        FROM icv1 a, icv2 b"""
        for nm, col in (
            ("AIC", "aic"), ("FPE", "fpe"), ("HQ", "hq"), ("SC", "sc")
        )
    )
    return f"""
        WITH q AS ({_QPAIR_SQL}),
        {", ".join(blocks)}
        {rows_sql}
        ORDER BY criterion
    """


ORACLE["ml_lag_select"] = _lag_select_oracle_sql()


@query("ml_pacf_blocked", None)  # oracle generated below
def ml_pacf_blocked(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W9 multivariate + M17 ``faithful_blocked`` hash-gated: the
    reference's 4-at-a-time multivariate pacf (enetVAR.R:710-724) on
    the K=3 daily-event block (3 ≡ 3 mod 4, the valid blocked
    composition) — Whittle's generalized Durbin–Levinson recursion
    on sample cross-correlation matrices, the target-row partial
    profile at lags 2..5, and the greedy diversity pick. The DuckDB
    twin unrolls the ENTIRE matrix recursion (5 steps of 3×3
    multiplies + adjugate inverses as chained named-column CTEs) —
    previously the recursion was pytest-only."""
    import numpy as np

    from .ml.selection import pacf_var_selection
    from .operators.acf import multivariate_pacf

    daily = _daily_events(spark, sf_dir).filter(
        F.col("series_id").isin("click", "purchase", "view")
    )
    sel = pacf_var_selection(
        daily, "click", lag=4, maxnrvar=3, faithful_blocked=True
    )
    names = ["click", "purchase", "view"]
    wide = (
        daily.groupBy("obs_date")
        .pivot("series_id", names)
        .agg(F.first("value"))
        .orderBy("obs_date")
        .toPandas()
    )
    X = wide[names].dropna().to_numpy(dtype=float)
    P = multivariate_pacf(X, 5)
    rows = [
        ("profile", k + 1, names[j], round(float(P[k, 0, j]), 6))
        for k in range(1, 5)
        for j in range(3)
    ]
    rows += [("sel", i, s, 0.0) for i, s in enumerate(sel)]
    return spark.createDataFrame(
        rows, "kind string, k int, series string, value double"
    ).orderBy("kind", "k", "series")


def _pacf_blocked_oracle_sql(lag_max: int = 5, dp: int = 6) -> str:
    """Generated SQL unroll of Whittle's multivariate Durbin–Levinson
    recursion (operators/acf.multivariate_pacf) for K=3, plus the
    M17 greedy diversity round on the resulting profile. Matrices
    live as named columns (a{j}s{k}_i_j etc.), one CTE generation per
    recursion step, 3×3 inverses by adjugate/determinant — no
    expression blowup because every step references the PREVIOUS
    step's named columns, never re-inlines them."""
    K = 3

    def mat(prefix):
        return [[f"{prefix}_{i}_{j}" for j in range(K)] for i in range(K)]

    def mm(A, B):
        return [
            [
                " + ".join(f"({A[i][l]})*({B[l][j]})" for l in range(K))
                for j in range(K)
            ]
            for i in range(K)
        ]

    def msub(A, B):
        return [
            [f"({A[i][j]}) - ({B[i][j]})" for j in range(K)] for i in range(K)
        ]

    def mt(A):
        return [[A[j][i] for j in range(K)] for i in range(K)]

    def alias(exprs, prefix):
        return ", ".join(
            f"{exprs[i][j]} AS {prefix}_{i}_{j}"
            for i in range(K)
            for j in range(K)
        )

    def det3(M):
        return (
            f"(({M[0][0]})*(({M[1][1]})*({M[2][2]}) - ({M[1][2]})*({M[2][1]}))"
            f" - ({M[0][1]})*(({M[1][0]})*({M[2][2]}) - ({M[1][2]})*({M[2][0]}))"
            f" + ({M[0][2]})*(({M[1][0]})*({M[2][1]}) - ({M[1][1]})*({M[2][0]})))"
        )

    def inv_exprs(M, detname):
        # inv[i][j] = cofactor[j][i] / det
        out = [[None] * K for _ in range(K)]
        for i in range(K):
            for j in range(K):
                r = [a for a in range(K) if a != j]
                c = [b for b in range(K) if b != i]
                minor = (
                    f"(({M[r[0]][c[0]]})*({M[r[1]][c[1]]})"
                    f" - ({M[r[0]][c[1]]})*({M[r[1]][c[0]]}))"
                )
                sgn = "" if (i + j) % 2 == 0 else "-"
                out[i][j] = f"({sgn}{minor}/{detname})"
        return out

    # lagged z columns (staged: aggregates cannot contain window
    # calls), then cross-correlation moment columns r{k}_i_j
    lag_cols = [
        f"LAG(z{j}, {k}) OVER w AS l{k}_{j}"
        for k in range(1, lag_max + 1)
        for j in range(K)
    ]
    mom_cols = []
    for k in range(lag_max + 1):
        for i in range(K):
            for j in range(K):
                zj = f"z{j}" if k == 0 else f"l{k}_{j}"
                mom_cols.append(f"SUM(z{i} * {zj})/MAX(tt) AS r{k}_{i}_{j}")
    R = [mat(f"r{k}") for k in range(lag_max + 1)]

    ctes = []
    A: list = []  # forward coef matrices as name-matrices
    B: list = []
    Vm = R[0]
    Um = R[0]
    prev = "mom"
    for k in range(1, lag_max + 1):
        # D_k = R_k − Σ_j A_j R_{k-1-j}
        D = R[k]
        for j in range(len(A)):
            D = msub(D, mm(A[j], R[k - 1 - j]))
        c1 = f"s{k}d"
        ctes.append(
            f"{c1} AS (SELECT *, {alias(D, f'd{k}')},"
            f" {det3(Um)} AS detu{k}, {det3(Vm)} AS detv{k} FROM {prev})"
        )
        Dm = mat(f"d{k}")
        iU = inv_exprs(Um, f"detu{k}")
        iV = inv_exprs(Vm, f"detv{k}")
        c2 = f"s{k}i"
        ctes.append(
            f"{c2} AS (SELECT *, {alias(iU, f'iu{k}')},"
            f" {alias(iV, f'iv{k}')} FROM {c1})"
        )
        Akk = mm(Dm, mat(f"iu{k}"))
        Bkk = mm(mt(Dm), mat(f"iv{k}"))
        c3 = f"s{k}k"
        ctes.append(
            f"{c3} AS (SELECT *, {alias(Akk, f'akk{k}')},"
            f" {alias(Bkk, f'bkk{k}')} FROM {c2})"
        )
        Am = mat(f"akk{k}")
        Bm = mat(f"bkk{k}")
        new_cols = []
        A_new, B_new = [], []
        for j in range(len(A)):
            An = msub(A[j], mm(Am, B[k - 2 - j]))
            Bn = msub(B[j], mm(Bm, A[k - 2 - j]))
            new_cols.append(alias(An, f"a{j}s{k}"))
            new_cols.append(alias(Bn, f"b{j}s{k}"))
            A_new.append(mat(f"a{j}s{k}"))
            B_new.append(mat(f"b{j}s{k}"))
        A_new.append(Am)
        B_new.append(Bm)
        Vn = msub(Vm, mm(Am, mt(Dm)))
        Un = msub(Um, mm(Bm, Dm))
        new_cols.append(alias(Vn, f"v{k}"))
        new_cols.append(alias(Un, f"u{k}"))
        c4 = f"s{k}n"
        ctes.append(f"{c4} AS (SELECT *, {', '.join(new_cols)} FROM {c3})")
        A, B = A_new, B_new
        Vm, Um = mat(f"v{k}"), mat(f"u{k}")
        prev = c4

    # profile: target-row partials at lags 2..lag_max
    prof_rows = " UNION ALL ".join(
        f"SELECT 'profile' AS kind, {k} AS k, '{name}' AS series,"
        f" ROUND(akk{k}_0_{j}, {dp}) AS value FROM fin"
        for k in range(2, lag_max + 1)
        for j, name in enumerate(["click", "purchase", "view"])
    )
    # greedy diversity round on the profile (same unroll as
    # ml_acf_selection): scores = mean over lags of partial², first =
    # top non-target (stable tie by column order), pick = farthest
    # mean-sq profile from first (selected zeroed)
    score = {
        j: "("
        + " + ".join(
            f"POW(akk{k}_0_{j}, 2)" for k in range(2, lag_max + 1)
        )
        + f")/{lag_max - 1}.0"
        for j in range(K)
    }
    dist = {}
    for j in range(K):
        dist[j] = (
            "("
            + " + ".join(
                f"POW(akk{k}_0_{j} - akk{k}_0_f, 2)"
                for k in range(2, lag_max + 1)
            )
            + f")/{lag_max - 1}.0"
        )
    names = ["click", "purchase", "view"]
    sel_sql = f"""
    scored AS (
      SELECT j, name, score,
             ROW_NUMBER() OVER (ORDER BY score DESC, j ASC) AS rn
      FROM (
        {" UNION ALL ".join(
            f"SELECT {j} AS j, '{names[j]}' AS name, {score[j]} AS score FROM fin"
            for j in range(K))})),
    first AS (SELECT j, name FROM scored WHERE name <> 'click'
              ORDER BY rn LIMIT 1),
    prof_f AS (
      SELECT fin.*, {", ".join(
          "CASE f.j " + " ".join(
              f"WHEN {jj} THEN akk{k}_0_{jj}" for jj in range(K))
          + f" END AS akk{k}_0_f"
          for k in range(2, lag_max + 1))}
      FROM fin, first f),
    dists AS (
      SELECT d.j, d.name,
             CASE WHEN d.j = f.j THEN 0.0 ELSE d.dist END AS dist
      FROM (
        {" UNION ALL ".join(
            f"SELECT {j} AS j, '{names[j]}' AS name, {dist[j]} AS dist FROM prof_f"
            for j in range(K))}) d, first f),
    pick AS (SELECT j, name FROM dists WHERE name <> 'click'
             ORDER BY dist DESC, j ASC LIMIT 1)"""
    return f"""
        WITH m AS (
          SELECT event_type AS series_id,
                 CAST(date_trunc('day', ts) AS DATE) AS obs_date,
                 ROUND(SUM(value), 6) AS value
          FROM events
          WHERE event_type IN ('click', 'purchase', 'view')
          GROUP BY 1, 2),
        wide AS (
          SELECT obs_date,
                 MAX(CASE WHEN series_id = 'click' THEN value END) AS x0,
                 MAX(CASE WHEN series_id = 'purchase' THEN value END) AS x1,
                 MAX(CASE WHEN series_id = 'view' THEN value END) AS x2
          FROM m GROUP BY 1),
        cc AS (
          SELECT ROW_NUMBER() OVER (ORDER BY obs_date) AS rn, x0, x1, x2
          FROM wide
          WHERE x0 IS NOT NULL AND x1 IS NOT NULL AND x2 IS NOT NULL),
        stats AS (
          SELECT CAST(COUNT(*) AS DOUBLE) AS tt,
                 AVG(x0) AS m0, AVG(x1) AS m1, AVG(x2) AS m2,
                 sqrt(SUM(x0*x0)/COUNT(*) - AVG(x0)*AVG(x0)) AS sd0,
                 sqrt(SUM(x1*x1)/COUNT(*) - AVG(x1)*AVG(x1)) AS sd1,
                 sqrt(SUM(x2*x2)/COUNT(*) - AVG(x2)*AVG(x2)) AS sd2
          FROM cc),
        z AS (
          SELECT cc.rn, (cc.x0 - s.m0)/s.sd0 AS z0,
                 (cc.x1 - s.m1)/s.sd1 AS z1,
                 (cc.x2 - s.m2)/s.sd2 AS z2, s.tt
          FROM cc, stats s),
        zl AS (
          SELECT z.*, {", ".join(lag_cols)}
          FROM z WINDOW w AS (ORDER BY rn)),
        mom AS MATERIALIZED (
          SELECT {", ".join(mom_cols)} FROM zl),
        {", ".join(ctes)},
        fin AS MATERIALIZED (SELECT * FROM {prev}),
        {sel_sql}
        {prof_rows}
        UNION ALL SELECT 'sel', 0, 'click', 0.0
        UNION ALL SELECT 'sel', 1, name, 0.0 FROM first
        UNION ALL SELECT 'sel', 2, name, 0.0 FROM pick
        ORDER BY kind, k, series
    """


ORACLE["ml_pacf_blocked"] = _pacf_blocked_oracle_sql()


@query(
    "stat_cw_dm",
    f"""
    WITH q AS ({{_QPAIR}}),
    srs AS (
      SELECT obs_date, revenue AS y,
             LAG(revenue) OVER (ORDER BY obs_date) AS yl
      FROM q QUALIFY yl IS NOT NULL),
    phi AS (SELECT SUM(yl*y)/SUM(yl*yl) AS phi FROM srs),
    err AS (
      SELECT ROW_NUMBER() OVER (ORDER BY obs_date) AS rn,
             y - yl AS e1, y - p.phi*yl AS e2,
             POW(y - yl, 2)
               - (POW(y - p.phi*yl, 2) - POW(yl - p.phi*yl, 2)) AS f,
             POW(y - yl, 2) - POW(y - p.phi*yl, 2) AS d
      FROM srs, phi p),
    mm AS (SELECT CAST(COUNT(*) AS DOUBLE) AS P, AVG(f) AS mf, AVG(d) AS md
           FROM err),
    -- nw(froll, qn=2): Γ0 with denominator P, lag-1 term with P−1,
    -- Bartlett weight (1 − 1/2) → var = Γ0 + γ1
    nwv AS (
      SELECT SUM(POW(a.f - mm.mf, 2))/mm.P
             + SUM(CASE WHEN b.rn IS NOT NULL
                        THEN (a.f - mm.mf)*(b.f - mm.mf) ELSE 0 END)
               / (mm.P - 1) AS var
      FROM err a LEFT JOIN err b ON b.rn = a.rn - 1, mm
      GROUP BY mm.P),
    cw AS (SELECT sqrt(mm.P)*mm.mf/sqrt(n.var) AS stat FROM mm, nwv n),
    -- dm_test(d, l=2): all γ_j with denominator P, weights 1−|j|/3
    dmg AS (
      SELECT j.j AS j,
             SUM(CASE WHEN b.rn IS NOT NULL
                      THEN (a.d - mm.md)*(b.d - mm.md) ELSE 0 END)/mm.P
               AS gamma
      FROM err a
      CROSS JOIN range(0, 3) j(j)
      CROSS JOIN mm
      LEFT JOIN err b ON b.rn = a.rn - j.j
      GROUP BY j.j, mm.P),
    dms AS (
      SELECT (SELECT gamma FROM dmg WHERE j = 0)
             + 2*((SELECT gamma FROM dmg WHERE j = 1)*(1.0 - 1.0/3)
                  + (SELECT gamma FROM dmg WHERE j = 2)*(1.0 - 2.0/3))
               AS s),
    dm AS (SELECT mm.md / sqrt(d.s/mm.P) AS stat FROM mm, dms d),
    -- normal upper tail via the erf Taylor series (DuckDB has no
    -- erf): P(Z>x) = 0.5·(1 − erf(x/√2)). The alternating series is
    -- only numerically trustworthy for small arguments (by |x| ≳ 5·√2
    -- intermediate terms hit ~1e13 and cancellation exceeds the 6-dp
    -- gate, ADVICE r3) — so clamp to 0 when |stat| > 6, where the true
    -- tail is < 1e-9 and rounds to 0 at 6 dp anyway; inside the clamp
    -- 60 terms agree with erfc to ~1e-11
    dmp AS (
      SELECT CASE WHEN abs(dm.stat) > 6.0 THEN 0.0
             ELSE GREATEST(0.0, 0.5*(1.0 - (2.0/sqrt(pi())) * (
               SELECT SUM(POW(-1.0, n.range)
                          * POW(abs(dm.stat)/sqrt(2.0), 2*n.range + 1)
                          / (gamma(n.range + 1.0) * (2*n.range + 1)))
               FROM range(0, 60) n))) END AS p
      FROM dm)
    SELECT 'cw_stat' AS metric, ROUND(stat, 6) AS value FROM cw
    UNION ALL
    -- t upper tail at df = nwlag = 2 has the closed form
    -- (1 − x/√(2+x²))/2
    SELECT 'cw_p', ROUND(0.5*(1.0 - abs(stat)/sqrt(2.0 + stat*stat)), 6)
    FROM cw
    UNION ALL SELECT 'dm_stat', ROUND(stat, 6) FROM dm
    UNION ALL SELECT 'dm_p', ROUND(p, 6) FROM dmp
    ORDER BY metric
    """.replace("{_QPAIR}", _QPAIR_SQL),
)
def stat_cw_dm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M20/M21/M22 hash-gated END TO END: Clark–West (with the
    reference's mixed-denominator Newey–West variance at qn=2 —
    quirk-faithful weights) and Diebold–Mariano (own-variance, lag 2)
    comparing the naive random walk against a full-sample CSS AR(1)
    on quarterly revenue. The DuckDB twin replays the error series,
    both HAC variances, both statistics, the df=2 t tail in closed
    form, and the normal tail via a 60-term erf series. (Degenerate
    constant-differential input yields NaN on the engine vs NULL in
    DuckDB — both arrive as NaN through Arrow, and the quarterly
    series is never degenerate at any sf.) Reference:
    enetVAR.R:775-843."""
    import numpy as np

    from .functions.stats import cw_test, dm_test
    from .plans.guards import guarded_collect

    wide = _quarterly_pair(spark, sf_dir)
    y = np.array(
        [
            r["revenue"]
            for r in guarded_collect(
                wide.orderBy("obs_date").select("revenue"),
                "stat_cw_dm quarterly series",
                "per-horizon relational forms (harness.ar1_rolling_relational)",
            )
        ],
        dtype=float,
    )
    phi = float((y[:-1] @ y[1:]) / (y[:-1] @ y[:-1]))
    yf1, yf2 = y[:-1], phi * y[:-1]
    e1, e2 = y[1:] - yf1, y[1:] - yf2
    cw = cw_test(e1, e2, yf1, yf2, nwlag=2)
    dm = dm_test(e1**2 - e2**2, l=2)
    rows = [
        ("cw_stat", round(float(cw["CWStat"]), 6)),
        ("cw_p", round(float(cw["p_value"]), 6)),
        ("dm_stat", round(float(dm["DMStat"]), 6)),
        ("dm_p", round(float(dm["p_value"]), 6)),
    ]
    return spark.createDataFrame(rows, "metric string, value double").orderBy(
        "metric"
    )


@query("ann_ivf_top1", None)  # pinned oracle registered below
def ann_ivf_top1(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-bucketed ANN (the k-means alternative to the LSH scale
    path): spherical-k-means cells trained on a bounded sample,
    distributed assignment, candidates join on cell keys only, exact
    cosine rerank. Deterministic under the fixed seed. Hash-gated via
    a PINNED oracle (VERDICT r2 item 1): seeded-PCG64 k-means is not
    SQL-expressible, so ``tools/gen_pinned_oracles.py`` re-implements
    the whole pipeline independently (numpy + pyarrow, no engine
    imports) and pins the expected table per data fingerprint; the
    DuckDB oracle below selects the matching pin — and returns 0 rows
    (a loud rowcount failure) if the test data ever changes. Recall
    vs the exact path stays measured in
    tests/test_dedup_similarity.py."""
    from .operators.similarity import ivf_topk

    e = load_table(spark, sf_dir, "embeddings")
    out = ivf_topk(e, k=1, nlist=16, nprobe=8)
    return out.select(
        "vec_id", "rank", "neighbor_id", r6(F.col("cosine")).alias("cosine")
    )


def _pinned_ivf_oracle_sql() -> str | None:
    """Build the fingerprint-switched VALUES oracle for
    ``ann_ivf_top1`` from the JSON written by
    ``tools/gen_pinned_oracles.py`` (see that tool's docstring for
    the independence argument). The checksum match uses an absolute
    tolerance so parallel-aggregation float drift cannot flip it."""
    import json
    import os

    path = os.path.join(
        os.path.dirname(__file__), "pinned", "ann_ivf_top1.json"
    )
    if not os.path.exists(path):
        return None
    with open(path) as f:
        pins = json.load(f)["pins"]
    branches = []
    for p in pins:
        fp = p["fingerprint"]
        vals = ", ".join(
            f"({a}, {b}, {c}, CAST({d!r} AS DOUBLE))"
            for a, b, c, d in p["rows"]
        )
        branches.append(
            f"""SELECT CAST(t.vec_id AS BIGINT) AS vec_id,
                   CAST(t.rank AS INT) AS rank,
                   CAST(t.neighbor_id AS BIGINT) AS neighbor_id,
                   t.cosine
            FROM (VALUES {vals}) t(vec_id, rank, neighbor_id, cosine), fp
            WHERE fp.n = {fp["n"]} AND fp.id_sum = {fp["id_sum"]}
              AND abs(fp.checksum - ({fp["checksum"]!r})) < 0.001"""
        )
    return (
        "WITH fp AS (SELECT COUNT(*) AS n, SUM(vec_id) AS id_sum, "
        "SUM(list_sum(list_transform(embedding, x -> CAST(x AS DOUBLE)))) "
        "AS checksum FROM embeddings) "
        + " UNION ALL ".join(branches)
    )


_ivf_pin = _pinned_ivf_oracle_sql()
if _ivf_pin is not None:
    ORACLE["ann_ivf_top1"] = _ivf_pin


@query(
    "ann_ivf_fixed",
    """
    WITH n AS (
      SELECT vec_id,
             list_transform(embedding, x -> x::DOUBLE /
               sqrt(list_sum(list_transform(embedding, y -> y::DOUBLE * y::DOUBLE))))
               AS e,
             CAST(vec_id % 16 AS INT) AS seed_cell
      FROM embeddings
    ),
    comp AS (
      SELECT seed_cell AS cell, pos, ROUND(AVG(x), 12) AS cx
      FROM (SELECT seed_cell, unnest(e) AS x,
                   generate_subscripts(e, 1) AS pos FROM n)
      GROUP BY 1, 2
    ),
    cent AS (SELECT cell, list(cx ORDER BY pos) AS c FROM comp GROUP BY 1),
    centn AS (
      SELECT cell,
             list_transform(c, x -> x / sqrt(list_sum(
               list_transform(c, y -> y * y)))) AS c
      FROM cent
    ),
    sims AS (
      SELECT n.vec_id, cn.cell, list_dot_product(n.e, cn.c) AS s
      FROM n CROSS JOIN centn cn
    ),
    ranked AS (
      SELECT vec_id, cell,
             ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY s DESC, cell ASC)
               AS rn
      FROM sims
    ),
    corpus AS (SELECT vec_id, cell FROM ranked WHERE rn = 1),
    probe AS (SELECT vec_id, cell FROM ranked WHERE rn <= 4),
    cand AS (
      SELECT p.vec_id, c.vec_id AS nb
      FROM probe p JOIN corpus c ON p.cell = c.cell AND p.vec_id <> c.vec_id
    ),
    scored AS (
      SELECT cand.vec_id, cand.nb, list_dot_product(a.e, b.e) AS s
      FROM cand JOIN n a ON a.vec_id = cand.vec_id
                JOIN n b ON b.vec_id = cand.nb
    )
    SELECT vec_id, nb AS neighbor_id
    FROM (SELECT vec_id, nb,
                 ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY s DESC, nb ASC)
                   AS rn
          FROM scored)
    WHERE rn = 1
    """,
)
def ann_ivf_fixed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN with deterministic SQL-replayable centroids
    (`similarity.seed_centroids`: cell j = normalized mean of vectors
    with id % nlist == j, no Lloyd iterations) — puts the ENTIRE
    distributed IVF machinery (assignment matmul, nprobe probing,
    per-cell cogroup rerank, global tie-broken top-1) inside the
    driver hash gate. `ann_ivf_top1` keeps the real k-means training
    (pinned-oracle-gated since r3, recall-tested); this query proves
    the pipeline around it is exact. Output id-only so the hash is float-jitter-proof."""
    from .operators.similarity import ivf_topk, seed_centroids

    e = load_table(spark, sf_dir, "embeddings")
    C = seed_centroids(e, nlist=16)
    out = ivf_topk(e, k=1, nlist=16, nprobe=4, centroids=C)
    return out.select("vec_id", "neighbor_id")


@query(
    "ann_filtered_search",
    """
    WITH n AS (
      SELECT vec_id,
             list_transform(embedding, x -> x::DOUBLE /
               sqrt(list_sum(list_transform(embedding, y -> y::DOUBLE * y::DOUBLE))))
               AS e,
             CAST(vec_id % 16 AS INT) AS seed_cell
      FROM embeddings
    ),
    comp AS (
      SELECT seed_cell AS cell, pos, ROUND(AVG(x), 12) AS cx
      FROM (SELECT seed_cell, unnest(e) AS x,
                   generate_subscripts(e, 1) AS pos FROM n)
      GROUP BY 1, 2
    ),
    cent AS (SELECT cell, list(cx ORDER BY pos) AS c FROM comp GROUP BY 1),
    centn AS (
      SELECT cell,
             list_transform(c, x -> x / sqrt(list_sum(
               list_transform(c, y -> y * y)))) AS c
      FROM cent
    ),
    sims AS (
      SELECT n.vec_id, cn.cell, list_dot_product(n.e, cn.c) AS s
      FROM n CROSS JOIN centn cn
    ),
    ranked AS (
      SELECT vec_id, cell,
             ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY s DESC, cell ASC)
               AS rn
      FROM sims
    ),
    corpus AS (
      SELECT r.vec_id, r.cell
      FROM ranked r JOIN embeddings em ON em.vec_id = r.vec_id
      WHERE r.rn = 1 AND em.label = 1
    ),
    probe AS (SELECT vec_id, cell FROM ranked WHERE rn <= 4),
    cand AS (
      SELECT p.vec_id, c.vec_id AS nb
      FROM probe p JOIN corpus c ON p.cell = c.cell AND p.vec_id <> c.vec_id
    ),
    scored AS (
      SELECT cand.vec_id, cand.nb,
             ROUND(list_dot_product(a.e, b.e), 6) AS s
      FROM cand JOIN n a ON a.vec_id = cand.vec_id
                JOIN n b ON b.vec_id = cand.nb
    )
    SELECT vec_id, nb AS neighbor_id
    FROM (SELECT vec_id, nb,
                 ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY s DESC, nb ASC)
                   AS rn
          FROM scored)
    WHERE rn = 1
    """,
)
def ann_filtered_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FILTERED ANN (VERDICT r9 missing item 1): every vector's
    nearest ``label = 1`` neighbor through the shared IVF index —
    metadata predicate composed INTO the cell-probe search
    (`similarity.filtered_ivf_topk`, mode='pre'): the predicate is
    applied to the corpus side BEFORE assignment, so it reaches the
    parquet scan as a pushed filter and the per-cell candidate
    matmuls only ever see qualifying vectors; probes (all vectors)
    probe 4 cells as usual. Deterministic seed centroids keep the
    whole chain — filter, assignment, probe routing, snapped rerank,
    tie-break — inside the DuckDB hash gate. Cosines snap to the
    6-dp grid before ranking (the ADVICE-r9 near-tie contract);
    output id-only. The post-filter strategy and the auto
    selectivity crossover are pinned in tests/test_filtered_ann.py.
    Scale shape: 'pre' never scans non-qualifying corpus rows — at
    1 % selectivity the candidate work drops ~100× vs filter-after-
    search, while the probe side stays one narrow assignment pass."""
    from .operators.similarity import filtered_ivf_topk, seed_centroids

    e = load_table(spark, sf_dir, "embeddings")
    C = seed_centroids(e, nlist=16)
    out = filtered_ivf_topk(
        e,
        F.col("label") == 1,
        k=1,
        nlist=16,
        nprobe=4,
        mode="pre",
        centroids=C,
        round_dp=6,
    )
    return out.select("vec_id", "neighbor_id")


@query(
    "ann_filtered_post",
    """
    WITH n AS (
      SELECT vec_id,
             list_transform(embedding, x -> x::DOUBLE /
               sqrt(list_sum(list_transform(embedding, y -> y::DOUBLE * y::DOUBLE))))
               AS e,
             CAST(vec_id % 16 AS INT) AS seed_cell
      FROM embeddings
    ),
    comp AS (
      SELECT seed_cell AS cell, pos, ROUND(AVG(x), 12) AS cx
      FROM (SELECT seed_cell, unnest(e) AS x,
                   generate_subscripts(e, 1) AS pos FROM n)
      GROUP BY 1, 2
    ),
    cent AS (SELECT cell, list(cx ORDER BY pos) AS c FROM comp GROUP BY 1),
    centn AS (
      SELECT cell,
             list_transform(c, x -> x / sqrt(list_sum(
               list_transform(c, y -> y * y)))) AS c
      FROM cent
    ),
    sims AS (
      SELECT n.vec_id, cn.cell, list_dot_product(n.e, cn.c) AS s
      FROM n CROSS JOIN centn cn
    ),
    ranked AS (
      SELECT vec_id, cell,
             ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY s DESC, cell ASC)
               AS rn
      FROM sims
    ),
    corpus AS (SELECT vec_id, cell FROM ranked WHERE rn = 1),
    probe AS (SELECT vec_id, cell FROM ranked WHERE rn <= 4),
    cand AS (
      SELECT p.vec_id, c.vec_id AS nb
      FROM probe p JOIN corpus c ON p.cell = c.cell AND p.vec_id <> c.vec_id
    ),
    scored AS (
      SELECT cand.vec_id, cand.nb,
             ROUND(list_dot_product(a.e, b.e), 6) AS s
      FROM cand JOIN n a ON a.vec_id = cand.vec_id
                JOIN n b ON b.vec_id = cand.nb
    ),
    oversampled AS (
      SELECT vec_id, nb, s
      FROM (SELECT vec_id, nb, s,
                   ROW_NUMBER() OVER (PARTITION BY vec_id
                     ORDER BY s DESC, nb ASC) AS rn
            FROM scored)
      WHERE rn <= 4
    ),
    refiltered AS (
      SELECT o.vec_id, o.nb, o.s
      FROM oversampled o JOIN embeddings em ON em.vec_id = o.nb
      WHERE em.label = 1
    )
    SELECT vec_id, nb AS neighbor_id
    FROM (SELECT vec_id, nb,
                 ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY s DESC, nb ASC)
                   AS rn
          FROM refiltered)
    WHERE rn = 1
    """,
)
def ann_filtered_post(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The POST-FILTER strategy of `filtered_ivf_topk` in the hash
    gate (the pre-filter arm is `ann_filtered_search`): unfiltered
    IVF search keeps k·oversample=4 snapped candidates per probe,
    the metadata predicate then semi-joins the neighbor ids and the
    survivors re-rank to top-1. The twin replays the oversampled
    ranking, the label filter, and the re-rank — so the recall trade
    itself (probes whose 4 unfiltered candidates contain no label-1
    vector return NO row; at sf0.01 that drops ~2/3 of probes vs the
    pre arm) is pinned in the hash, not just in pytest. Scale shape:
    identical to the unfiltered search (one cogroup pass) plus a
    result-sized semi-join — the strategy that wins when most rows
    qualify and the corpus scan dominates."""
    from .operators.similarity import filtered_ivf_topk, seed_centroids

    e = load_table(spark, sf_dir, "embeddings")
    C = seed_centroids(e, nlist=16)
    out = filtered_ivf_topk(
        e,
        F.col("label") == 1,
        k=1,
        nlist=16,
        nprobe=4,
        mode="post",
        oversample=4,
        centroids=C,
        round_dp=6,
    )
    return out.select("vec_id", "neighbor_id")


@query(
    "stat_hosking",
    _QUARTERLY_PAIR_CTE
    + """,
     d AS (SELECT ROW_NUMBER() OVER (ORDER BY obs_date) AS rn,
                  revenue - AVG(revenue) OVER () AS e1,
                  quantity - AVG(quantity) OVER () AS e2
           FROM pair),
     nn AS (SELECT COUNT(*) AS n FROM d),
     c0 AS (SELECT SUM(e1*e1)/n AS c11, SUM(e1*e2)/n AS c12, SUM(e2*e2)/n AS c22
            FROM d, nn GROUP BY n),
     inv AS (SELECT c22/(c11*c22-c12*c12) AS i11,
                    -c12/(c11*c22-c12*c12) AS i12,
                    c11/(c11*c22-c12*c12) AS i22 FROM c0),
     cj AS (SELECT j.j,
                   SUM(t.e1*s.e1)/MAX(nn.n) AS a11, SUM(t.e1*s.e2)/MAX(nn.n) AS a12,
                   SUM(t.e2*s.e1)/MAX(nn.n) AS a21, SUM(t.e2*s.e2)/MAX(nn.n) AS a22
            FROM range(1,10) j(j), d t, d s, nn
            WHERE s.rn = t.rn - j.j GROUP BY j.j),
     term AS (SELECT j,
        (a11*(i11*(a11*i11+a12*i12)+i12*(a21*i11+a22*i12))
       + a12*(i11*(a11*i12+a12*i22)+i12*(a21*i12+a22*i22))
       + a21*(i12*(a11*i11+a12*i12)+i22*(a21*i11+a22*i12))
       + a22*(i12*(a11*i12+a12*i22)+i22*(a21*i12+a22*i22)))
        / (nn.n - j) AS trm
       FROM cj, inv, nn),
     q AS (SELECT m.m AS lag, 4*m.m AS df, nn.n,
                  (SELECT SUM(trm) FROM term WHERE j <= m.m) AS cum
           FROM (VALUES (3),(6),(9)) m(m), nn),
     stats AS (
       SELECT 'hosking' AS test, lag, CAST(n AS DOUBLE)*n*cum AS statistic, df
       FROM q
       UNION ALL
       SELECT 'ljung_box_mv', lag, CAST(n AS DOUBLE)*(n+2)*cum, df FROM q),
     pv AS (SELECT test, lag, statistic, df,
                   exp(-statistic/2)
                     * (SELECT SUM(pow(s.statistic/2, k.k)/gamma(k.k+1.0))
                        FROM range(0,64) k(k) WHERE k.k < s.df/2) AS p_value
            FROM stats s)
    SELECT test, lag, ROUND(statistic,6) AS statistic, df,
           ROUND(p_value,6) AS p_value
    FROM pv ORDER BY test, lag
    """,
)
def stat_hosking(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M24: Hosking (1980) multivariate portmanteau (reference
    Main.R:304 ``Hosking(resids, order=3)``) plus the multivariate
    Ljung–Box scaling (Testing.R:389-390), applied to the demeaned
    quarterly pair (order=0 — a white-noise test of the raw series,
    so the full matrix-trace statistic is DuckDB-replayable: 2×2
    closed-form C₀⁻¹, explicit trace algebra, and the even-df χ²
    survival series exp(-x/2)·Σ(x/2)^j/j!). The VAR-residual form
    (order=p) is pinned in tests/test_stats.py against a brute-force
    implementation and the univariate reduction."""
    import numpy as np

    from .functions.stats import hosking_test
    from .plans.guards import guarded_topandas

    wide = _quarterly_pair(spark, sf_dir)
    U = guarded_topandas(
        wide.orderBy("obs_date").select("revenue", "quantity"),
        "stat_hosking quarterly residual matrix",
        "a coarser roll-up before the portmanteau test (the statistic "
        "needs the full T×K series on one node by construction)",
    ).to_numpy(dtype=float)
    U = U - U.mean(axis=0)
    rows = []
    for modified, name in ((True, "hosking"), (False, "ljung_box_mv")):
        for r in hosking_test(U, lags=(3, 6, 9), order=0, modified=modified):
            rows.append(
                (name, int(r["lag"]), round(float(r["statistic"]), 6),
                 int(r["df"]), round(float(r["p_value"]), 6))
            )
    return spark.createDataFrame(
        rows, "test string, lag int, statistic double, df int, p_value double"
    ).orderBy("test", "lag")


@query("text_chunking", None)  # oracle registered below
def text_chunking(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-size token chunking with overlap
    (`operators/text.chunk_tokens`): documents → 32-token training
    sequences at stride 24 — entirely narrow (sequence-explode +
    slice, no shuffle); chunk identity travels as an md5 key so
    sequence-level dedup downstream is a plain hash group-by."""
    from .operators.text import chunk_tokens

    docs = load_table(spark, sf_dir, "documents")
    return chunk_tokens(docs, chunk_size=32, stride=24)


def _register_chunk_oracle() -> None:
    from .operators.text import duck_chunk_sql

    ORACLE["text_chunking"] = duck_chunk_sql(chunk_size=32, stride=24)


_register_chunk_oracle()


@query("split_contamination", None)  # oracle registered below
def split_contamination_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train→test decontamination scan
    (`operators/split.split_contamination`): per test-split document,
    the fraction of its word 8-grams that occur anywhere in the
    train split. Train side reduces to a DISTINCT shingle-hash set;
    the only shuffle is the uniform shingle-hash left join — never
    doc×doc."""
    from .operators.split import split_contamination

    docs = load_table(spark, sf_dir, "documents")
    res = split_contamination(docs, n=8)
    return res.select(
        "doc_id", "n_shingles", "n_hit", r6(F.col("hit_ratio")).alias("hit_ratio")
    )


def _register_contamination_oracle() -> None:
    from .operators.split import duck_contamination_sql

    sql = duck_contamination_sql(n=8)
    ORACLE["split_contamination"] = f"""
        SELECT doc_id, n_shingles, n_hit, ROUND(hit_ratio, 6) AS hit_ratio
        FROM ({sql})
    """


_register_contamination_oracle()


@query("split_contamination_store", None)  # oracle registered below
def split_contamination_store_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decontamination against a PERSISTED bucketed shingle store
    (`operators/split.contamination_store_write` /
    `contamination_vs_store`): the protected benchmark corpus is
    static at 100 TB, so its DISTINCT shingle set is written once,
    bucketed+sorted on the hash — every later crawl batch's
    contamination join reads the store with zero store-side Exchange
    (only the batch shuffles). Same split rule and accounting as
    `split_contamination`, so the two queries share one oracle and
    must hash-match each other."""
    import tempfile

    from .operators.split import (
        contamination_store_write,
        contamination_vs_store,
        hash_split,
    )

    store = "q_contamination_store"
    spark.sql(f"DROP TABLE IF EXISTS {store}__shingles")
    path = tempfile.mkdtemp(prefix="spark_graft_contam_store_")
    docs = load_table(spark, sf_dir, "documents")
    lab = hash_split(docs, "doc_id")
    # fixture-scale bucket count (see dedup_incremental_bucketed)
    contamination_store_write(
        lab.filter(F.col("split") == "train"), store, n=8, buckets=8, path=path
    )
    res = contamination_vs_store(
        lab.filter(F.col("split") == "test"), store, n=8
    )
    return res.select(
        "doc_id", "n_shingles", "n_hit", r6(F.col("hit_ratio")).alias("hit_ratio")
    )


def _register_contamination_store_oracle() -> None:
    ORACLE["split_contamination_store"] = ORACLE["split_contamination"]


_register_contamination_store_oracle()


@query("text_bm25_topk", None)  # oracle registered below
def text_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Okapi BM25 top-10 retrieval (`operators/retrieval.bm25_topk`)
    for a fixed query-term set: only query-matching tokens survive
    the explode, document frequencies broadcast back, final top-k is
    TakeOrderedAndProject. Scores round to 6 dp BEFORE ranking with a
    doc_id tie-break so both engines pick identical sets."""
    from .operators.retrieval import bm25_topk

    docs = load_table(spark, sf_dir, "documents")
    return bm25_topk(docs, BM25_TERMS, k=10)


BM25_TERMS = ["spark", "window", "merge", "sort"]


def _register_bm25_oracle() -> None:
    from .operators.retrieval import duck_bm25_sql

    ORACLE["text_bm25_topk"] = duck_bm25_sql(BM25_TERMS, k=10)


_register_bm25_oracle()


@query("retrieval_hybrid_rrf", None)  # oracle registered below
def retrieval_hybrid_rrf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HYBRID retrieval with reciprocal-rank fusion (r11) — the
    sparse+dense combination every production search stack ships:
    the SPARSE arm is BM25 top-20 for the fixed term set
    (`retrieval.bm25_topk`), the DENSE arm is exact cosine top-20
    against probe vector 0 (`similarity.cosine_topk` with the 6-dp
    snap — doc i's embedding is row i of the embeddings table), and
    the fused list is RRF = Σ 1/(60+rank) per arm
    (`retrieval.rrf_fuse`, Cormack et al. 2009), 6-dp-rounded before
    the final (rrf DESC, id ASC) rank. Both arms are top-k lists, so
    the fuse is two tiny outer joins + one bounded window — the
    corpus pays only the two arms' own scans. The twin replays the
    BM25 CTE chain (shared generator with `text_bm25_topk`), the
    normalized-dot dense ranking, and the RRF formula with identical
    parenthesization; missing-arm zeros and rank ties are inside the
    hash. Returns
    ``(doc_id, rank, rrf, rank_0 sparse, rank_1 dense)``."""
    from pyspark.sql import Window as W

    from .operators.retrieval import bm25_topk, rrf_fuse
    from .operators.similarity import cosine_topk

    docs = load_table(spark, sf_dir, "documents")
    emb = load_table(spark, sf_dir, "embeddings")
    sparse = bm25_topk(docs, BM25_TERMS, k=20)
    ws = W.orderBy(F.col("bm25").desc(), F.col("doc_id").asc())
    sparse_r = sparse.select(
        "doc_id", F.row_number().over(ws).alias("rank")
    )
    probe = emb.filter(F.col("vec_id") == 0)
    den = cosine_topk(emb, probe, k=1, exclude_self=True, round_dp=6)
    # limit-FIRST: orderBy().limit() plans as TakeOrderedAndProject
    # (per-partition heaps + driver merge of 20 rows) — a row_number
    # window over the corpus-sized cosine frame would be a global
    # single-partition sort (plan-audit-enforced)
    wd = W.orderBy(F.col("cosine").desc(), F.col("doc_id").asc())
    dense_r = (
        den.select(F.col("vec_id").alias("doc_id"), "cosine")
        .orderBy(F.col("cosine").desc(), F.col("doc_id").asc())
        .limit(20)
        .withColumn("rank", F.row_number().over(wd))
        .select("doc_id", "rank")
    )
    return rrf_fuse([sparse_r, dense_r], rrf_k=60, topk=10)


def _register_hybrid_rrf_oracle() -> None:
    from .operators.retrieval import duck_bm25_cte

    ORACLE["retrieval_hybrid_rrf"] = f"""
        WITH {duck_bm25_cte(BM25_TERMS)},
        sr AS (
          SELECT doc_id, rs FROM (
            SELECT doc_id,
                   ROW_NUMBER() OVER (ORDER BY bm25 DESC, doc_id ASC)
                     AS rs
            FROM bmscore) WHERE rs <= 20),
        n AS (
          SELECT vec_id,
                 list_transform(embedding, x -> x::DOUBLE /
                   sqrt(list_sum(list_transform(embedding,
                     y -> y::DOUBLE * y::DOUBLE)))) AS e
          FROM embeddings),
        q AS (SELECT e FROM n WHERE vec_id = 0),
        dd AS (
          SELECT n.vec_id,
                 ROUND(list_dot_product(n.e, q.e), 6) AS c
          FROM n, q WHERE n.vec_id <> 0),
        dr AS (
          SELECT vec_id, rd FROM (
            SELECT vec_id,
                   ROW_NUMBER() OVER (ORDER BY c DESC, vec_id ASC) AS rd
            FROM dd) WHERE rd <= 20),
        f AS (
          SELECT COALESCE(s.doc_id, d.vec_id) AS doc_id, s.rs, d.rd
          FROM sr s FULL JOIN dr d ON d.vec_id = s.doc_id),
        scored AS (
          SELECT doc_id,
                 ROUND(COALESCE(1.0 / (60.0 + rs), 0.0)
                       + COALESCE(1.0 / (60.0 + rd), 0.0), 6) AS rrf,
                 rs, rd
          FROM f)
        SELECT doc_id,
               CAST(ROW_NUMBER() OVER (ORDER BY rrf DESC, doc_id ASC)
                    AS INT) AS rank,
               rrf, CAST(rs AS INT) AS rank_0, CAST(rd AS INT) AS rank_1
        FROM scored
        QUALIFY rank <= 10
    """


_register_hybrid_rrf_oracle()


@query("text_repetition", None)  # oracle registered below
def text_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style intra-document repetition filter
    (`operators/text.repetition_score`): duplicate word-bigram
    fraction per doc — narrow split/transform/size pipeline, no
    shuffle."""
    from .operators.text import repetition_score

    docs = load_table(spark, sf_dir, "documents")
    return repetition_score(docs, n=2)


def _register_repetition_oracle() -> None:
    from .operators.text import duck_repetition_sql

    ORACLE["text_repetition"] = duck_repetition_sql(n=2)


_register_repetition_oracle()


@query("text_regex_tokens", None)  # oracle registered below
def text_regex_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE-ish regex pre-tokenizer statistics
    (`operators/text.regex_token_stats`): letter-run / digit-run /
    punctuation token counts plus an md5 of the joined token stream,
    so tokenization EQUALITY across engines sits inside the hash
    gate. Narrow, codegen'd."""
    from .operators.text import regex_token_stats

    docs = load_table(spark, sf_dir, "documents")
    return regex_token_stats(docs)


def _register_regex_token_oracle() -> None:
    from .operators.text import duck_regex_token_sql

    ORACLE["text_regex_tokens"] = duck_regex_token_sql()


_register_regex_token_oracle()


SAMPLE_RATES = {"en": 0.5, "de": 0.25}


@query("sample_stratified", None)  # oracle registered below
def sample_stratified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic per-stratum sampling
    (`operators/split.stratified_sample`): keep iff the SALTED md5
    bucket of the doc id clears the language's rate threshold — a
    pure function of the id, so samples nest across rates and agree
    across engines (the returned per-doc rows pin exact
    membership, not just counts)."""
    from .operators.split import stratified_sample

    docs = load_table(spark, sf_dir, "documents")
    return stratified_sample(
        docs, "lang", SAMPLE_RATES, "doc_id", default_rate=0.1
    ).select("doc_id", "lang")


def _register_sample_oracle() -> None:
    from .operators.split import duck_stratified_sample_sql

    pred = duck_stratified_sample_sql(
        "lang", SAMPLE_RATES, "doc_id", default_rate=0.1
    )
    ORACLE["sample_stratified"] = (
        f"SELECT doc_id, lang FROM documents WHERE {pred}"
    )


_register_sample_oracle()


@query("sample_temperature", None)  # oracle registered below
def sample_temperature(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-flattened source-mixture sampling
    (`operators/split.temperature_sample`, the n_s^τ multinomial
    data-mixture rule of large-scale pretraining recipes): per-source
    keep-rates derived from one count aggregate (τ=0.5 up-weights
    small sources), broadcast back, membership decided by the salted
    md5 bucket of the id. Fully distributed — counts shuffle once,
    rates ride a broadcast, no driver collect. The hash gate pins
    EXACT per-doc membership (counts → weights → quantized rate →
    bucket predicate all replayed in DuckDB)."""
    from .operators.split import temperature_sample

    docs = load_table(spark, sf_dir, "documents")
    return temperature_sample(
        docs, "source", "doc_id", target_rows=200, temperature=0.5
    ).select("doc_id", "source")


def _register_temperature_oracle() -> None:
    from .operators.split import duck_temperature_sample_sql

    ORACLE["sample_temperature"] = duck_temperature_sample_sql(
        "source", "doc_id", target_rows=200, temperature=0.5
    )


_register_temperature_oracle()


@query("sample_domain_mix", None)  # oracle registered below
def sample_domain_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit-target domain-mixture resampling
    (`operators/split.mixture_sample`): given spec weights over
    sources (the DoReMi-style reweighting case, vs
    ``sample_temperature``'s count-derived rule), emit the largest
    corpus matching the mixture — feasible total ``T = min_s
    size_s/w_s`` with sources weighed by their TOKEN sums (n_chars
    here), per-source rate ``w_s·T/size_s``, membership by salted md5
    bucket. One size aggregate, rates broadcast back, no driver
    collect in the data path. The hash gate pins exact per-doc
    membership (sizes → feasible total → quantized rates → bucket
    predicate replayed in DuckDB)."""
    from .operators.split import mixture_sample

    docs = load_table(spark, sf_dir, "documents")
    w = {"src1": 0.3, "src2": 0.2, "src3": 0.2, "src4": 0.15, "src5": 0.15}
    return mixture_sample(
        docs, "source", "doc_id", w, size_col="n_chars"
    ).select("doc_id", "source")


def _register_mixture_oracle() -> None:
    from .operators.split import duck_mixture_sample_sql

    w = {"src1": 0.3, "src2": 0.2, "src3": 0.2, "src4": 0.15, "src5": 0.15}
    ORACLE["sample_domain_mix"] = duck_mixture_sample_sql(
        "source", "doc_id", w, size_col="n_chars"
    )


_register_mixture_oracle()


@query("text_line_dedup", None)  # oracle registered below
def text_line_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-level boilerplate removal
    (`operators/text.line_dedup`, the CCNet/C4 line-dedup stage):
    segments occurring in ≥2 distinct documents are dropped from
    every document, the remainder reassembled in order. Two uniform
    hash shuffles (segment doc-frequency, per-doc regroup) + one
    left-anti hash join — never doc×doc. The hash gate replays
    segmentation, doc-frequency, filtering, and ordered reassembly
    in DuckDB and compares the cleaned text byte-for-byte."""
    from .operators.text import line_dedup

    docs = load_table(spark, sf_dir, "documents")
    return line_dedup(docs, seg_len=5, min_docs=2)


def _register_line_dedup_oracle() -> None:
    from .operators.text import duck_line_dedup_sql

    ORACLE["text_line_dedup"] = duck_line_dedup_sql(seg_len=5, min_docs=2)


_register_line_dedup_oracle()


@query("pipeline_clean_corpus", None)  # oracle registered below
def pipeline_clean_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Boilerplate-removal curation composition
    (`operators/curation.clean_corpus`, the C4/CCNet stage order):
    quality+length filter → exact dedup (min-id survivor per content
    key) → segment-level line dedup over the survivors → per-doc
    cleanliness accounting. The DuckDB twin replays every stage —
    scoring, survivor selection, segment doc-frequency, ordered
    token accounting — in one CTE chain."""
    from .operators.curation import clean_corpus

    docs = load_table(spark, sf_dir, "documents")
    return clean_corpus(docs, min_quality=0.55, min_tokens=15,
                        seg_len=5, min_docs=2)


def _register_clean_corpus_oracle() -> None:
    from .operators.dedup import NORM_SQL_DUCK
    from .operators.text import QUALITY_SQL_DUCK

    ORACLE["pipeline_clean_corpus"] = f"""
        WITH scored AS (
          SELECT doc_id, lang, text,
                 len(string_split({NORM_SQL_DUCK}, ' ')) AS n_tokens,
                 {QUALITY_SQL_DUCK} AS quality,
                 md5({NORM_SQL_DUCK}) AS ck
          FROM documents),
        filt AS (SELECT * FROM scored
                 WHERE quality >= 0.55 AND n_tokens >= 15),
        winners AS (SELECT ck, MIN(doc_id) AS doc_id FROM filt GROUP BY ck),
        surv AS (SELECT f.doc_id, f.lang, f.text FROM filt f
                 JOIN winners w ON f.ck = w.ck AND f.doc_id = w.doc_id),
        wq AS (
          SELECT doc_id,
                 list_filter(string_split({NORM_SQL_DUCK}, ' '), x -> x <> '') AS toks
          FROM surv),
        seg AS (
          SELECT doc_id, CAST(t.i AS INT) AS pos,
                 array_to_string(list_slice(toks, (t.i - 1) * 5 + 1,
                                            t.i * 5), ' ') AS seg
          FROM wq, UNNEST(range(1, 1 + greatest(CAST(ceil(len(toks) / 5.0) AS BIGINT), 0))) AS t(i)),
        boiler AS (
          SELECT md5(seg) AS sk FROM seg
          GROUP BY 1 HAVING COUNT(DISTINCT doc_id) >= 2),
        k AS (
          SELECT doc_id, COUNT(*) AS n_kept,
                 SUM(len(string_split(seg, ' '))) AS n_tok
          FROM seg WHERE md5(seg) NOT IN (SELECT sk FROM boiler)
          GROUP BY 1),
        tot AS (SELECT doc_id, COUNT(*) AS n_segments FROM seg GROUP BY 1)
        SELECT s.doc_id, s.lang,
               CAST(tot.n_segments AS INT) AS n_segments,
               CAST(COALESCE(k.n_kept, 0) AS INT) AS n_kept,
               CAST(COALESCE(k.n_tok, 0) AS INT) AS n_tokens_clean,
               ROUND(COALESCE(k.n_kept, 0) / CAST(tot.n_segments AS DOUBLE), 6)
                 AS kept_ratio
        FROM surv s JOIN tot USING (doc_id) LEFT JOIN k USING (doc_id)
    """


_register_clean_corpus_oracle()


@query("dedup_incremental", None)  # oracle registered below
def dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Append-only incremental near-dup dedup
    (`operators/dedup.incremental_near_dup`, the production pattern:
    dedup each new crawl batch against the persisted
    signature/shingle STORE of the accepted corpus, never
    re-shingling old data): docs with id < 250 are curated as the
    initial corpus, the rest arrive as the new batch and are
    verified against the store (band join) and themselves (bucket
    expansion). Output: every surviving doc with its phase.

    The DuckDB twin replays the TWO-PHASE semantics exactly (ADVICE
    r4): phase 1 drops higher-id near-dups within the store, phase 2
    drops a batch doc only for a near-dup with a store SURVIVOR or a
    lower-id batch doc — a batch doc matching only a phase-1-DROPPED
    store doc survives in both engines (Jaccard is non-transitive,
    so the full-union greedy run would diverge there). The one
    remaining precondition is the hot-bucket star cap (star_over =
    1024): the oracle expands buckets all-pairs, so the gate assumes
    no band bucket exceeds 1024 docs — at sf0.01/0.1 the largest
    bucket is ≪ 100 (unit-pinned cap behaviour in
    tests/test_dedup_similarity.py covers the capped regime)."""
    from .operators.dedup import incremental_near_dup

    docs = load_table(spark, sf_dir, "documents")
    old = docs.filter(F.col("doc_id") < 250)
    new = docs.filter(F.col("doc_id") >= 250)
    surv1, store1 = incremental_near_dup(old, None, threshold=0.5)
    surv2, _ = incremental_near_dup(new, store1, threshold=0.5)
    return surv1.select(
        "doc_id", F.lit("store").alias("phase")
    ).unionByName(surv2.select("doc_id", F.lit("batch").alias("phase")))


def _register_dedup_incremental_oracle() -> None:
    from .operators.dedup import (
        MINHASH_A,
        MINHASH_B,
        MINHASH_P,
        duck_shingle_hashes,
    )

    sig_terms = ", ".join(
        f"list_min(list_transform(sh, h -> ({MINHASH_A[i]} * h + {MINHASH_B[i]}) % {MINHASH_P}))"
        for i in range(16)
    )
    ORACLE["dedup_incremental"] = f"""
        WITH s AS (SELECT doc_id, {duck_shingle_hashes(3)} AS sh FROM documents),
        sig AS (SELECT doc_id, sh, [{sig_terms}] AS sig FROM s),
        band AS (
          SELECT doc_id, b,
                 md5(array_to_string(list_slice(sig, b*2+1, b*2+2), ',')) AS bh
          FROM sig CROSS JOIN (SELECT unnest(range(0, 8)) AS b) bands),
        cand AS (
          SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
          FROM band a JOIN band b ON a.b = b.b AND a.bh = b.bh
                                 AND a.doc_id < b.doc_id),
        ver AS (
          SELECT c.id_a, c.id_b
          FROM cand c
          JOIN s sa ON sa.doc_id = c.id_a
          JOIN s sb ON sb.doc_id = c.id_b
          WHERE ROUND(len(list_intersect(sa.sh, sb.sh))::DOUBLE
                      / len(list_distinct(sa.sh || sb.sh)), 6) >= 0.5),
        -- phase 1: dedup the store against itself (drop-higher-id)
        drops1 AS (
          SELECT DISTINCT id_b FROM ver WHERE id_a < 250 AND id_b < 250),
        -- phase 2: a batch doc drops on a near-dup with a store
        -- SURVIVOR or a lower-id batch doc; matches against
        -- phase-1-dropped store docs do NOT drop it
        drops2 AS (
          SELECT DISTINCT id_b FROM ver
          WHERE id_b >= 250
            AND (id_a >= 250
                 OR id_a NOT IN (SELECT id_b FROM drops1)))
        SELECT doc_id,
               CASE WHEN doc_id < 250 THEN 'store' ELSE 'batch' END AS phase
        FROM documents
        WHERE (doc_id < 250 AND doc_id NOT IN (SELECT id_b FROM drops1))
           OR (doc_id >= 250 AND doc_id NOT IN (SELECT id_b FROM drops2))
    """


_register_dedup_incremental_oracle()


@query("dedup_incremental_bucketed", None)  # oracle registered below
def dedup_incremental_bucketed_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`dedup_incremental` through the PERSISTED bucketed signature
    store (`operators/dedup.incremental_near_dup_bucketed`, VERDICT
    r4 next-round #3): the store lives as two catalog tables bucketed
    on the band key / doc id, so each batch's band join and shingle
    verify read the store with zero store-side Exchange — the shape
    that matters when the accepted corpus is 100 TB and each crawl
    batch is small. Semantics and oracle are identical to
    `dedup_incremental` (two-phase, drop against store survivors
    only); the hash gate pins the bucketed path against the same
    DuckDB twin. Tables are recreated under /tmp per run."""
    import tempfile

    from .operators.dedup import incremental_near_dup_bucketed

    store = "q_dedup_incr_store"
    for t in (f"{store}__bands", f"{store}__sigs"):
        spark.sql(f"DROP TABLE IF EXISTS {t}")
    path = tempfile.mkdtemp(prefix="spark_graft_incr_store_")
    docs = load_table(spark, sf_dir, "documents")
    old = docs.filter(F.col("doc_id") < 250)
    new = docs.filter(F.col("doc_id") >= 250)
    # buckets sized to the FIXTURE store (~MBs at sf≤0.1; the
    # 128-512 MB/bucket rule in sources/bucketing.py would give 1):
    # 8 keeps multi-bucket layouts exercised while avoiding 4x32
    # near-empty files per run. Production stores size their own.
    surv1 = incremental_near_dup_bucketed(
        old, store, threshold=0.5, buckets=8, path=path
    )
    surv2 = incremental_near_dup_bucketed(
        new, store, threshold=0.5, buckets=8, path=path
    )
    return surv1.select(
        "doc_id", F.lit("store").alias("phase")
    ).unionByName(surv2.select("doc_id", F.lit("batch").alias("phase")))


def _register_dedup_incremental_bucketed_oracle() -> None:
    ORACLE["dedup_incremental_bucketed"] = ORACLE["dedup_incremental"]


_register_dedup_incremental_bucketed_oracle()


@query("filter_quality_top_frac", None)  # oracle registered below
def filter_quality_top_frac(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language percentile quality filter
    (`operators/curation.quality_top_fraction`): keep the top 40% of
    each language by quality score, rank deterministically by
    (quality desc, doc_id) — the distribution-relative curation
    filter (an absolute threshold keeps whatever the corpus happens
    to contain). Window partitioned by the group key, never a global
    sort; the sort-free `exact=False` scale path (per-group
    percentile_approx thresholds, broadcast filter) is
    equivalence-tested in pytest. The twin replays the ranked filter
    in DuckDB."""
    from .operators.curation import quality_top_fraction

    docs = load_table(spark, sf_dir, "documents")
    out = quality_top_fraction(docs, 0.4, group_col="lang")
    return out.select("doc_id", "lang", r6(F.col("quality")).alias("quality"))


def _register_quality_frac_oracle() -> None:
    from .operators.dedup import NORM_SQL_DUCK
    from .operators.text import QUALITY_SQL_DUCK

    ORACLE["filter_quality_top_frac"] = f"""
        WITH scored AS (
          SELECT doc_id, lang, {QUALITY_SQL_DUCK} AS quality
          FROM documents),
        ranked AS (
          SELECT *, ROW_NUMBER() OVER (PARTITION BY lang
                      ORDER BY quality DESC, doc_id) AS rn,
                 COUNT(*) OVER (PARTITION BY lang) AS n
          FROM scored)
        SELECT doc_id, lang, ROUND(quality, 6) AS quality
        FROM ranked WHERE rn <= CEIL(n * 0.4)
    """


_register_quality_frac_oracle()


@query(
    "a7_incremental_rollup",
    """
    SELECT event_type, CAST(date_trunc('day', ts) AS DATE) AS day,
           COUNT(value) AS cnt, ROUND(SUM(value), 6) AS total,
           ROUND(MIN(value), 6) AS vmin, ROUND(MAX(value), 6) AS vmax,
           ROUND(SUM(value) / COUNT(value), 6) AS avg
    FROM events GROUP BY 1, 2
    """,
)
def a7_incremental_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental (backfill-safe) aggregation
    (`operators/incremental.py`): history and a late-arriving delta
    are aggregated SEPARATELY into mergeable partials
    (count/sum/min/max) and merged by key — O(delta + touched keys),
    never a history rescan. The ORACLE is the full recompute, so
    ``merge(partial(A), partial(B)) == partial(A ∪ B)`` is enforced
    cross-engine by the hash gate itself."""
    from .operators.incremental import (
        finalize_rollup,
        merge_rollup,
        partial_rollup,
    )

    ev = load_table(spark, sf_dir, "events").select(
        "event_type",
        F.col("ts").cast("date").alias("day"),
        "value",
        "ts",
    )
    cutoff = "2024-01-25"
    # NTZ literal: a zoned-TIMESTAMP cast would re-interpret the
    # cutoff in the (driver's) session zone and shift rows across the
    # history/delta boundary relative to the naive DuckDB comparison
    # NULL ts fails BOTH complementary predicates and would silently
    # vanish while the DuckDB oracle groups it under a NULL day — so
    # route NULL-ts rows explicitly into the delta branch (ADVICE r2)
    hist = ev.filter(F.col("ts") < F.lit(cutoff).cast("timestamp_ntz"))
    late = ev.filter(
        (F.col("ts") >= F.lit(cutoff).cast("timestamp_ntz"))
        | F.col("ts").isNull()
    )
    keys = ["event_type", "day"]
    state = partial_rollup(hist, keys, "value")
    merged = merge_rollup(state, partial_rollup(late, keys, "value"))
    out = finalize_rollup(merged)
    return out.select(
        "event_type",
        "day",
        "cnt",
        r6(F.col("total")).alias("total"),
        r6(F.col("vmin")).alias("vmin"),
        r6(F.col("vmax")).alias("vmax"),
        r6(F.col("avg")).alias("avg"),
    )


@query("text_tfidf_topterms", None)  # oracle registered below
def text_tfidf_topterms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document TF-IDF keyword extraction
    (`operators/retrieval.tfidf_top_terms`): one token-keyed shuffle
    for (doc, term, tf), vocabulary-sized df join-back, per-document
    window rank (never global); scores rounded before ranking with a
    term tie-break."""
    from .operators.retrieval import tfidf_top_terms

    docs = load_table(spark, sf_dir, "documents")
    return tfidf_top_terms(docs, k=3)


def _register_tfidf_oracle() -> None:
    from .operators.retrieval import duck_tfidf_sql

    ORACLE["text_tfidf_topterms"] = duck_tfidf_sql(k=3)


_register_tfidf_oracle()


@query("pipeline_training_data", None)  # oracle registered below
def pipeline_training_data(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The composed TRAINING-DATA pipeline
    (`operators/curation.training_pipeline`): quality/length filter →
    exact dedup → hash split → train-side DECONTAMINATION against the
    test split (distinct-shingle hash join) → salted stratified
    sampling → fixed-size chunking. One staged normalize/split pass
    feeds every stage; the DuckDB oracle replays all six stages."""
    from .operators.curation import training_pipeline

    docs = load_table(spark, sf_dir, "documents")
    return training_pipeline(docs)


def _register_training_pipeline_oracle() -> None:
    from .operators.dedup import NORM_SQL_DUCK, duck_shingle_hashes
    from .operators.split import (
        duck_split_sql,
        duck_stratified_sample_sql,
    )
    from .operators.text import QUALITY_SQL_DUCK

    sample_pred = duck_stratified_sample_sql(
        "lang", {"en": 0.8, "de": 0.8}, "doc_id", default_rate=0.6
    )
    ORACLE["pipeline_training_data"] = f"""
        WITH scored AS (
          SELECT doc_id, lang, text,
                 len(string_split({NORM_SQL_DUCK}, ' ')) AS n_tokens,
                 {QUALITY_SQL_DUCK} AS quality
          FROM documents),
        filt AS (SELECT * FROM scored
                 WHERE quality >= 0.55 AND n_tokens >= 15),
        keyed AS (SELECT *, md5({NORM_SQL_DUCK}) AS ck FROM filt),
        winners AS (SELECT ck, MIN(doc_id) AS doc_id FROM keyed GROUP BY ck),
        surv AS (SELECT k.* FROM keyed k
                 JOIN winners w ON k.ck = w.ck AND k.doc_id = w.doc_id),
        lab AS (SELECT *, {duck_split_sql("doc_id")} AS split FROM surv),
        test_sh AS (
          SELECT DISTINCT t.s
          FROM (SELECT {duck_shingle_hashes(8)} AS sh FROM lab
                WHERE split = 'test') x, UNNEST(sh) AS t(s)),
        train_sh AS (
          SELECT doc_id, t.s
          FROM (SELECT doc_id, {duck_shingle_hashes(8)} AS sh FROM lab
                WHERE split = 'train') x, UNNEST(sh) AS t(s)),
        contam AS (
          SELECT train_sh.doc_id
          FROM train_sh LEFT JOIN test_sh ON train_sh.s = test_sh.s
          GROUP BY 1
          HAVING AVG(CASE WHEN test_sh.s IS NOT NULL THEN 1.0 ELSE 0.0 END)
                 > 0.5),
        clean AS (
          SELECT * FROM lab WHERE split = 'train'
            AND doc_id NOT IN (SELECT doc_id FROM contam)),
        sampled AS (SELECT * FROM clean WHERE {sample_pred}),
        toks AS (
          SELECT doc_id,
                 list_filter(string_split({NORM_SQL_DUCK}, ' '),
                             x -> x <> '') AS w
          FROM sampled),
        chunks AS (
          SELECT doc_id, CAST(t.i AS INT) AS chunk_id,
                 list_slice(w, (t.i - 1) * 32 + 1, (t.i - 1) * 32 + 32) AS ch
          FROM toks, UNNEST(range(1, 2 + greatest(CAST(ceil((len(w) - 32) / 32.0) AS BIGINT), 0))) AS t(i))
        SELECT doc_id, chunk_id, CAST(len(ch) AS INT) AS n_tokens,
               md5(array_to_string(ch, ' ')) AS chunk_key
        FROM chunks
    """


_register_training_pipeline_oracle()


@query("text_pack_sequences", None)  # oracle registered below
def text_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GPT-style sequence packing (`operators/pack.pack_sequences`):
    concatenate the corpus in doc-id order, cut 64-token sequences,
    emit the (seq, doc, positions) pack manifest. Global token
    offsets come from a two-phase DISTRIBUTED prefix sum
    (range-partition cumsum + broadcast partition prefixes) — never a
    single-partition global window; the result is provably
    boundary-invariant, so the DuckDB oracle is the plain one-window
    cumsum form."""
    from .operators.pack import pack_sequences

    docs = load_table(spark, sf_dir, "documents")
    return pack_sequences(docs, capacity=64)


def _register_pack_oracle() -> None:
    from .operators.pack import duck_pack_sql

    ORACLE["text_pack_sequences"] = duck_pack_sql(capacity=64)


_register_pack_oracle()


@query(
    "j6_local_supplier_volume",
    """
    SELECT n.n_name AS nation,
           ROUND(SUM(l.l_extendedprice * (1 - l.l_discount)), 2) AS revenue,
           COUNT(*) AS n_items
    FROM lineitem l
    JOIN orders o    ON l.l_orderkey = o.o_orderkey
    JOIN customer c  ON o.o_custkey = c.c_custkey
    JOIN supplier s  ON l.l_suppkey = s.s_suppkey
                    AND s.s_nationkey = c.c_nationkey
    JOIN nation n    ON c.c_nationkey = n.n_nationkey
    JOIN region r    ON n.n_regionkey = r.r_regionkey
    WHERE o.o_orderdate >= DATE '1998-01-01'
    GROUP BY 1
    """,
)
def j6_local_supplier_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5-shaped six-table join (the classic star-with-
    same-nation theta edge): fact tables ``lineitem``/``orders``
    shuffle on their join keys once; ``supplier``/``nation``/
    ``region`` are bounded dims and broadcast explicitly; CUSTOMER
    scales with sf, so its join is left to AQE (runtime stats pick
    broadcast at small sf, shuffle at large — a forced hint would
    OOM the driver at the 100 TB framing). The s_nationkey =
    c_nationkey equality rides the supplier broadcast join as an
    extra condition, not a separate shuffle."""
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") >= F.lit("1998-01-01").cast("date")
    )
    c = load_table(spark, sf_dir, "customer")
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region")
    j = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(
            F.broadcast(s),
            (li.l_suppkey == s.s_suppkey)
            & (s.s_nationkey == c.c_nationkey),
        )
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
    )
    return j.groupBy(F.col("n_name").alias("nation")).agg(
        r2(F.sum(li.l_extendedprice * (1 - li.l_discount))).alias("revenue"),
        F.count(F.lit(1)).alias("n_items"),
    )


@query("text_shard_balance", None)  # oracle registered below
def text_shard_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Balanced training-shard assignment (`operators/shard.
    shard_balance`): rank documents by token count descending and
    deal them across 8 shards serpentine-style so per-shard token
    totals even out. The global rank is a two-phase DISTRIBUTED
    row_number (range-partition + broadcast count prefixes — never a
    single-partition window); the DuckDB twin is the plain one-window
    ROW_NUMBER form of the same rule."""
    from .operators.shard import shard_balance

    docs = load_table(spark, sf_dir, "documents")
    return shard_balance(docs, k=8)


def _register_shard_oracle() -> None:
    from .operators.shard import duck_shard_sql

    ORACLE["text_shard_balance"] = duck_shard_sql(k=8)


_register_shard_oracle()


@query("text_vocab_coverage", None)  # oracle registered below
def text_vocab_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-500 corpus vocabulary + per-document OOV rate
    (`operators/text.vocab_coverage`): one combinable token count,
    a TakeOrderedAndProject top-V cut (never a full sort), and a
    broadcast vocab join back onto the token stream. The tokenizer
    health check a 100 TB corpus runs before committing a vocab."""
    from .operators.text import vocab_coverage

    docs = load_table(spark, sf_dir, "documents")
    return vocab_coverage(docs, vocab_size=500)


def _register_vocab_coverage_oracle() -> None:
    from .operators.text import duck_vocab_coverage_sql

    ORACLE["text_vocab_coverage"] = duck_vocab_coverage_sql(vocab_size=500)


_register_vocab_coverage_oracle()


@query("text_bpe_top_pairs", None)
def text_bpe_top_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One distributed BPE tokenizer-training merge round
    (`text.bpe_pair_counts`): adjacent character-pair frequencies
    weighted by word frequency, top-32 merge candidates. Corpus is
    touched by ONE combinable word-count shuffle; pair expansion runs
    on the distinct vocabulary only (sublinear, Heaps' law); final
    selection is TakeOrderedAndProject. Counts are exact integers."""
    from .operators.text import bpe_pair_counts

    d = load_table(spark, sf_dir, "documents")
    return bpe_pair_counts(d, top_n=32)


def _register_bpe_oracle() -> None:
    from .operators.text import duck_bpe_pair_sql

    ORACLE["text_bpe_top_pairs"] = duck_bpe_pair_sql(top_n=32)


_register_bpe_oracle()


@query("text_classifier_score", None)
def text_classifier_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hashed bag-of-words quality-classifier inference
    (`text.hashed_classifier_score`): fastText/CCNet-shaped logistic
    scoring where the weight vector folds into the expression as a
    constant map — ONE narrow JVM pass, no explode, no join, NO
    shuffle. The integer milli-logit keeps the hash gate exact; only
    the final sigmoid is float (rounded 6 dp both engines)."""
    from .operators.text import hashed_classifier_score

    d = load_table(spark, sf_dir, "documents")
    return hashed_classifier_score(d)


def _register_classifier_oracle() -> None:
    from .operators.text import duck_hashed_classifier_sql

    ORACLE["text_classifier_score"] = duck_hashed_classifier_sql()


_register_classifier_oracle()


# Shared twin of one distributed Lloyd step over the seed assignment
# (similarity.kmeans_refine): per-cell 12-dp-rounded component means of
# the assigned members, with the sequential-fold squared norm staged in
# `cn` — both kmeans queries build on this block.
_REFINE_CTE = """,
    mem AS (SELECT n.vec_id, a.cell, n.e
            FROM n JOIN assigned a ON a.vec_id = n.vec_id),
    comp2 AS (
      SELECT cell, pos, ROUND(AVG(x), 12) AS cx
      FROM (SELECT cell, unnest(e) AS x,
                   generate_subscripts(e, 1) AS pos FROM mem)
      GROUP BY 1, 2
    ),
    cv AS (SELECT cell, list(cx ORDER BY pos) AS c FROM comp2 GROUP BY 1),
    cn AS (
      SELECT cell, c,
             list_reduce(list_transform(c, y -> y * y), (a, b) -> a + b) AS s2
      FROM cv
    )"""


@query(
    "ann_kmeans_refine",
    _SEED_ASSIGN_CTE
    + _REFINE_CTE
    + """
    SELECT cell, pos - 1 AS pos,
           ROUND(x / CASE WHEN s2 = 0 THEN 1.0 ELSE sqrt(s2) END, 6) AS c
    FROM (SELECT cell, unnest(c) AS x,
                 generate_subscripts(c, 1) AS pos, s2 FROM cn)
    """,
)
def ann_kmeans_refine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One distributed Lloyd step of spherical k-means
    (`similarity.kmeans_refine`) from the deterministic seed
    centroids: joinless expression assignment (constant centroid
    literal, one narrow JVM pass) + a combinable groupBy(cell, pos)
    mean, so index training runs on the FULL corpus — per iteration
    one map-side-reducible pass; only the (nlist × d) centroid frame
    moves. The whole step (assign + mean + sequential-fold
    normalization) replays in SQL and sits in the hash gate."""
    from .operators.similarity import kmeans_refine

    emb = load_table(spark, sf_dir, "embeddings")
    return kmeans_refine(emb, nlist=16)


@query(
    "ann_ivf_trained_profile",
    _SEED_ASSIGN_CTE
    + _REFINE_CTE
    + """,
    centr AS (
      SELECT cell,
             list_transform(c, x -> ROUND(x /
               CASE WHEN s2 = 0 THEN 1.0 ELSE sqrt(s2) END, 6)) AS c
      FROM cn
    ),
    sims2 AS (
      SELECT n.vec_id, cr.cell, list_dot_product(n.e, cr.c) AS s
      FROM n CROSS JOIN centr cr
    ),
    rank2 AS (
      SELECT vec_id, cell, s,
             ROW_NUMBER() OVER (PARTITION BY vec_id
                                ORDER BY s DESC, cell ASC) AS rn
      FROM sims2
    )
    SELECT cell, COUNT(*) AS n_members, ROUND(AVG(s), 6) AS avg_cos
    FROM rank2 WHERE rn = 1 GROUP BY cell
    """,
)
def ann_ivf_trained_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """END-TO-END index training in the hash gate: one full-corpus
    Lloyd step (`kmeans_refine`), re-assign the corpus to the REFINED
    centroids, profile the trained cells — the train → index →
    dashboard chain a production IVF build runs, with the whole
    composition (seed assign, distributed mean, fold normalization,
    6-dp centroid snap, argmax re-assign, per-cell aggregate)
    replayed in one DuckDB CTE chain. Cells emptied by the refinement
    simply don't reappear (same rule both engines)."""
    import numpy as np

    from .operators.similarity import cluster_profile, kmeans_refine

    emb = load_table(spark, sf_dir, "embeddings")
    rows = kmeans_refine(emb, nlist=16).collect()
    cells = sorted({r["cell"] for r in rows})
    dim = max(r["pos"] for r in rows) + 1
    C = np.zeros((len(cells), dim), dtype=np.float64)
    idx = {c: i for i, c in enumerate(cells)}
    for r in rows:
        C[idx[r["cell"]], r["pos"]] = r["c"]
    prof = cluster_profile(emb, centroids=C)
    cell_map = F.array(*[F.lit(c) for c in cells])
    return prof.select(
        F.element_at(cell_map, F.col("cell") + 1).alias("cell"),
        "n_members",
        "avg_cos",
    )


@query(
    "sample_cluster_balanced",
    _SEED_ASSIGN_CTE
    + """,
    dc AS (SELECT d.doc_id, a.cell
           FROM documents d JOIN assigned a ON a.vec_id = d.doc_id),
    c AS (SELECT cell, COUNT(*) AS n FROM dc GROUP BY 1),
    z AS (SELECT SUM(pow(CAST(n AS DOUBLE), 0.5)) AS z FROM c),
    r AS (SELECT cell,
                 LEAST(1.0, 200.0 * pow(CAST(n AS DOUBLE), 0.5)
                       / z.z / CAST(n AS DOUBLE)) AS rate
          FROM c, z)
    SELECT t.doc_id, t.cell
    FROM dc t JOIN r USING (cell)
    WHERE CAST(('0x' || substr(md5('semtemp:' || CAST(t.doc_id AS VARCHAR)), 1, 4)) AS INT)
          < CAST(round(r.rate * 65536) AS INT)
    """,
)
def sample_cluster_balanced(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SEMANTIC-cluster-balanced corpus sampling: temperature-flatten
    the mixture over embedding-space cells instead of a metadata
    column — the diversity-balancing recipe when the skew you want to
    flatten is topical, not source-labeled. Composition of two gated
    operators: joinless cell assignment (`with_assigned_cell`, narrow
    JVM pass over the embeddings) + `temperature_sample(group_col=
    cell)` (one count shuffle, broadcast rates, salted-md5 bucket
    membership — deterministic, nestable). The docs↔cells join is
    id↔id co-keyed (bucket/colocate it at 100 TB)."""
    from .operators.similarity import seed_centroids, with_assigned_cell
    from .operators.split import temperature_sample

    emb = load_table(spark, sf_dir, "embeddings")
    docs = load_table(spark, sf_dir, "documents")
    cells = with_assigned_cell(
        emb.select(
            F.col("vec_id"),
            F.col("embedding").cast("array<double>").alias("__v"),
        ),
        seed_centroids(emb, 16),
    ).select(F.col("vec_id").alias("doc_id"), "cell")
    joined = docs.select("doc_id").join(cells, "doc_id")
    out = temperature_sample(
        joined, "cell", "doc_id", target_rows=200,
        temperature=0.5, salt="semtemp",
    )
    return out.select("doc_id", "cell")


@query(
    "ann_pq_adc_top1",
    """
    WITH v AS (
      SELECT vec_id,
             list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
      FROM embeddings
    ),
    comp AS (
      SELECT CAST(vec_id % 16 AS INT) AS cell, pos, ROUND(AVG(x), 12) AS cx
      FROM (SELECT vec_id, unnest(e) AS x,
                   generate_subscripts(e, 1) AS pos FROM v)
      GROUP BY 1, 2
    ),
    cent AS (SELECT cell, list(cx ORDER BY pos) AS c FROM comp GROUP BY 1),
    ss(s) AS (VALUES (0), (1), (2), (3)),
    dist AS (
      SELECT v.vec_id, ss.s, ct.cell,
             list_reduce(
               list_transform(generate_series(1, 16),
                 i -> (v.e[ss.s * 16 + i] - ct.c[ss.s * 16 + i])
                      * (v.e[ss.s * 16 + i] - ct.c[ss.s * 16 + i])),
               (a, b) -> a + b) AS dd
      FROM v CROSS JOIN ss CROSS JOIN cent ct
    ),
    picked AS (
      SELECT vec_id, s, cell AS code, dd,
             ROW_NUMBER() OVER (PARTITION BY vec_id, s
                                ORDER BY dd ASC, cell ASC) AS rn
      FROM dist
    ),
    codes AS (SELECT vec_id, s, code FROM picked WHERE rn = 1),
    probes AS (SELECT vec_id AS pid, e FROM v WHERE vec_id % 100 = 0),
    pd AS (
      SELECT cd.vec_id, pr.pid, cd.s,
             list_reduce(
               list_transform(generate_series(1, 16),
                 i -> (pr.e[cd.s * 16 + i] - ct.c[cd.s * 16 + i])
                      * (pr.e[cd.s * 16 + i] - ct.c[cd.s * 16 + i])),
               (a, b) -> a + b) AS dsub
      FROM codes cd JOIN cent ct ON ct.cell = cd.code
      CROSS JOIN probes pr
    ),
    adc AS (
      SELECT vec_id, pid,
             ROUND(list_reduce(list(dsub ORDER BY s), (a, b) -> a + b), 6)
               AS adc
      FROM pd GROUP BY 1, 2
    ),
    best AS (
      SELECT vec_id, pid, adc,
             ROW_NUMBER() OVER (PARTITION BY vec_id
                                ORDER BY adc ASC, pid ASC) AS rn
      FROM adc
    )
    SELECT vec_id, pid AS nearest_probe, adc FROM best WHERE rn = 1
    """,
)
def ann_pq_adc_top1(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PQ asymmetric-distance search (`similarity.pq_adc_top1`) --
    the serving half of product quantization: every corpus vector is
    represented ONLY by its 4 codes; its distance to each probe
    (vec_id % 100 == 0) is 4 lookup-table adds. LUTs fold into the
    scoring expression as constants, so the whole search is one
    narrow ZERO-shuffle pass over the coded corpus -- the property
    that makes PQ serving cheap at 100 TB. Codes, LUT arithmetic
    (sequential folds both engines), rounded ADC, and the
    probe-ascending argmin all replay in the twin."""
    from .operators.similarity import pq_adc_top1

    emb = load_table(spark, sf_dir, "embeddings")
    return pq_adc_top1(emb, m=4, k=16, probe_mod=100)


@query(
    "ann_sq8_adc_top1",
    """
    WITH v AS (
      SELECT vec_id,
             list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
      FROM embeddings
    ),
    mm AS (
      SELECT pos, MIN(x) AS mn, MAX(x) AS mx
      FROM (SELECT unnest(e) AS x, generate_subscripts(e, 1) AS pos FROM v)
      GROUP BY 1
    ),
    mml AS (SELECT list(mn ORDER BY pos) AS mn, list(mx ORDER BY pos) AS mx
            FROM mm),
    codes AS (
      SELECT v.vec_id,
             list_transform(generate_series(1, 64),
               i -> CASE WHEN m.mx[i] = m.mn[i] THEN 0
                    ELSE least(255, greatest(0, CAST(floor(
                      ((v.e[i] - m.mn[i]) * 256.0) / (m.mx[i] - m.mn[i])
                    ) AS BIGINT))) END) AS code
      FROM v CROSS JOIN mml m
    ),
    recon AS (
      SELECT c.vec_id,
             list_transform(generate_series(1, 64),
               i -> CASE WHEN m.mx[i] = m.mn[i] THEN m.mn[i]
                    ELSE m.mn[i] + (((CAST(c.code[i] AS DOUBLE) + 0.5)
                         * (m.mx[i] - m.mn[i])) / 256.0) END) AS r
      FROM codes c CROSS JOIN mml m
    ),
    probes AS (SELECT vec_id AS pid, e FROM v WHERE vec_id % 100 = 0),
    dist AS (
      SELECT rc.vec_id, pr.pid,
             ROUND(list_reduce(list_transform(generate_series(1, 64),
               i -> (pr.e[i] - rc.r[i]) * (pr.e[i] - rc.r[i])),
               (a, b) -> a + b), 6) AS adc
      FROM recon rc CROSS JOIN probes pr
    ),
    best AS (
      SELECT vec_id, pid, adc,
             ROW_NUMBER() OVER (PARTITION BY vec_id
                                ORDER BY adc ASC, pid ASC) AS rn
      FROM dist
    )
    SELECT vec_id, pid AS nearest_probe, adc FROM best WHERE rn = 1
    """,
)
def ann_sq8_adc_top1(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQ8 scalar-quantization serving (`similarity.sq8_adc_top1`) —
    the codebook-free little sibling of PQ, completing the
    quantization family (PQ codes / IVF-PQ / SQ8): train = ONE
    min/max scan (2·d partial-agg cells), encode = one narrow
    constant-folded JVM pass (d float32 → d uint8, 4× smaller), serve
    = squared-L2 of each probe (vec_id % 100 == 0) against the
    RECONSTRUCTED codes in one Arrow pass with the probe block in the
    closure — ZERO corpus shuffle end-to-end. Codes are integer-exact
    across engines (floor/clamp of identical IEEE arithmetic); the
    twin replays train, encode, reconstruction, the ascending-i
    left-associated distance fold, the 6-dp snap, and the
    probe-ascending argmin."""
    from .operators.similarity import sq8_adc_top1

    emb = load_table(spark, sf_dir, "embeddings")
    return sq8_adc_top1(emb, d=64, probe_mod=100)


# the full IVF-PQ composition through per-candidate rounded ADC —
# shared by the serving query (top-k over it) and the recall audit
# (top-1 vs the exact arm)
_IVFPQ_CTE = """,
    centr AS (
      SELECT cell,
             list_transform(c, x -> ROUND(x /
               CASE WHEN s2 = 0 THEN 1.0 ELSE sqrt(s2) END, 6)) AS c
      FROM cn
    ),
    sims2 AS (
      SELECT n.vec_id, cr.cell, list_dot_product(n.e, cr.c) AS s
      FROM n CROSS JOIN centr cr
    ),
    rank2 AS (
      SELECT vec_id, cell,
             ROW_NUMBER() OVER (PARTITION BY vec_id
                                ORDER BY s DESC, cell ASC) AS rn
      FROM sims2
    ),
    asg2 AS (SELECT vec_id, cell FROM rank2 WHERE rn = 1),
    resid AS (
      SELECT a.vec_id, a.cell,
             list_transform(generate_series(1, 64),
                            i -> n.e[i] - cr.c[i]) AS r
      FROM asg2 a JOIN n ON n.vec_id = a.vec_id
      JOIN centr cr ON cr.cell = a.cell
    ),
    pcomp AS (
      SELECT CAST(vec_id % 16 AS INT) AS code, pos, ROUND(AVG(x), 12) AS cx
      FROM (SELECT vec_id, unnest(r) AS x,
                   generate_subscripts(r, 1) AS pos FROM resid)
      GROUP BY 1, 2
    ),
    pcb AS (SELECT code, list(cx ORDER BY pos) AS c FROM pcomp GROUP BY 1),
    ss(s) AS (VALUES (0), (1), (2), (3)),
    pdist AS (
      SELECT rs.vec_id, ss.s, pb.code,
             list_reduce(list_transform(generate_series(1, 16),
               i -> (rs.r[ss.s * 16 + i] - pb.c[ss.s * 16 + i])
                  * (rs.r[ss.s * 16 + i] - pb.c[ss.s * 16 + i])),
               (a, b) -> a + b) AS dd
      FROM resid rs CROSS JOIN ss CROSS JOIN pcb pb
    ),
    pcode AS (
      SELECT vec_id, s, code FROM (
        SELECT vec_id, s, code,
               ROW_NUMBER() OVER (PARTITION BY vec_id, s
                                  ORDER BY dd ASC, code ASC) AS rn
        FROM pdist) WHERE rn = 1
    ),
    qp AS (SELECT vec_id AS qid, e FROM n WHERE vec_id % 200 = 0),
    qcell AS (
      SELECT q.qid, cr.cell,
             ROUND(list_reduce(list_transform(generate_series(1, 64),
               i -> (q.e[i] - cr.c[i]) * (q.e[i] - cr.c[i])),
               (a, b) -> a + b), 6) AS d
      FROM qp q CROSS JOIN centr cr
    ),
    probed AS (
      SELECT qid, cell FROM (
        SELECT qid, cell,
               ROW_NUMBER() OVER (PARTITION BY qid
                                  ORDER BY d ASC, cell ASC) AS rn
        FROM qcell) WHERE rn <= 2
    ),
    cand AS (SELECT pr.qid, a.vec_id, a.cell
             FROM probed pr JOIN asg2 a ON a.cell = pr.cell),
    term AS (
      SELECT c.qid, c.vec_id, pc.s,
             list_reduce(list_transform(generate_series(1, 16),
               i -> (q.e[pc.s * 16 + i] - cr.c[pc.s * 16 + i]
                       - pb.c[pc.s * 16 + i])
                  * (q.e[pc.s * 16 + i] - cr.c[pc.s * 16 + i]
                       - pb.c[pc.s * 16 + i])),
               (a, b) -> a + b) AS t
      FROM cand c
      JOIN qp q ON q.qid = c.qid
      JOIN centr cr ON cr.cell = c.cell
      JOIN pcode pc ON pc.vec_id = c.vec_id
      JOIN pcb pb ON pb.code = pc.code
    ),
    adcv AS (
      SELECT qid, vec_id,
             ROUND(list_reduce(list(t ORDER BY s), (a, b) -> a + b), 6)
               AS adc
      FROM term GROUP BY 1, 2
    )"""


@query(
    "ann_ivfpq_search",
    _SEED_ASSIGN_CTE
    + _REFINE_CTE
    + _IVFPQ_CTE
    + """
    SELECT qid, rank, vec_id, adc FROM (
      SELECT qid, vec_id, adc,
             CAST(ROW_NUMBER() OVER (PARTITION BY qid
                                     ORDER BY adc ASC, vec_id ASC) AS INT)
               AS rank
      FROM adcv) WHERE rank <= 3
    """,
)
def ann_ivfpq_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The FULL IVF-PQ index chain in ONE hash gate (VERDICT r6 item
    7; `similarity.ivfpq_search`): train the coarse quantizer with a
    distributed Lloyd step, assign + take residuals against the
    trained cells, seed + encode a residual PQ codebook, then serve
    probe queries (vec_id % 200 == 0) through IVF cell routing
    (nprobe=2) and asymmetric-distance scoring over the 4-byte codes
    — top-3 per query. The twin unrolls the ENTIRE composition
    (seeded assign -> Lloyd mean -> 6-dp centroid snap -> re-assign
    -> residual -> codebook seed -> per-subspace argmin encode ->
    probe routing -> LUT ADC -> rounded (adc, id) top-k) in one CTE
    chain — the `ann_ivf_trained_profile` pattern extended through
    the serving path. Corpus-side cost: one narrow JVM pass (train
    moves nlist×d; the serving LUT rides the Arrow closure; batches
    emit local top-k only)."""
    from .operators.similarity import ivfpq_search

    emb = load_table(spark, sf_dir, "embeddings")
    return ivfpq_search(
        emb, nlist=16, m=4, k=16, nprobe=2, topk=3, probe_mod=200
    )


def _pinned_ivfpq_core_sql(
    source: str = "embeddings", probe_mod: int = 200
) -> str | None:
    """Shared serve-from-pinned-artifacts CTE prefix (through the
    per-candidate ``adcv`` ADC table): the SAME pipeline as
    `_IVFPQ_CTE`'s serving half, but with the coarse centroids and
    the residual PQ codebook injected as repr-string-cast literal
    VALUES from the pinned artifact JSON (`tools/gen_ivfpq_pinned.py`
    — trained once at sf0.01 by the repo's own deterministic
    pipeline). No Lloyd CTEs, no codebook derivation: both engines
    serve from identical bit-exact constants. ``source`` swaps the
    corpus CTE (the planted-recall twin reads ``aug``);
    ``probe_mod`` picks the probe id rule. Tails: the serve/postings
    twins rank adcv directly; the refine twins re-rank the ADC
    survivor set by exact distance (r11)."""
    import json
    import os

    path = os.path.join(
        os.path.dirname(__file__), "pinned", "ivfpq_artifacts.json"
    )
    if not os.path.exists(path):
        return None
    with open(path) as f:
        art = json.load(f)

    def dlist(vals):
        return (
            "["
            + ", ".join(f"CAST('{float(x)!r}' AS DOUBLE)" for x in vals)
            + "]"
        )

    centr_vals = ",\n        ".join(
        f"({i}, {dlist(row)})" for i, row in enumerate(art["centroids"])
    )
    pcb_vals = ",\n        ".join(
        f"({j}, {dlist(row)})" for j, row in enumerate(art["codebook"])
    )
    return f"""
    n AS (
      SELECT vec_id,
             list_transform(embedding, x -> x::DOUBLE /
               sqrt(list_sum(list_transform(embedding, y -> y::DOUBLE * y::DOUBLE))))
               AS e
      FROM {source}
    ),
    centr(cell, c) AS (VALUES
        {centr_vals}),
    pcb(code, c) AS (VALUES
        {pcb_vals}),
    sims2 AS (
      SELECT n.vec_id, cr.cell, list_dot_product(n.e, cr.c) AS s
      FROM n CROSS JOIN centr cr
    ),
    rank2 AS (
      SELECT vec_id, cell,
             ROW_NUMBER() OVER (PARTITION BY vec_id
                                ORDER BY s DESC, cell ASC) AS rn
      FROM sims2
    ),
    asg2 AS (SELECT vec_id, cell FROM rank2 WHERE rn = 1),
    resid AS (
      SELECT a.vec_id, a.cell,
             list_transform(generate_series(1, 64),
                            i -> n.e[i] - cr.c[i]) AS r
      FROM asg2 a JOIN n ON n.vec_id = a.vec_id
      JOIN centr cr ON cr.cell = a.cell
    ),
    ss(s) AS (VALUES (0), (1), (2), (3)),
    pdist AS (
      SELECT rs.vec_id, ss.s, pb.code,
             list_reduce(list_transform(generate_series(1, 16),
               i -> (rs.r[ss.s * 16 + i] - pb.c[ss.s * 16 + i])
                  * (rs.r[ss.s * 16 + i] - pb.c[ss.s * 16 + i])),
               (a, b) -> a + b) AS dd
      FROM resid rs CROSS JOIN ss CROSS JOIN pcb pb
    ),
    pcode AS (
      SELECT vec_id, s, code FROM (
        SELECT vec_id, s, code,
               ROW_NUMBER() OVER (PARTITION BY vec_id, s
                                  ORDER BY dd ASC, code ASC) AS rn
        FROM pdist) WHERE rn = 1
    ),
    qp AS (SELECT vec_id AS qid, e FROM n WHERE vec_id % {probe_mod} = 0),
    qcell AS (
      SELECT q.qid, cr.cell,
             ROUND(list_reduce(list_transform(generate_series(1, 64),
               i -> (q.e[i] - cr.c[i]) * (q.e[i] - cr.c[i])),
               (a, b) -> a + b), 6) AS d
      FROM qp q CROSS JOIN centr cr
    ),
    probed AS (
      SELECT qid, cell FROM (
        SELECT qid, cell,
               ROW_NUMBER() OVER (PARTITION BY qid
                                  ORDER BY d ASC, cell ASC) AS rn
        FROM qcell) WHERE rn <= 2
    ),
    cand AS (SELECT pr.qid, a.vec_id, a.cell
             FROM probed pr JOIN asg2 a ON a.cell = pr.cell),
    term AS (
      SELECT c.qid, c.vec_id, pc.s,
             list_reduce(list_transform(generate_series(1, 16),
               i -> (q.e[pc.s * 16 + i] - cr.c[pc.s * 16 + i]
                       - pb.c[pc.s * 16 + i])
                  * (q.e[pc.s * 16 + i] - cr.c[pc.s * 16 + i]
                       - pb.c[pc.s * 16 + i])),
               (a, b) -> a + b) AS t
      FROM cand c
      JOIN qp q ON q.qid = c.qid
      JOIN centr cr ON cr.cell = c.cell
      JOIN pcode pc ON pc.vec_id = c.vec_id
      JOIN pcb pb ON pb.code = pc.code
    ),
    adcv AS (
      SELECT qid, vec_id,
             ROUND(list_reduce(list(t ORDER BY s), (a, b) -> a + b), 6)
               AS adc
      FROM term GROUP BY 1, 2
    )"""


def _pinned_ivfpq_serve_sql() -> str | None:
    """Serve twin: pinned core + pure-ADC rank tail (rank <= topk=3)."""
    core = _pinned_ivfpq_core_sql()
    if core is None:
        return None
    return (
        "\n    WITH "
        + core
        + """
    SELECT qid, rank, vec_id, adc FROM (
      SELECT qid, vec_id, adc,
             CAST(ROW_NUMBER() OVER (PARTITION BY qid
                                     ORDER BY adc ASC, vec_id ASC) AS INT)
               AS rank
      FROM adcv) WHERE rank <= 3
    """
    )


def _pinned_ivfpq_refine_sql() -> str | None:
    """Refine twin (r11, VERDICT r10 item 2): pinned core through
    ``adcv``, then the EXACT refine replay — ADC top-(topk·r)=9
    survivors per query, each survivor's TRUE squared-L2 against the
    normalized corpus vector (the sequential list_reduce fold, 6-dp
    snap), re-ranked (d_exact ASC, id ASC), top-3 served. The hash
    gate therefore pins the over-fetch bound, the exact re-rank
    arithmetic, AND the surviving candidates' ADC values."""
    core = _pinned_ivfpq_core_sql()
    if core is None:
        return None
    return (
        "\n    WITH "
        + core
        + """,
    surv AS (
      SELECT qid, vec_id, adc FROM (
        SELECT qid, vec_id, adc,
               ROW_NUMBER() OVER (PARTITION BY qid
                                  ORDER BY adc ASC, vec_id ASC) AS rn
        FROM adcv) WHERE rn <= 9
    ),
    rex AS (
      SELECT s.qid, s.vec_id, s.adc,
             ROUND(list_reduce(list_transform(generate_series(1, 64),
               i -> (q.e[i] - n2.e[i]) * (q.e[i] - n2.e[i])),
               (a, b) -> a + b), 6) AS d_exact
      FROM surv s
      JOIN qp q ON q.qid = s.qid
      JOIN n n2 ON n2.vec_id = s.vec_id
    )
    SELECT qid, rank, vec_id, d_exact, adc FROM (
      SELECT qid, vec_id, d_exact, adc,
             CAST(ROW_NUMBER() OVER (PARTITION BY qid
                                     ORDER BY d_exact ASC, vec_id ASC)
                  AS INT) AS rank
      FROM rex) WHERE rank <= 3
    """
    )


@query("ann_ivfpq_serve", None)  # pinned-artifact oracle set below
def ann_ivfpq_serve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SERVE-ONLY IVF-PQ (VERDICT r7 item 3): `similarity.ivfpq_search`
    fed the PRE-TRAINED coarse quantizer + residual PQ codebook from
    the pinned artifact JSON (train-once via `similarity.ivfpq_train`
    / `tools/gen_ivfpq_pinned.py`), so the query prices pure serving:
    ONE narrow constant-folded normalize→assign→residual→encode pass
    over the corpus plus the Arrow/expr ADC arm — no Lloyd pass, no
    codebook group-means, zero corpus shuffle. This is the number a
    production store quotes (the chain query `ann_ivfpq_search` is
    the retrain cost). The twin serves from the SAME doubles as
    literal VALUES, keeping the offline-trained path hash-gated."""
    import numpy as _np

    from .operators.similarity import ivfpq_search

    import json as _json
    import os as _os

    path = _os.path.join(
        _os.path.dirname(__file__), "pinned", "ivfpq_artifacts.json"
    )
    with open(path) as f:
        art = _json.load(f)
    emb = load_table(spark, sf_dir, "embeddings")
    return ivfpq_search(
        emb, nlist=16, m=4, k=16, nprobe=2, topk=3, probe_mod=200,
        centroids=_np.array(art["centroids"], dtype=_np.float64),
        codebook=_np.array(art["codebook"], dtype=_np.float64),
    )


_ivfpq_serve_pin = _pinned_ivfpq_serve_sql()
if _ivfpq_serve_pin is not None:
    ORACLE["ann_ivfpq_serve"] = _ivfpq_serve_pin


@query("ann_ivfpq_postings", None)  # pinned-artifact oracle set below
def ann_ivfpq_postings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INCREMENTAL INDEX MAINTENANCE end to end (r10 — the
    production lifecycle `ann_ivfpq_serve` prices only half of):
    TWO id-ordered batches PQ-encode with the pinned train-once
    artifacts and append postings to the persisted ``__pq`` table
    (bucketed + sorted on cell — `similarity.ivfpq_postings_append`,
    no Lloyd pass, no codebook fit, one narrow constant-folded pass
    per batch); serving then routes the probe set driver-side and
    reads ONLY the probed cells' postings (broadcast semi on the
    cell set; ZERO store-side Exchange, no re-encode, no full-corpus
    scan — serving cost ∝ probed postings, the 100-TB property).
    Because the encode arithmetic is batch-split-invariant, the twin
    is the SAME pinned serve SQL as `ann_ivfpq_serve` — the hash gate
    pins that growing the index by appends changes NOTHING vs a
    one-shot encode. Store isolation/exchange-freeness/append
    mechanics are pinned in tests/test_pq_postings.py."""
    import json as _json
    import os as _os

    import numpy as _np

    from .operators.similarity import (
        ivfpq_postings_append,
        ivfpq_postings_search,
    )

    path = _os.path.join(
        _os.path.dirname(__file__), "pinned", "ivfpq_artifacts.json"
    )
    with open(path) as f:
        art = _json.load(f)
    C = _np.array(art["centroids"], dtype=_np.float64)
    cb = _np.array(art["codebook"], dtype=_np.float64)
    store = "q_ann_pq_postings"
    spath = _session_store_dir("spark_graft_pq_store_")
    emb = load_table(spark, sf_dir, "embeddings")
    n_half = 250
    for i, pred in enumerate(
        (F.col("vec_id") < n_half, F.col("vec_id") >= n_half)
    ):
        ivfpq_postings_append(
            emb.filter(pred), store, C, cb, m=4, k=16,
            buckets=8, path=spath, fresh=(i == 0),
        )
    return ivfpq_postings_search(
        spark, store, emb.filter(F.col("vec_id") % 200 == 0),
        C, cb, m=4, k=16, nprobe=2, topk=3,
    )


if _ivfpq_serve_pin is not None:
    ORACLE["ann_ivfpq_postings"] = _ivfpq_serve_pin


def _load_ivfpq_artifacts():
    import json as _json
    import os as _os

    import numpy as _np

    path = _os.path.join(
        _os.path.dirname(__file__), "pinned", "ivfpq_artifacts.json"
    )
    with open(path) as f:
        art = _json.load(f)
    return (
        _np.array(art["centroids"], dtype=_np.float64),
        _np.array(art["codebook"], dtype=_np.float64),
    )


@query("ann_ivfpq_refine", None)  # pinned-artifact oracle set below
def ann_ivfpq_refine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ADC→EXACT REFINE serving (r11, VERDICT r10 item 2): the
    production recall-recovery stage on top of the postings store —
    append batches persist BOTH the PQ postings and the normalized
    original vectors (``__vec`` sidecar, bucketed on cell beside the
    postings), then serving over-fetches ADC top-(3·3)=9 per probe
    from the probed cells' postings and exact-re-ranks the survivors
    against their true vectors via ONE bucket-pruned broadcast join
    (`similarity.ivfpq_postings_refine_search` — the corpus is never
    re-scanned or re-encoded; refine cost ∝ r·k per probe, a
    constant at 100 TB). The twin replays the pinned-artifact ADC
    serve through the survivor cut AND the sequential-fold exact
    re-rank, so the hash pins the over-fetch bound, the true-distance
    arithmetic, and the surviving ADC values together."""
    from .operators.similarity import (
        ivfpq_postings_append,
        ivfpq_postings_refine_search,
    )

    C, cb = _load_ivfpq_artifacts()
    store = "q_ann_pq_refine"
    spath = _session_store_dir("spark_graft_pqr_store_")
    emb = load_table(spark, sf_dir, "embeddings")
    n_half = 250
    for i, pred in enumerate(
        (F.col("vec_id") < n_half, F.col("vec_id") >= n_half)
    ):
        ivfpq_postings_append(
            emb.filter(pred), store, C, cb, m=4, k=16,
            buckets=8, path=spath, fresh=(i == 0), store_vectors=True,
        )
    return ivfpq_postings_refine_search(
        spark, store, emb.filter(F.col("vec_id") % 200 == 0),
        C, cb, m=4, k=16, nprobe=2, topk=3, refine_factor=3,
    )


_ivfpq_refine_pin = _pinned_ivfpq_refine_sql()
if _ivfpq_refine_pin is not None:
    ORACLE["ann_ivfpq_refine"] = _ivfpq_refine_pin



# planted near-neighbor families (VERDICT r7 item 2): the synthetic
# corpus is near-uniform in 64-d, so recall@1 was 0 BY CONSTRUCTION
# and the audit could not catch a routing regression. For every probe
# (vec_id % 100 == 0) we plant ONE companion vector — the probe with a
# single coordinate (pos = vec_id % 64) nudged by δ, alternating a
# tiny δ (0.02: companion stays the probe's cell-mate, index SHOULD
# find it → hit 1) and a large δ (1.5: companion is still the exact
# top-1 but its direction moves enough that quantized routing/scoring
# legitimately struggles → hit 0 on most). The audit's recall is now
# structurally strictly between 0 and 1, so a wrong nprobe cell list
# or broken cell ranking flips pinned rows. All planted arithmetic is
# single double ops (exact on both engines); ids offset by 7,777,777
# (never ≡ 0 mod 100 → never probed themselves).
_PLANT_DUCK = """
    WITH aug AS (
      SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS embedding
      FROM embeddings
      UNION ALL
      SELECT vec_id + 7777777 AS vec_id,
             list_transform(generate_series(1, 64),
               i -> CASE WHEN i = CAST(vec_id % 64 AS INT) + 1
                    THEN embedding[i]::DOUBLE
                         + (CASE WHEN (vec_id // 100) % 2 = 0
                            THEN CAST('0.02' AS DOUBLE)
                            ELSE CAST('1.5' AS DOUBLE) END)
                    ELSE embedding[i]::DOUBLE END) AS embedding
      FROM embeddings WHERE vec_id % 100 = 0),
"""

_PLANT_SPARK_EXPR = """
    transform(sequence(1, 64),
      i -> CASE WHEN i = CAST(vec_id % 64 AS INT) + 1
           THEN CAST(element_at(embedding, i) AS DOUBLE)
                + (CASE WHEN (vec_id div 100) % 2 = 0
                   THEN CAST('0.02' AS DOUBLE)
                   ELSE CAST('1.5' AS DOUBLE) END)
           ELSE CAST(element_at(embedding, i) AS DOUBLE) END)
"""


def _planted_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    base = emb.select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )
    planted = emb.filter((F.col("vec_id") % 100) == 0).select(
        (F.col("vec_id") + F.lit(7777777)).alias("vec_id"),
        F.expr(_PLANT_SPARK_EXPR).alias("embedding"),
    )
    return base.unionByName(planted)


@query(
    "ann_ivfpq_recall",
    _PLANT_DUCK
    + _SEED_ASSIGN_CTE.replace("WITH n AS", "n AS").replace(
        "FROM embeddings", "FROM aug"
    )
    + _REFINE_CTE
    + _IVFPQ_CTE.replace("vec_id % 200", "vec_id % 100")
    + """,
    ex AS (
      SELECT q.qid, n2.vec_id,
             ROUND(list_reduce(list_transform(generate_series(1, 64),
               i -> (q.e[i] - n2.e[i]) * (q.e[i] - n2.e[i])),
               (a, b) -> a + b), 6) AS d
      FROM qp q JOIN n n2 ON n2.vec_id <> q.qid
    ),
    exr AS (
      SELECT qid, vec_id AS exact_id, d,
             ROW_NUMBER() OVER (PARTITION BY qid
                                ORDER BY d ASC, vec_id ASC) AS rn
      FROM ex
    ),
    ivf1 AS (
      SELECT qid, vec_id AS ivfpq_id FROM (
        SELECT qid, vec_id,
               ROW_NUMBER() OVER (PARTITION BY qid
                                  ORDER BY adc ASC, vec_id ASC) AS rnk
        FROM adcv WHERE vec_id <> qid) WHERE rnk = 1
    )
    SELECT i.qid, i.ivfpq_id, e.exact_id,
           CAST(i.ivfpq_id = e.exact_id AS INT) AS hit,
           di.d AS d_ivfpq, e.d AS d_exact
    FROM ivf1 i
    JOIN exr e ON e.qid = i.qid AND e.rn = 1
    JOIN ex di ON di.qid = i.qid AND di.vec_id = i.ivfpq_id
    ORDER BY i.qid
    """,
)
def ann_ivfpq_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@1 + distance-ratio AUDIT of the IVF-PQ index
    (`similarity.ivfpq_recall_top1`, r7): per probe query, the
    index's top-1 (self excluded), the EXACT squared-L2 top-1 over
    the full normalized corpus, the hit flag, and BOTH winners' true
    distances — the quality metrics a production vector store ships
    next to its latency numbers (the `ann_ivf_top1` recall-floor
    pattern extended through quantization). The corpus is AUGMENTED
    with one planted near-neighbor per probe (see `_PLANT_DUCK`,
    VERDICT r7 item 2): on the raw near-uniform synthetic corpus,
    distances concentrate and hit was 0 BY CONSTRUCTION, so the audit
    could not catch a routing regression; the alternating tiny/large
    perturbation schedule pins a recall STRICTLY between 0 and 1 —
    a wrong nprobe cell list or broken cell ranking now flips pinned
    hit rows. The d_ivfpq/d_exact ratio columns stay. The exact arm
    stays scale-sane: one Arrow scan emitting per-batch per-query
    winners, a bounded Window(qid) merge — never corpus x corpus.
    Both arms and both engines share the 6-dp snap and the
    (distance ASC, id ASC) tie rule, so every column is exact."""
    from .operators.similarity import ivfpq_recall_top1

    return ivfpq_recall_top1(
        _planted_embeddings(spark, sf_dir),
        nlist=16, m=4, k=16, nprobe=2, probe_mod=100,
    )


@query("ann_ivfpq_refine_recall", None)  # planted oracle set below
def ann_ivfpq_refine_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RECALL LIFT of the refine stage (r11, VERDICT r10 item 2): on
    the planted-companion corpus (`_planted_embeddings` — every probe
    has exactly one true nearest neighbor at qid+7777777, the
    alternating tiny/large-δ schedule of `ann_ivfpq_recall`), serve
    each probe BOTH ways from the same postings+vectors store:
    pure-ADC top-1 vs ADC top-9 → exact re-rank top-1. Returns one
    row per probe with both winners and both hit flags, so the hash
    gate pins the per-probe lift itself: a tiny-δ companion the
    16-bit PQ code cannot separate at rank 1 IS separated by the
    exact re-rank (hit_refined ≥ hit_adc row-wise wherever routing
    reached the companion), while a large-δ routing miss stays
    missed — refine recovers quantization loss, not routing loss.
    The aggregate lift is additionally pinned in
    tests/test_ivfpq_refine.py."""
    from .operators.similarity import (
        ivfpq_postings_append,
        ivfpq_postings_refine_search,
        ivfpq_postings_search,
    )

    C, cb = _load_ivfpq_artifacts()
    store = "q_ann_pq_refine_recall"
    spath = _session_store_dir("spark_graft_pqrr_store_")
    aug = _planted_embeddings(spark, sf_dir)
    ivfpq_postings_append(
        aug, store, C, cb, m=4, k=16, buckets=8, path=spath,
        fresh=True, store_vectors=True,
    )
    probes = aug.filter((F.col("vec_id") % 100) == 0)
    a1 = ivfpq_postings_search(
        spark, store, probes, C, cb, m=4, k=16, nprobe=2, topk=1,
        exclude_self=True,
    ).select("qid", F.col("vec_id").alias("adc_id"))
    r1 = ivfpq_postings_refine_search(
        spark, store, probes, C, cb, m=4, k=16, nprobe=2, topk=1,
        refine_factor=9, exclude_self=True,
    ).select("qid", F.col("vec_id").alias("refined_id"))
    return (
        a1.join(r1, "qid")
        .select(
            "qid",
            "adc_id",
            "refined_id",
            (F.col("adc_id") == F.col("qid") + F.lit(7777777))
            .cast("int")
            .alias("hit_adc"),
            (F.col("refined_id") == F.col("qid") + F.lit(7777777))
            .cast("int")
            .alias("hit_refined"),
        )
        .orderBy("qid")
    )


def _pinned_ivfpq_refine_recall_sql() -> str | None:
    core = _pinned_ivfpq_core_sql(source="aug", probe_mod=100)
    if core is None:
        return None
    return (
        _PLANT_DUCK
        + core
        + """,
    adcx AS (SELECT qid, vec_id, adc FROM adcv WHERE vec_id <> qid),
    a1 AS (
      SELECT qid, vec_id AS adc_id FROM (
        SELECT qid, vec_id,
               ROW_NUMBER() OVER (PARTITION BY qid
                                  ORDER BY adc ASC, vec_id ASC) AS rn
        FROM adcx) WHERE rn = 1),
    surv AS (
      SELECT qid, vec_id FROM (
        SELECT qid, vec_id,
               ROW_NUMBER() OVER (PARTITION BY qid
                                  ORDER BY adc ASC, vec_id ASC) AS rn
        FROM adcx) WHERE rn <= 9),
    rex AS (
      SELECT s.qid, s.vec_id,
             ROUND(list_reduce(list_transform(generate_series(1, 64),
               i -> (q.e[i] - n2.e[i]) * (q.e[i] - n2.e[i])),
               (a, b) -> a + b), 6) AS d
      FROM surv s
      JOIN qp q ON q.qid = s.qid
      JOIN n n2 ON n2.vec_id = s.vec_id),
    r1 AS (
      SELECT qid, vec_id AS refined_id FROM (
        SELECT qid, vec_id,
               ROW_NUMBER() OVER (PARTITION BY qid
                                  ORDER BY d ASC, vec_id ASC) AS rn
        FROM rex) WHERE rn = 1)
    SELECT a.qid, a.adc_id, r.refined_id,
           CAST(a.adc_id = a.qid + 7777777 AS INT) AS hit_adc,
           CAST(r.refined_id = r.qid + 7777777 AS INT) AS hit_refined
    FROM a1 a JOIN r1 r ON r.qid = a.qid
    ORDER BY a.qid
    """
    )


_ivfpq_refine_recall_pin = _pinned_ivfpq_refine_recall_sql()
if _ivfpq_refine_recall_pin is not None:
    ORACLE["ann_ivfpq_refine_recall"] = _ivfpq_refine_recall_pin


# mean-centered Gram + 3 unrolled power-iteration rounds — shared by
# the PCA analysis query and the whitening-apply query
_PCA_CTE = """
    WITH v AS (
      SELECT vec_id,
             list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
      FROM embeddings
    ),
    upos AS (
      SELECT vec_id, unnest(e) AS x, generate_subscripts(e, 1) AS pos
      FROM v
    ),
    mu AS (SELECT pos, ROUND(AVG(x), 12) AS m FROM upos GROUP BY 1),
    cpos AS (
      SELECT u.vec_id, u.pos, u.x - mu.m AS c
      FROM upos u JOIN mu ON mu.pos = u.pos
    ),
    g AS (
      SELECT a.pos AS i, b.pos AS j, ROUND(SUM(a.c * b.c), 9) AS g
      FROM cpos a JOIN cpos b ON a.vec_id = b.vec_id
      GROUP BY 1, 2
    ),
    x1 AS (SELECT j, SUM(g) AS x FROM g GROUP BY 1),
    x2 AS (SELECT g.j AS j, SUM(g.g * x1.x) AS x
           FROM g JOIN x1 ON x1.j = g.i GROUP BY 1),
    x3 AS (SELECT g.j AS j, SUM(g.g * x2.x) AS x
           FROM g JOIN x2 ON x2.j = g.i GROUP BY 1),
    nrm AS (SELECT sqrt(SUM(x * x)) AS n FROM x3)"""


@query(
    "ann_pca_power",
    _PCA_CTE
    + """
    SELECT j - 1 AS pos, ROUND(x / n, 6) AS loading
    FROM x3, nrm ORDER BY pos
    """,
)
def ann_pca_power(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top principal component of the embedding corpus
    (`similarity.pca_power_component`, r7): distributed mean-centered
    Gram (one Arrow scan emitting d^2 partials per batch, one
    combinable groupBy(i,j)) + 3 unrolled power-iteration rounds from
    the ones vector — the dominant-direction/whitening analysis an
    embedding pipeline runs before similarity work. Only tasks x d^2
    cells ever move; the twin replays centering, the full Gram, each
    SUM-join iteration round, and the final unit normalization."""
    from .operators.similarity import pca_power_component

    emb = load_table(spark, sf_dir, "embeddings")
    return pca_power_component(emb, iters=3)


@query(
    "ann_pca_top2",
    _PCA_CTE
    + """,
    u1 AS (SELECT j AS i, ROUND(x / n, 6) AS u FROM x3, nrm),
    lam1 AS (
      SELECT ROUND(SUM(a.u * g.g * b.u), 9) AS l
      FROM g JOIN u1 a ON a.i = g.i JOIN u1 b ON b.i = g.j
    ),
    g2 AS (
      SELECT g.i, g.j, ROUND(g.g - lam1.l * a.u * b.u, 9) AS g
      FROM g JOIN u1 a ON a.i = g.i JOIN u1 b ON b.i = g.j, lam1
    ),
    y1 AS (SELECT j, SUM(g) AS x FROM g2 GROUP BY 1),
    y2 AS (SELECT g2.j AS j, SUM(g2.g * y1.x) AS x
           FROM g2 JOIN y1 ON y1.j = g2.i GROUP BY 1),
    y3 AS (SELECT g2.j AS j, SUM(g2.g * y2.x) AS x
           FROM g2 JOIN y2 ON y2.j = g2.i GROUP BY 1),
    nrm2 AS (SELECT sqrt(SUM(x * x)) AS n FROM y3)
    SELECT 0 AS component, i - 1 AS pos, u AS loading FROM u1
    UNION ALL
    SELECT 1 AS component, j - 1 AS pos, ROUND(x / n, 6) AS loading
    FROM y3, nrm2
    ORDER BY component, pos
    """,
)
def ann_pca_top2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-2 principal components via Hotelling DEFLATION on the
    one-scan distributed Gram (`similarity.pca_top_components`, r8) —
    what ABTT-style whitening actually removes (the top FEW
    directions, not one). The corpus is scanned once; each deflation
    round is pure d×d driver arithmetic. The twin unrolls the whole
    second round: u1's 6-dp snap, the 9-dp Rayleigh λ1 (a 4096-term
    engine-order sum, snapped like the Gram cells), the bit-exact
    deflated Gram g − (λ·u_i)·u_j re-snapped to 9 dp, then the same
    three SUM-join matvec rounds and unit normalization."""
    from .operators.similarity import pca_top_components

    emb = load_table(spark, sf_dir, "embeddings")
    return pca_top_components(emb, k=2, iters=3)


@query(
    "ann_cluster_topterms",
    _SEED_ASSIGN_CTE
    + _REFINE_CTE
    + """,
    centr AS (
      SELECT cell,
             list_transform(c, x -> ROUND(x /
               CASE WHEN s2 = 0 THEN 1.0 ELSE sqrt(s2) END, 6)) AS c
      FROM cn
    ),
    sims2 AS (
      SELECT n.vec_id, cr.cell, list_dot_product(n.e, cr.c) AS s
      FROM n CROSS JOIN centr cr
    ),
    rank2 AS (
      SELECT vec_id, cell,
             ROW_NUMBER() OVER (PARTITION BY vec_id
                                ORDER BY s DESC, cell ASC) AS rn
      FROM sims2
    ),
    asg2 AS (SELECT vec_id, cell FROM rank2 WHERE rn = 1),
    toks AS (
      SELECT d.doc_id, t.tok
      FROM documents d,
           UNNEST(list_filter(string_split(trim(regexp_replace(
             regexp_replace(lower(d.text), '[^a-z0-9 ]', ' ', 'g'),
             ' +', ' ', 'g')), ' '), x -> x <> '')) AS t(tok)),
    tf AS (
      SELECT a.cell, t.tok, COUNT(*) AS tf
      FROM toks t JOIN asg2 a ON a.vec_id = t.doc_id
      GROUP BY 1, 2
    ),
    dfc AS (SELECT tok, COUNT(*) AS dfc FROM tf GROUP BY 1),
    scored AS (
      SELECT tf.cell, tf.tok,
             ROUND(tf.tf * LN(16.0 / dfc.dfc), 6) AS score
      FROM tf JOIN dfc USING (tok)
    ),
    rankt AS (
      SELECT cell, tok, score,
             CAST(ROW_NUMBER() OVER (PARTITION BY cell
                  ORDER BY score DESC, tok) AS INT) AS rank
      FROM scored)
    SELECT cell, rank, tok, score FROM rankt WHERE rank <= 3
    """,
)
def ann_cluster_topterms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semantic-cluster LABELING (`retrieval.cluster_top_terms`, r8):
    per trained k-means cell, the top-3 c-TF-IDF terms of the member
    documents (BERTopic-style cluster-level IDF: ln(nlist/df_cells) —
    shared vocabulary scores to ~0, cell-specific vocabulary rises) —
    the "what IS cluster 7" report a curation pipeline runs before
    setting per-topic SemDeDup thresholds or mixture weights. One
    Lloyd step trains the cells (nlist×d moves), the joinless argmax
    assigns, one (cell|token)-keyed reduce + a per-cell rank window —
    nothing global, nothing doc×doc. The twin replays train →
    re-assign → tokenize → c-TF-IDF → rank in one CTE chain."""
    from .operators.retrieval import cluster_top_terms

    emb = load_table(spark, sf_dir, "embeddings")
    docs = load_table(spark, sf_dir, "documents")
    return cluster_top_terms(emb, docs, nlist=16, k=3)


@query(
    "ann_abtt2_norms",
    _PCA_CTE
    + """,
    u1 AS (SELECT j AS i, ROUND(x / n, 6) AS u FROM x3, nrm),
    lam1 AS (
      SELECT ROUND(SUM(a.u * g.g * b.u), 9) AS l
      FROM g JOIN u1 a ON a.i = g.i JOIN u1 b ON b.i = g.j
    ),
    g2 AS (
      SELECT g.i, g.j, ROUND(g.g - lam1.l * a.u * b.u, 9) AS g
      FROM g JOIN u1 a ON a.i = g.i JOIN u1 b ON b.i = g.j, lam1
    ),
    y1 AS (SELECT j, SUM(g) AS x FROM g2 GROUP BY 1),
    y2 AS (SELECT g2.j AS j, SUM(g2.g * y1.x) AS x
           FROM g2 JOIN y1 ON y1.j = g2.i GROUP BY 1),
    y3 AS (SELECT g2.j AS j, SUM(g2.g * y2.x) AS x
           FROM g2 JOIN y2 ON y2.j = g2.i GROUP BY 1),
    nrm2 AS (SELECT sqrt(SUM(x * x)) AS n FROM y3),
    u1v AS (SELECT list(u ORDER BY i) AS u FROM u1),
    u2v AS (SELECT list(ROUND(x / n, 6) ORDER BY j) AS u FROM y3, nrm2),
    pv AS (
      SELECT v.vec_id, v.e,
             list_reduce(list_transform(generate_series(1, 64),
               i -> v.e[i] * a.u[i]), (x, y) -> x + y) AS p1,
             list_reduce(list_transform(generate_series(1, 64),
               i -> v.e[i] * b.u[i]), (x, y) -> x + y) AS p2
      FROM v CROSS JOIN u1v a CROSS JOIN u2v b
    )
    SELECT vec_id, ROUND(p1, 6) AS proj_0, ROUND(p2, 6) AS proj_1,
           ROUND(sqrt(list_reduce(list_transform(generate_series(1, 64),
             i -> (pv.e[i] - pv.p1 * a.u[i] - pv.p2 * b.u[i])
                * (pv.e[i] - pv.p1 * a.u[i] - pv.p2 * b.u[i])),
             (x, y) -> x + y)), 6) AS resid_norm
    FROM pv CROSS JOIN u1v a CROSS JOIN u2v b ORDER BY vec_id
    """,
)
def ann_abtt2_norms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ABTT apply with the top-2 DEFLATED components
    (`similarity.remove_top_directions` over `pca_top_components`,
    r8) — all-but-the-top proper: per vector both projections and
    ``‖v − p₁u₁ − p₂u₂‖``. The 128 loadings fold into ONE narrow JVM
    pass (no join, no shuffle); the twin re-derives u1, the 9-dp
    Rayleigh deflation, u2, and replays projections + residual with
    identical left-associated per-element arithmetic."""
    from .operators.similarity import (
        pca_top_components,
        remove_top_directions,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    rows = pca_top_components(emb, k=2, iters=3).collect()
    d = max(r["pos"] for r in rows) + 1
    U = [[0.0] * d for _ in range(2)]
    for r in rows:
        U[r["component"]][r["pos"]] = r["loading"]
    return remove_top_directions(emb, U)


@query(
    "ann_whiten_norms",
    _PCA_CTE
    + """,
    lvec AS (
      SELECT list(ROUND(x / n, 6) ORDER BY j) AS u FROM x3, nrm
    ),
    pv AS (
      SELECT v.vec_id, v.e,
             list_reduce(list_transform(generate_series(1, 64),
               i -> v.e[i] * l.u[i]), (a, b) -> a + b) AS p
      FROM v CROSS JOIN lvec l
    )
    SELECT vec_id, ROUND(p, 6) AS proj,
           ROUND(sqrt(list_reduce(list_transform(generate_series(1, 64),
             i -> (pv.e[i] - pv.p * l.u[i]) * (pv.e[i] - pv.p * l.u[i])),
             (a, b) -> a + b)), 6) AS resid_norm
    FROM pv CROSS JOIN lvec l ORDER BY vec_id
    """,
)
def ann_whiten_norms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """APPLY the whitening direction corpus-wide
    (`similarity.remove_dominant_direction`, r7): per vector, its
    projection onto `ann_pca_power`'s unit top component and the
    all-but-the-top residual norm ``‖v − (v·u)u‖`` — the ABTT
    correction pass that follows the PCA analysis. The 64 (6-dp)
    loadings fold into ONE narrow JVM expression pass (no join, no
    shuffle); the twin re-derives the same rounded loadings through
    the shared Gram/power CTE and replays projection + residual with
    the same sequential folds."""
    from .operators.similarity import (
        pca_power_component,
        remove_dominant_direction,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    rows = pca_power_component(emb, iters=3).collect()
    u = [0.0] * len(rows)
    for r in rows:
        u[r["pos"]] = r["loading"]
    return remove_dominant_direction(emb, u)


@query("text_token_drift", None)  # oracle registered below
def text_token_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus drift report (`text.token_drift`): per-token KL
    contribution between two slices (deterministic parity split
    standing in for two crawl snapshots), top-20 over-represented
    tokens. ONE combinable token shuffle builds both slices' counts
    (conditional sums); scalar totals broadcast back; exact integer
    counts + 6dp contributions keep the gate stable."""
    from .operators.text import token_drift

    d = load_table(spark, sf_dir, "documents")
    return token_drift(d, top_n=20)


def _register_token_drift_oracle() -> None:
    from .operators.text import duck_token_drift_sql

    ORACLE["text_token_drift"] = duck_token_drift_sql(20)


_register_token_drift_oracle()


@query("text_quality_curriculum", None)  # oracle registered below
def text_quality_curriculum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT global quality deciles for curriculum schedules
    (`text.quality_curriculum`): the global total order runs through
    the two-phase distributed row_number (range partition + broadcast
    count prefixes -- `shard.global_rank`, the same machinery as
    packing/sharding), never a single-partition window; bucket =
    ceil(10*rank/N) replicated verbatim in the twin (not NTILE, whose
    remainder rule differs)."""
    from .operators.text import quality_curriculum

    d = load_table(spark, sf_dir, "documents")
    return d.transform(lambda x: quality_curriculum(x, n_buckets=10))


def _register_curriculum_oracle() -> None:
    from .operators.text import duck_quality_curriculum_sql

    ORACLE["text_quality_curriculum"] = duck_quality_curriculum_sql(10)


_register_curriculum_oracle()


@query(
    "ann_pq_encode",
    """
    WITH v AS (
      SELECT vec_id,
             list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
      FROM embeddings
    ),
    comp AS (
      SELECT CAST(vec_id % 16 AS INT) AS cell, pos, ROUND(AVG(x), 12) AS cx
      FROM (SELECT vec_id, unnest(e) AS x,
                   generate_subscripts(e, 1) AS pos FROM v)
      GROUP BY 1, 2
    ),
    cent AS (SELECT cell, list(cx ORDER BY pos) AS c FROM comp GROUP BY 1),
    ss(s) AS (VALUES (0), (1), (2), (3)),
    dist AS (
      SELECT v.vec_id, ss.s, ct.cell,
             list_reduce(
               list_transform(generate_series(1, 16),
                 i -> (v.e[ss.s * 16 + i] - ct.c[ss.s * 16 + i])
                      * (v.e[ss.s * 16 + i] - ct.c[ss.s * 16 + i])),
               (a, b) -> a + b) AS dd
      FROM v CROSS JOIN ss CROSS JOIN cent ct
    ),
    picked AS (
      SELECT vec_id, s, cell AS code, dd,
             ROW_NUMBER() OVER (PARTITION BY vec_id, s
                                ORDER BY dd ASC, cell ASC) AS rn
      FROM dist
    )
    SELECT vec_id,
           CAST(MAX(CASE WHEN s = 0 THEN code END) AS INT) AS code_0,
           CAST(MAX(CASE WHEN s = 1 THEN code END) AS INT) AS code_1,
           CAST(MAX(CASE WHEN s = 2 THEN code END) AS INT) AS code_2,
           CAST(MAX(CASE WHEN s = 3 THEN code END) AS INT) AS code_3,
           ROUND(list_reduce(list(dd ORDER BY s), (a, b) -> a + b), 6)
             AS distortion
    FROM picked WHERE rn = 1 GROUP BY vec_id
    """,
)
def ann_pq_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization encode (`similarity.pq_encode`, m=4
    subspaces x k=16 centroids): the embedding-compression pass a
    100 TB vector corpus runs before storage (64 floats -> 4 codes).
    Sub-codebooks seed deterministically (`pq_seed_codebook`,
    L2-space analogue of the seed centroids) and fold into the encode
    expression as constants -- ONE narrow JVM pass, zero shuffle. The
    twin replays seeding, per-subspace squared-L2 argmin (dd ASC,
    code ASC ties), and the s-ordered distortion fold, so codes AND
    distortion sit in the hash gate. The gated output flattens the
    library's ``codes array<int>`` to scalar ``code_0..code_3``
    columns (r6 VERDICT: the driver canonicalizer hashes scalar
    columns only; `tests/test_queries_gate.py` now guards the whole
    registry against complex-typed outputs)."""
    from .operators.similarity import pq_encode

    emb = load_table(spark, sf_dir, "embeddings")
    coded = pq_encode(emb, m=4, k=16)
    return coded.select(
        "vec_id",
        *[
            F.element_at("codes", s + 1).alias(f"code_{s}")
            for s in range(4)
        ],
        "distortion",
    )


@query(
    "dedup_semantic_incremental",
    _SEED_ASSIGN_CTE
    + """,
    mem AS (SELECT a.vec_id, a.cell, n.e
            FROM assigned a JOIN n ON n.vec_id = a.vec_id),
    dropped AS (
      SELECT DISTINCT b.vec_id
      FROM mem a JOIN mem b
        ON a.cell = b.cell AND a.vec_id < b.vec_id
       AND ROUND(list_dot_product(a.e, b.e), 6) >= 0.4
    )
    SELECT m.vec_id, m.cell
    FROM mem m LEFT JOIN dropped d ON d.vec_id = m.vec_id
    WHERE d.vec_id IS NULL
    """,
)
def dedup_semantic_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup over an id-ordered batch stream against the persisted
    per-cell vector store (`similarity.
    incremental_semantic_dedup_bucketed`): the store holds every SEEN
    vector bucketed on its cell, so each batch's candidate join reads
    the store exchange-free and never re-reads old batches — and the
    id-greedy rule makes incremental survivors EXACTLY the one-shot
    `dedup_semantic` survivors over the union, which is the twin."""
    from .operators.similarity import (
        incremental_semantic_dedup_bucketed,
        seed_centroids,
        with_assigned_cell,
    )

    # store path allocated ONCE per process; the first batch passes
    # fresh=True so every run overwrites in place — the same
    # noise-discipline fix the other incremental stores got at r8
    # (the former DROP TABLE + mkdtemp per run paid a metastore +
    # directory-churn round inside the timed window)
    store = "q_sem_store"
    path = _session_store_dir("spark_graft_sem_store_")
    emb = load_table(spark, sf_dir, "embeddings")
    C = seed_centroids(emb, 16)
    s1 = incremental_semantic_dedup_bucketed(
        emb.filter(F.col("vec_id") < 250), store, C, eps=0.4,
        buckets=8, path=path, fresh=True,
    )
    s2 = incremental_semantic_dedup_bucketed(
        emb.filter(F.col("vec_id") >= 250), store, C, eps=0.4,
        buckets=8, path=path,
    )
    surv = s1.unionByName(s2).select(
        "vec_id", F.col("embedding").cast("array<double>").alias("__v")
    )
    return with_assigned_cell(surv, C).select("vec_id", "cell")


@query("text_bpe_learned_merges", None)  # oracle registered below
def text_bpe_learned_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Three rounds of FULL distributed BPE training
    (`text.bpe_train`): the learned merge sequence
    ``(merge_round, a, b, c)``, hash-gated against an UNROLLED DuckDB
    twin that replays each round's pair-count argmax and correlated
    greedy fold merge — an ITERATIVE distributed algorithm inside the
    value-hash gate. Per round the corpus-sized work is zero (the
    vocabulary frame carries everything after one word-count pass);
    the driver sees one argmax row per round."""
    from .operators.text import bpe_train

    d = load_table(spark, sf_dir, "documents")
    merges, _ = bpe_train(d, rounds=3, min_pair_count=1, keep_vocab=False)
    return spark.createDataFrame(
        [(i + 1, a, b, c) for i, (a, b, c) in enumerate(merges)],
        "merge_round int, a string, b string, c long",
    )


def _register_bpe_train_oracle() -> None:
    from .operators.text import duck_bpe_train_sql

    ORACLE["text_bpe_learned_merges"] = duck_bpe_train_sql(rounds=3)


_register_bpe_train_oracle()


@query("text_unigram_lm_pieces", None)  # oracle registered below
def text_unigram_lm_pieces(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unigram-LM (SentencePiece-style) tokenizer training
    (`text.unigram_lm_train` — VERDICT r9 missing item 3, completing
    the tokenizer family beside BPE): seed pieces from word
    substrings (length ≤ 3, alphabet-bounded model), then TWO EM
    rounds — E-step = Viterbi segmentation of the DISTINCT vocabulary
    under the broadcast model (one narrow Arrow pass; the corpus is
    read once, into the same (word, count) frame BPE trains on),
    M-step = one combinable piece-count aggregation; single-char
    coverage backstop between rounds. Reports the top-20 final pieces
    ``(piece, c, p)``. Hash-gated END TO END: the twin unrolls BOTH
    EM rounds, running the Viterbi as a recursive CTE that carries
    the last 3 DP states per word and folds candidate extensions with
    the identical l-ascending strictly-greater rule; scores are the
    same IEEE products of c/total divisions in the same order, so
    every tie resolves identically. Scale shape: vocabulary-sided EM
    (corpus → ONE word-count shuffle, each round |vocab| Viterbi rows
    + a model-sized agg); the model stays broadcastable at any corpus
    size because the piece inventory is bounded by |charset|^3."""
    from .operators.text import unigram_lm_train

    d = load_table(spark, sf_dir, "documents")
    counts = unigram_lm_train(d, rounds=2)
    tot = counts.agg(F.sum("c").alias("total"))
    return (
        counts.crossJoin(F.broadcast(tot))
        .select(
            "piece",
            "c",
            F.round(F.col("c") / F.col("total"), 9).alias("p"),
        )
        .orderBy(F.col("c").desc(), F.col("piece").asc())
        .limit(20)
    )


def _register_unigram_lm_oracle() -> None:
    from .operators.text import duck_unigram_lm_sql

    ORACLE["text_unigram_lm_pieces"] = duck_unigram_lm_sql(
        rounds=2, top_n=20
    )


@query("text_unigram_lm_pruned", None)  # oracle registered below
def text_unigram_lm_pruned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unigram-LM INVENTORY PRUNING (r11, VERDICT r10 item 4 — the
    SentencePiece shrink step `text_unigram_lm_pieces` stops short
    of): after the two fixed-inventory EM rounds, every multi-char
    piece is scored by its EXACT leave-one-out likelihood loss
    (`text.unigram_lm_prune_train`: removing a piece only re-routes
    words whose Viterbi segmentation used it, so one banned-piece DP
    per distinct segment piece per word — still vocabulary-sided,
    one extra Arrow pass over the cached (word, count) frame), the
    bottom 25% are dropped under the 6-dp-rounded (loss ASC, piece
    ASC) cut, and one more EM round runs on the pruned inventory.
    Reports the post-prune top-20 ``(piece, c, p)``. The twin unrolls
    the WHOLE chain — both EM rounds, the segmentation+score DP, the
    per-(word, banned-piece) leave-one-out DP as a recursive CTE, the
    ln-loss aggregation, the ranked cut, and the final pruned EM —
    so the prune decision itself sits inside the hash gate."""
    from .operators.text import unigram_lm_prune_train

    d = load_table(spark, sf_dir, "documents")
    counts = unigram_lm_prune_train(d, rounds=2)
    tot = counts.agg(F.sum("c").alias("total"))
    return (
        counts.crossJoin(F.broadcast(tot))
        .select(
            "piece",
            "c",
            F.round(F.col("c") / F.col("total"), 9).alias("p"),
        )
        .orderBy(F.col("c").desc(), F.col("piece").asc())
        .limit(20)
    )


def _register_unigram_prune_oracle() -> None:
    from .operators.text import duck_unigram_prune_sql

    ORACLE["text_unigram_lm_pruned"] = duck_unigram_prune_sql(
        rounds=2, top_n=20
    )


_register_unigram_prune_oracle()


@query("text_unigram_encode", None)  # oracle registered below
def text_unigram_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ENCODE the corpus under the trained+pruned unigram model
    (`text.unigram_encode_stats`, r11 — completes the train→encode
    lifecycle beside `text_bpe_encode`): per document the word
    count, the piece count its Viterbi segmentation produces under
    the pruned inventory, and the chars-per-piece compression ratio.
    Segmentation runs ONCE PER DISTINCT WORD (one Arrow pass over
    the cached vocab), then the document token stream joins the
    word-level stats — the corpus is never segmented row by row.
    The twin replays the full EM+prune chain, the per-word Viterbi
    under the pruned model, and the token join + rollup."""
    from .operators.text import unigram_encode_stats

    d = load_table(spark, sf_dir, "documents")
    return unigram_encode_stats(d, rounds=2)


def _register_unigram_encode_oracle() -> None:
    from .operators.text import duck_unigram_encode_sql

    ORACLE["text_unigram_encode"] = duck_unigram_encode_sql(rounds=2)


_register_unigram_encode_oracle()


_register_unigram_lm_oracle()


@query("text_bpe_encode", None)  # oracle registered below
def text_bpe_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SERVING half of the tokenizer (r7): train 3 BPE merges
    (`text.bpe_train`), then TOKENIZE the corpus with them
    (`text.bpe_encode_token_counts`) — top-20 token frequencies after
    encoding. Same vocabulary-sided layout as training: one
    word-count shuffle, merges applied in learned order as narrow
    per-word folds on the DISTINCT vocabulary, one vocab-sized
    weighted count — train → encode closes the tokenizer loop the way
    a 100 TB pretokenization pass runs it. Exact integer counts; the
    twin replays training AND encoding in one CTE chain."""
    from .operators.text import bpe_encode_token_counts, bpe_train

    d = load_table(spark, sf_dir, "documents")
    merges, _ = bpe_train(d, rounds=3, min_pair_count=1, keep_vocab=False)
    return bpe_encode_token_counts(d, merges, top_n=20)


def _register_bpe_encode_oracle() -> None:
    from .operators.text import duck_bpe_encode_sql

    ORACLE["text_bpe_encode"] = duck_bpe_encode_sql(rounds=3, top_n=20)


_register_bpe_encode_oracle()


@query("dedup_incremental_exact", None)  # oracle registered below
def dedup_incremental_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup against a PERSISTED bucketed content-key store
    (`operators/dedup.incremental_exact_dedup_bucketed`): each crawl
    batch anti-joins the accepted corpus's md5-key table — bucketed
    on the key, so the store side reads exchange-free and only the
    batch shuffles (once; the in-batch min-id window shares the key).
    Two id-ordered batches here ≡ one full-corpus min-id exact dedup,
    which is the DuckDB twin."""
    import tempfile

    from .operators.dedup import incremental_exact_dedup_bucketed

    store = "q_dedup_exact_store"
    spark.sql(f"DROP TABLE IF EXISTS {store}__keys")
    path = tempfile.mkdtemp(prefix="spark_graft_exact_store_")
    docs = load_table(spark, sf_dir, "documents")
    s1 = incremental_exact_dedup_bucketed(
        docs.filter(F.col("doc_id") < 250), store, buckets=8, path=path
    )
    s2 = incremental_exact_dedup_bucketed(
        docs.filter(F.col("doc_id") >= 250), store, buckets=8, path=path
    )
    from .operators.dedup import content_key

    return (
        s1.unionByName(s2)
        .select("doc_id", content_key().alias("ck"))
    )


def _register_dedup_incremental_exact_oracle() -> None:
    from .operators.dedup import NORM_SQL_DUCK

    ORACLE["dedup_incremental_exact"] = f"""
        WITH keyed AS (
          SELECT doc_id, md5({NORM_SQL_DUCK}) AS ck FROM documents)
        SELECT doc_id, ck FROM keyed
        QUALIFY ROW_NUMBER() OVER (PARTITION BY ck ORDER BY doc_id) = 1
    """


_register_dedup_incremental_exact_oracle()


@query(
    "ann_knn_label_vote",
    _SEED_ASSIGN_CTE
    + """,
    mem AS (SELECT a.vec_id, a.cell, n.e, e2.label
            FROM assigned a
            JOIN n ON n.vec_id = a.vec_id
            JOIN embeddings e2 ON e2.vec_id = a.vec_id),
    pairs AS (
      SELECT a.vec_id, b.vec_id AS nb, b.label,
             ROUND(list_dot_product(a.e, b.e), 6) AS s
      FROM mem a JOIN mem b
        ON a.cell = b.cell AND a.vec_id <> b.vec_id
    ),
    nb_ranked AS (
      SELECT vec_id, nb, label,
             ROW_NUMBER() OVER (PARTITION BY vec_id
                                ORDER BY s DESC, nb ASC) AS rn
      FROM pairs
    ),
    votes AS (
      SELECT vec_id, label, COUNT(*) AS cnt
      FROM nb_ranked WHERE rn <= 5 GROUP BY 1, 2
    ),
    pred AS (
      SELECT vec_id, label, cnt,
             ROW_NUMBER() OVER (PARTITION BY vec_id
                                ORDER BY cnt DESC, label ASC) AS rn
      FROM votes
    )
    SELECT vec_id, CAST(label AS INT) AS pred_label,
           CAST(cnt AS INT) AS n_votes
    FROM pred WHERE rn = 1
    """,
)
def ann_knn_label_vote(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-quality probe (`similarity.cell_knn_label_vote`):
    majority label of the 5 nearest in-cell neighbors per vector —
    IVF-gated kNN, so the pair scan stays bounded per cell (the
    SemDeDup scale shape) instead of corpus×corpus. Cosines snap to
    the 6-dp grid before ranking; all ties id/label-ordered, so the
    whole prediction sits in the hash gate."""
    from .operators.similarity import cell_knn_label_vote

    emb = load_table(spark, sf_dir, "embeddings")
    return cell_knn_label_vote(emb, k=5, nlist=16)


# The driver's per-round correctness sweep caps how many queries it
# reaches (50 of 99 in r4). Order the registry so the sweep window
# rotates: the FRESHEST driver-green queries go LAST, the stalest (or
# never-driver-checked) go FIRST, flagship always at slot 0. The
# staleness map is read from the CORRECTNESS_r*.json artifacts the
# driver itself writes into the repo root, so the rotation is
# self-maintaining round over round: whatever round N covered is
# deprioritized in round N+1 and the 50-slot window cycles the full
# registry every ceil(99/50)=2 rounds (VERDICT r4 next-round #1).
# _PRIORITY is the static fallback order when no artifacts are
# readable (fresh checkout, tests).
_PRIORITY = [
    "flagship_quarterly_revenue_growth",
    # round-4 additions FIRST: they have never appeared in a driver
    # correctness artifact, so they carry the most gate risk — the ML
    # twins below were driver-green in r3 and are covered by the
    # committed local sweep logs besides
    "sample_domain_mix",
    "text_line_dedup",
    "pipeline_clean_corpus",
    "dedup_incremental",
    "filter_quality_top_frac",
    "text_bigram_logprob",
    # ML estimation / tuning / selection twins (VERDICT r2 §next-round 1-2)
    "ml_enet_var_coefs",
    "ml_ridge_var_coefs",
    "ml_group_enet_coefs",
    "ml_group_ridge_coefs",
    "ml_lasso_soft_threshold",
    "ml_tune_best",
    "ml_tune_ridge",
    "ml_ezlasso_select",
    "ml_ezlasso_enet",
    "ml_cv_lambda_min",
    "ml_sigma_ic",
    "ml_recursive_forecast",
    "stat_cw_dm",
    "ml_preselect",
    "ml_lag_select",
    "ml_pacf_blocked",
    "ml_acf_selection",
    "ml_acf_m15_topn",
    "ml_pacf_m17_profile",
    "ml_modeltrain_msfe",
    "ml_ar1_coefs",
    "stat_adf_batch",
    "stat_stationarity_round1",
    "stat_hosking",
    # ANN / embedding stack
    "ann_ivf_top1",
    "ann_ivf_fixed",
    "ann_top1_cosine",
    "dedup_embedding_cosine",
    # text / pipeline tail the round-2 sweep never reached
    "text_token_count",
    "text_lang_id",
    "text_quality_score",
    "text_fingerprint",
    "text_pii_redaction",
    "text_chunking",
    "text_bm25_topk",
    "text_tfidf_topterms",
    "text_repetition",
    "text_regex_tokens",
    "text_pack_sequences",
    "split_contamination",
    "sample_stratified",
    "sample_temperature",
    "pipeline_training_data",
    "pipeline_corpus_curation",
    "a7_incremental_rollup",
    "j6_local_supplier_volume",
]


def _last_driver_green() -> dict[str, int]:
    """Map query name -> most recent round whose driver CORRECTNESS
    artifact recorded it fully green (rows+schema+hash). Empty dict if
    no artifacts are readable (fresh checkout)."""
    import glob as _glob
    import json as _json
    import re as _re
    from pathlib import Path as _Path

    root = _Path(__file__).resolve().parent.parent
    out: dict[str, int] = {}
    for art in sorted(_glob.glob(str(root / "CORRECTNESS_r*.json"))):
        m = _re.search(r"r(\d+)\.json$", art)
        if not m:
            continue
        rnd = int(m.group(1))
        try:
            with open(art) as fh:
                data = _json.load(fh)
        except Exception:
            continue
        if not isinstance(data, dict):
            continue
        for name, res in data.items():
            if (
                isinstance(res, dict)
                and res.get("rows_match")
                and res.get("schema_match")
                and res.get("hash_match")
            ):
                out[name] = max(out.get(name, -1), rnd)
    return out


# Queries whose OUTPUT CONTRACT changed in the stated round (new
# semantics, new twin, new parameters): their OLDER driver-green rows
# no longer evidence the current code, so the rotation treats them as
# never-checked and sweeps them first. Entries are keyed by the round
# that introduced the contract change and AUTO-EXPIRE (ADVICE r8 #4):
# once a query has a driver-green row from >= that round, the entry is
# ignored by `_ordered` and `test_force_fresh_entries_pending` fails,
# forcing its removal — a satisfied entry can never keep occupying the
# front of capped rotation sweeps. The four r8 entries were cleared
# this round after CORRECTNESS_r08.json recorded fresh green rows for
# all of them (VERDICT r8 next-round item 1).
_FORCE_FRESH: dict[str, int] = {}


def _ordered(d: dict) -> dict:
    green = _last_driver_green()
    if green:
        # Flagship first (it is the smoke-checked entry and must always
        # be in-window), then ascending staleness: never-driver-checked
        # (-1) before oldest-green before freshest-green. Ties break on
        # the name so QUERIES and ORACLE (whose insertion orders differ
        # because non-SQL ops have no oracle) sort identically.
        flag = "flagship_quarterly_revenue_growth"

        def key(k: str):
            rnd = green.get(k, -1)
            if rnd < _FORCE_FRESH.get(k, -(10**9)):
                rnd = -1  # contract changed after the last green row
            return (k != flag, rnd, k)

        return {k: d[k] for k in sorted(d, key=key)}
    head = {k: d[k] for k in _PRIORITY if k in d}
    return head | {k: v for k, v in d.items() if k not in head}


def all_queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return _ordered(QUERIES)


def all_oracle_sql() -> dict[str, str]:
    return _ordered(ORACLE)
