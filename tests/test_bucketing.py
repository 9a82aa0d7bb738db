"""Bucketed tables (`sources/bucketing.py`): the write-once shuffle.

The plan assertions are the point: a join of two tables bucketed on
the same key/count must contain NO exchange on either side, and a
group-by on the bucket key must aggregate without a shuffle.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from var_elasticnet_bigdata_spark.sources.bucketing import (
    read_bucketed,
    write_bucketed,
)

from .conftest import SF_SMALL
from .store_cases import STORE_CASES


@pytest.fixture(scope="module")
def bucketed_pair(spark, tmp_path_factory):
    base = tmp_path_factory.mktemp("buckets")
    rng = np.random.default_rng(0)
    n = 20_000
    facts = pd.DataFrame(
        {
            "k": rng.integers(0, 500, n).astype("int64"),
            "v": rng.normal(size=n).round(6),
        }
    )
    dims = pd.DataFrame(
        {
            "k": np.arange(500, dtype="int64"),
            "w": rng.normal(size=500).round(6),
        }
    )
    write_bucketed(
        spark.createDataFrame(facts), "t_facts", "k", buckets=8,
        sort_cols="k", path=str(base / "facts"),
    )
    write_bucketed(
        spark.createDataFrame(dims), "t_dims", "k", buckets=8,
        sort_cols="k", path=str(base / "dims"),
    )
    yield facts, dims
    spark.sql("DROP TABLE IF EXISTS t_facts")
    spark.sql("DROP TABLE IF EXISTS t_dims")


def _no_broadcast(spark):
    old = {
        "spark.sql.autoBroadcastJoinThreshold": spark.conf.get(
            "spark.sql.autoBroadcastJoinThreshold"
        ),
        "spark.sql.adaptive.autoBroadcastJoinThreshold": spark.conf.get(
            "spark.sql.adaptive.autoBroadcastJoinThreshold", None
        ),
    }
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
    return old


def _restore(spark, old):
    for k, v in old.items():
        if v:
            spark.conf.set(k, v)
        else:
            spark.conf.unset(k)


def test_bucketed_join_has_no_exchange(spark, bucketed_pair):
    facts, dims = bucketed_pair
    old = _no_broadcast(spark)
    try:
        f = read_bucketed(spark, "t_facts")
        d = read_bucketed(spark, "t_dims")
        res = f.join(d, "k").groupBy("k").agg(F.sum(F.col("v") * F.col("w")).alias("x"))
        plan = res._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan, plan
        # and the result is right
        exp = (
            facts.merge(dims, on="k")
            .assign(x=lambda t: t.v * t.w)
            .groupby("k", as_index=False)["x"]
            .sum()
            .sort_values("k")
            .reset_index(drop=True)
        )
        act = res.toPandas().sort_values("k").reset_index(drop=True)
        np.testing.assert_array_equal(act["k"], exp["k"])
        np.testing.assert_allclose(act["x"], exp["x"], rtol=1e-9)
    finally:
        _restore(spark, old)


def test_bucketed_groupby_has_no_exchange(spark, bucketed_pair):
    f = read_bucketed(spark, "t_facts")
    res = f.groupBy("k").agg(F.sum("v").alias("s"))
    plan = res._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan, plan


def test_plain_parquet_read_loses_buckets(spark, bucketed_pair, tmp_path):
    # the cautionary half of read_bucketed's docstring, asserted
    old = _no_broadcast(spark)
    try:
        loc = (
            spark.sql("DESCRIBE TABLE EXTENDED t_facts")
            .filter(F.col("col_name") == "Location")
            .collect()[0]["data_type"]
        )
        f_raw = spark.read.parquet(loc)
        res = f_raw.groupBy("k").agg(F.sum("v").alias("s"))
        plan = res._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" in plan
    finally:
        _restore(spark, old)


def test_incremental_near_dup_bucketed_store(spark, tmp_path):
    """VERDICT r4 #3: the persisted signature store must (a) give the
    same survivors as the DataFrame-store path batch for batch, and
    (b) be read already-partitioned — NO Exchange between the store
    scans and their joins; only the new batch shuffles."""
    from var_elasticnet_bigdata_spark.operators.dedup import (
        incremental_near_dup,
        incremental_near_dup_bucketed,
    )
    from var_elasticnet_bigdata_spark.plans.inspect import scan_ancestry

    base = [
        "alpha beta gamma delta epsilon zeta eta theta iota kappa",
        "one two three four five six seven eight nine ten eleven",
        "red orange yellow green blue indigo violet cyan magenta black",
        "spark duck table query shuffle join window filter scan sort",
    ]
    rows = []
    rid = 0
    for b in base:
        rows.append((rid, b)); rid += 1
        rows.append((rid, b + " extra")); rid += 1
        rows.append((rid, " ".join(reversed(b.split())))); rid += 1
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    batches = [
        docs.filter(F.col("doc_id") < 4),
        docs.filter((F.col("doc_id") >= 4) & (F.col("doc_id") < 8)),
        docs.filter(F.col("doc_id") >= 8),
    ]
    spark.sql("DROP TABLE IF EXISTS ibs__bands")
    spark.sql("DROP TABLE IF EXISTS ibs__sigs")
    try:
        store = None
        for i, b in enumerate(batches):
            ref, store = incremental_near_dup(b, store, threshold=0.5)
            got = incremental_near_dup_bucketed(
                b, "ibs", threshold=0.5, buckets=4, path=str(tmp_path)
            )
            assert sorted(r.doc_id for r in got.collect()) == sorted(
                r.doc_id for r in ref.collect()
            ), f"batch {i} diverged"
        # store now holds every survivor's rows exactly once
        n_surv = spark.table("ibs__sigs").count()
        assert n_surv == store.count()

        # plan shape: store side of the band join and of the shingle
        # lookup must reach its join with no Exchange above the scan
        old = _no_broadcast(spark)
        try:
            probe = spark.createDataFrame(
                [(100, "0:abc")], "doc_id long, bk string"
            )
            j = (
                read_bucketed(spark, "ibs__bands")
                .select(F.col("doc_id").alias("id_a"), "bk")
                .join(
                    probe.select(F.col("doc_id").alias("id_b"), "bk"), "bk"
                )
            )
            anc = scan_ancestry(j, r"ibs__bands")
            assert not any(a.startswith("Exchange") for a in anc), anc

            cand = spark.createDataFrame([(0,)], "id_a long")
            j2 = (
                read_bucketed(spark, "ibs__sigs")
                .select(F.col("doc_id").alias("id_a"), "sh")
                .join(cand, "id_a")
            )
            anc2 = scan_ancestry(j2, r"ibs__sigs")
            assert not any(a.startswith("Exchange") for a in anc2), anc2
        finally:
            _restore(spark, old)
    finally:
        spark.sql("DROP TABLE IF EXISTS ibs__bands")
        spark.sql("DROP TABLE IF EXISTS ibs__sigs")


def test_contamination_store_exchange_free_and_equivalent(spark, tmp_path):
    """The persisted benchmark shingle store: (a) contamination_vs_store
    must agree with the in-flight split_contamination on the same
    corpus/split, including after an append of extra benchmark docs
    recomputed as a fresh union run; (b) the store side of the shingle
    join reaches its join with no Exchange above the bucketed scan."""
    from var_elasticnet_bigdata_spark.operators.split import (
        contamination_store_write,
        contamination_vs_store,
        hash_split,
        split_contamination,
    )
    from var_elasticnet_bigdata_spark.plans.inspect import scan_ancestry

    rows = [
        (i, f"tok{i % 7} alpha beta gamma delta epsilon zeta eta theta w{i}")
        for i in range(60)
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    lab = hash_split(docs, "doc_id")
    spark.sql("DROP TABLE IF EXISTS cstore__shingles")
    try:
        contamination_store_write(
            lab.filter(F.col("split") == "train"), "cstore", n=3,
            buckets=4, path=str(tmp_path),
        )
        got = contamination_vs_store(
            lab.filter(F.col("split") == "test"), "cstore", n=3
        )
        ref = split_contamination(docs, n=3)
        g = {r.doc_id: (r.n_shingles, r.n_hit) for r in got.collect()}
        r_ = {r.doc_id: (r.n_shingles, r.n_hit) for r in ref.collect()}
        assert g == r_

        # append a second benchmark (duplicate shingles allowed) ==
        # a fresh run over the union
        extra = spark.createDataFrame(
            [(1000, "omega psi chi phi upsilon tau sigma rho")],
            "doc_id long, text string",
        )
        contamination_store_write(extra, "cstore", n=3, buckets=4, mode="append")
        got2 = {
            r.doc_id: (r.n_shingles, r.n_hit)
            for r in contamination_vs_store(
                lab.filter(F.col("split") == "test"), "cstore", n=3
            ).collect()
        }
        union_lab = hash_split(docs.unionByName(extra), "doc_id").withColumn(
            "split",
            F.when(F.col("doc_id") == 1000, "train").otherwise(F.col("split")),
        )
        union_ref = split_contamination(union_lab, n=3, split_col="split")
        u = {r.doc_id: (r.n_shingles, r.n_hit) for r in union_ref.collect()}
        assert got2 == u

        old = _no_broadcast(spark)
        try:
            probe = spark.createDataFrame([(5, "abc")], "doc_id long, s string")
            j = (
                read_bucketed(spark, "cstore__shingles")
                .groupBy("s")
                .agg(F.lit(1).alias("hit"))
                .join(probe, "s")
            )
            anc = scan_ancestry(j, r"cstore__shingles")
            assert not any(a.startswith("Exchange") for a in anc), anc
        finally:
            _restore(spark, old)
    finally:
        spark.sql("DROP TABLE IF EXISTS cstore__shingles")


def test_compact_bucketed_store_merges_append_fragments(spark, tmp_path):
    """N appends leave N files per bucket; compact_bucketed must
    rewrite to ~one file per bucket, preserve rows exactly, and KEEP
    the bucketing contract (exchange-free join still asserted after
    the swap)."""
    from var_elasticnet_bigdata_spark.plans.inspect import scan_ancestry
    from var_elasticnet_bigdata_spark.sources.compaction import (
        compact_bucketed,
    )

    spark.sql("DROP TABLE IF EXISTS cstore2")
    spark.sql("DROP TABLE IF EXISTS cstore2__compacting")
    try:
        for batch in range(4):
            df = spark.createDataFrame(
                [(batch * 100 + i, float(i)) for i in range(50)],
                "k long, v double",
            )
            write_bucketed(
                df, "cstore2", "k", buckets=4, sort_cols="k",
                path=str(tmp_path / "cstore2") if batch == 0 else None,
                mode="overwrite" if batch == 0 else "append",
            )
        rows_before = {
            (r.k, r.v) for r in spark.table("cstore2").collect()
        }
        before, after = compact_bucketed(spark, "cstore2")
        assert before >= 16  # 4 appends x 4 buckets
        assert after <= 8, (before, after)
        assert {
            (r.k, r.v) for r in spark.table("cstore2").collect()
        } == rows_before
        old = _no_broadcast(spark)
        try:
            probe = spark.createDataFrame([(5,)], "k long")
            j = read_bucketed(spark, "cstore2").join(probe, "k")
            anc = scan_ancestry(j, r"cstore2")
            assert not any(a.startswith("Exchange") for a in anc), anc
        finally:
            _restore(spark, old)
        # compacting twice alternates the sibling location cleanly
        b2, a2 = compact_bucketed(spark, "cstore2")
        assert {
            (r.k, r.v) for r in spark.table("cstore2").collect()
        } == rows_before
        assert a2 <= 8
    finally:
        spark.sql("DROP TABLE IF EXISTS cstore2")
        spark.sql("DROP TABLE IF EXISTS cstore2__compacting")


# ---------------------------------------------------------------------------
# Crash-safety contracts of the persisted store (ADVICE r5 #1/#2)
# ---------------------------------------------------------------------------


@pytest.mark.parametrize("case", STORE_CASES, ids=lambda c: c.name)
def test_incremental_bucketed_sink_hook_fires_before_store_append(
    spark, tmp_path, case
):
    """ADVICE r5 (medium): the on_survivors hook must run BEFORE any
    store append — a caller sinking survivors in the hook gets
    at-least-once on crash+replay, never loss. Asserted by checking,
    inside the hook, that no store table holds the batch yet."""
    store = f"hook_{case.name}"
    tables = case.tables(store)
    for t in tables:
        spark.sql(f"DROP TABLE IF EXISTS {t}")
    seen = {}
    try:
        case.run(
            spark.createDataFrame(case.batch1, case.schema), store,
            str(tmp_path / "s1"), None,
        )
        n_store = {t: spark.table(t).count() for t in tables}

        def hook(surv):
            seen["ids"] = {
                r[0] for r in surv.select(case.id_col).distinct().collect()
            }
            seen["store_at_hook"] = {t: spark.table(t).count() for t in tables}

        case.run(
            spark.createDataFrame(case.batch2, case.schema), store, None, hook
        )
        assert seen["ids"] == case.survivors
        assert seen["store_at_hook"] == n_store  # batch NOT yet appended
        for t in tables:
            assert spark.table(t).count() > n_store[t]
    finally:
        for t in tables:
            spark.sql(f"DROP TABLE IF EXISTS {t}")


def test_incremental_bucketed_replay_after_sink_is_at_least_once(spark, tmp_path):
    """Simulated crash AFTER the corpus sink but BEFORE the store
    appends, then a foreachBatch-style replay: the corpus must end up
    with duplicate rows (at-least-once) — never missing the batch —
    and the replayed store stays consistent for the next batch."""
    from var_elasticnet_bigdata_spark.operators.dedup import (
        incremental_near_dup_bucketed,
    )

    docs = spark.createDataFrame(
        [
            (i, " ".join(f"s{i}y{j}" for j in range(8)))
            for i in range(4)
        ],
        "doc_id long, text string",
    )
    out = str(tmp_path / "corpus")
    spark.sql("DROP TABLE IF EXISTS replay__bands")
    spark.sql("DROP TABLE IF EXISTS replay__sigs")

    class Crash(RuntimeError):
        pass

    def sink_then_crash(surv):
        surv.write.mode("append").parquet(out)
        raise Crash()

    try:
        import pytest as _pt

        with _pt.raises(Crash):
            incremental_near_dup_bucketed(
                docs, "replay", buckets=4, on_survivors=sink_then_crash,
                path=str(tmp_path / "s2"),
            )
        # store never got the batch; corpus did
        assert not spark.catalog.tableExists("replay__bands")
        # replay of the same batch (normal path)
        incremental_near_dup_bucketed(
            docs, "replay", buckets=4,
            path=str(tmp_path / "s2"),
            on_survivors=lambda s: s.write.mode("append").parquet(out),
        )
        corpus = spark.read.parquet(out)
        assert corpus.count() == 8  # duplicated, at-least-once
        assert corpus.select("doc_id").distinct().count() == 4  # nothing lost
        # next batch still dedups against the (replayed) store
        nxt = incremental_near_dup_bucketed(
            docs.withColumn("doc_id", F.col("doc_id") + 100), "replay",
            buckets=4,
        )
        assert nxt.count() == 0  # all near-dup the stored docs
    finally:
        spark.sql("DROP TABLE IF EXISTS replay__bands")
        spark.sql("DROP TABLE IF EXISTS replay__sigs")


def test_incremental_bucketed_orphan_sigs_are_inert_and_healed(spark, tmp_path):
    """ADVICE r5 #2: sigs are written BEFORE bands, so a crash between
    the two leaves orphan sig rows with no band rows. Orphans must (a)
    never produce candidates, and (b) heal when the batch replays."""
    from var_elasticnet_bigdata_spark.operators.dedup import (
        incremental_near_dup_bucketed,
    )
    from var_elasticnet_bigdata_spark.sources.bucketing import write_bucketed

    docs = spark.createDataFrame(
        [
            (i, " ".join(f"o{i}z{j}" for j in range(8)))
            for i in range(3)
        ],
        "doc_id long, text string",
    )
    spark.sql("DROP TABLE IF EXISTS orph__bands")
    spark.sql("DROP TABLE IF EXISTS orph__sigs")
    try:
        # batch 1 committed normally
        incremental_near_dup_bucketed(
            docs, "orph", buckets=4, path=str(tmp_path / "s3")
        )
        # simulate the crash window of batch 2 (fresh content — must
        # not near-dup batch 1): sigs appended, bands not
        batch2 = spark.createDataFrame(
            [
                (i + 10, " ".join(f"q{i}k{j}" for j in range(8)))
                for i in range(3)
            ],
            "doc_id long, text string",
        )
        extra = spark.table("orph__sigs").limit(0)  # schema template
        from var_elasticnet_bigdata_spark.operators.dedup import (
            _sig_expr,
            with_shingle_hashes,
        )

        sig2 = with_shingle_hashes(batch2, 3).select(
            F.col("doc_id"),
            F.expr(_sig_expr(16)).alias("sig"),
            F.col("__sh").alias("sh"),
        )
        assert extra.columns == sig2.columns
        write_bucketed(
            sig2, "orph__sigs", "doc_id", buckets=4, sort_cols="doc_id",
            mode="append",
        )
        # replay batch 2: orphan sigs must not self-drop the batch
        surv = incremental_near_dup_bucketed(batch2, "orph", buckets=4)
        assert surv.count() == batch2.count()
        # store is healed: bands now cover batch 2, so batch 3 (same
        # content as batch 2, higher ids) dedups against it
        batch3 = batch2.withColumn("doc_id", F.col("doc_id") + 20)
        surv3 = incremental_near_dup_bucketed(batch3, "orph", buckets=4)
        assert surv3.count() == 0
    finally:
        spark.sql("DROP TABLE IF EXISTS orph__bands")
        spark.sql("DROP TABLE IF EXISTS orph__sigs")


def test_compact_bucketed_recovers_from_crashed_swap(spark, tmp_path):
    """ADVICE r5 #5: the DROP+RENAME swap is not atomic. A crash
    between the two leaves only the __compacting staging table (which
    holds the full rewritten content). compact_bucketed must recover
    it on the next run instead of failing on the missing table."""
    from var_elasticnet_bigdata_spark.sources.bucketing import write_bucketed
    from var_elasticnet_bigdata_spark.sources.compaction import compact_bucketed

    spark.sql("DROP TABLE IF EXISTS crashc")
    spark.sql("DROP TABLE IF EXISTS crashc__compacting")
    try:
        df = spark.range(40).select(
            (F.col("id") % 8).alias("k"), F.col("id").alias("v")
        )
        write_bucketed(
            df, "crashc", "k", buckets=4, sort_cols="k",
            path=str(tmp_path / "crashc"), mode="overwrite",
        )
        rows = {(r.k, r.v) for r in spark.table("crashc").collect()}
        # simulate the post-DROP, pre-RENAME crash state: only the
        # staging table exists, holding the full content
        spark.sql("ALTER TABLE crashc RENAME TO crashc__compacting")
        assert not spark.catalog.tableExists("crashc")
        before, after = compact_bucketed(spark, "crashc")
        assert spark.catalog.tableExists("crashc")
        assert {(r.k, r.v) for r in spark.table("crashc").collect()} == rows
    finally:
        spark.sql("DROP TABLE IF EXISTS crashc")
        spark.sql("DROP TABLE IF EXISTS crashc__compacting")


def test_incremental_exact_dedup_bucketed_store(spark, tmp_path):
    """Persisted content-key store: (a) batch-by-batch survivors must
    equal a full min-id exact dedup over the union (append-only id
    order); (b) the store side of the anti-join reads exchange-free;
    (c) the sink hook fires before the key append."""
    from var_elasticnet_bigdata_spark.operators.dedup import (
        content_key,
        exact_dedup,
        incremental_exact_dedup_bucketed,
    )
    from var_elasticnet_bigdata_spark.plans.inspect import scan_ancestry

    rows = [
        (0, "Alpha Beta!"), (1, "alpha beta"), (2, "gamma delta"),
        (3, "unique zero"), (4, "gamma  DELTA"), (5, "epsilon nine"),
        (6, "alpha beta"), (7, "fresh content"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    spark.sql("DROP TABLE IF EXISTS exs__keys")
    try:
        hook_state = {}

        def hook(surv):
            hook_state["store_exists"] = spark.catalog.tableExists("exs__keys")

        s1 = incremental_exact_dedup_bucketed(
            docs.filter("doc_id < 4"), "exs", buckets=4,
            path=str(tmp_path / "exs"), on_survivors=hook,
        )
        got1 = sorted(r.doc_id for r in s1.collect())
        assert hook_state["store_exists"] is False  # sink before create
        s2 = incremental_exact_dedup_bucketed(
            docs.filter("doc_id >= 4"), "exs", buckets=4
        )
        got = got1 + sorted(r.doc_id for r in s2.collect())
        want = sorted(
            r.doc_id for r in exact_dedup(docs).collect()
        )
        assert sorted(got) == want == [0, 2, 3, 5, 7]

        # store-side scan reaches the anti-join with no Exchange
        old = _no_broadcast(spark)
        try:
            probe = spark.createDataFrame([(99, "zz")], "doc_id long, ck string")
            j = probe.join(
                read_bucketed(spark, "exs__keys").select("ck"), "ck", "left_anti"
            )
            anc = scan_ancestry(j, r"exs__keys")
            assert not any(a.startswith("Exchange") for a in anc), anc
        finally:
            _restore(spark, old)
    finally:
        spark.sql("DROP TABLE IF EXISTS exs__keys")


def test_incremental_semantic_dedup_bucketed_store(spark, tmp_path):
    """Per-cell vector store: (a) id-ordered batches must reproduce
    the one-shot semantic_dedup survivors exactly (seen-set store +
    id-greedy rule); (b) the store holds EVERY seen vector; (c) the
    store side of the cell join reads exchange-free."""
    import numpy as np

    from var_elasticnet_bigdata_spark.operators.similarity import (
        incremental_semantic_dedup_bucketed,
        semantic_dedup,
    )
    from var_elasticnet_bigdata_spark.plans.inspect import scan_ancestry

    rng = np.random.default_rng(42)
    base = rng.normal(size=(6, 8))
    rows = []
    vid = 0
    for i in range(6):  # original + near-dup (tiny noise) per vector
        rows.append((vid, base[i].tolist())); vid += 1
        rows.append((vid, (base[i] + rng.normal(scale=1e-3, size=8)).tolist()))
        vid += 1
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    C = np.eye(8)[:4]  # fixed centroids across batches
    batches = [
        emb.filter(F.col("vec_id") < 4),
        emb.filter((F.col("vec_id") >= 4) & (F.col("vec_id") < 8)),
        emb.filter(F.col("vec_id") >= 8),
    ]
    spark.sql("DROP TABLE IF EXISTS sem__vecs")
    try:
        got = []
        for b in batches:
            s = incremental_semantic_dedup_bucketed(
                b, "sem", C, eps=0.9, buckets=4, path=str(tmp_path / "sem")
            )
            got.extend(r.vec_id for r in s.collect())
        full = semantic_dedup(emb, eps=0.9, centroids=C)
        ref = sorted(
            r.vec_id for r in full.filter(~F.col("is_dup")).collect()
        )
        assert sorted(got) == ref
        assert 0 < len(ref) < emb.count()  # near-dups actually dropped
        # seen-set store: every vector appended, survivors or not
        assert spark.table("sem__vecs").count() == emb.count()

        old = _no_broadcast(spark)
        try:
            probe = spark.createDataFrame(
                [(0, [1.0] * 8)], "vec_id long, e array<double>"
            )
            j = read_bucketed(spark, "sem__vecs").select(
                "cell", "e"
            ).join(probe.selectExpr("1 AS cell", "e AS e_b"), "cell")
            anc = scan_ancestry(j, r"sem__vecs")
            assert not any(a.startswith("Exchange") for a in anc), anc
        finally:
            _restore(spark, old)
    finally:
        spark.sql("DROP TABLE IF EXISTS sem__vecs")


def test_append_emits_at_most_buckets_files(spark, tmp_path):
    """File-count contract (r12): write_bucketed pre-partitions on
    the bucket columns, so EVERY append adds at most `buckets` data
    files — not tasks x buckets. This is what bounds store file-count
    growth between compactions at 100 TB append cadence."""
    import glob
    import pandas as pd

    loc = str(tmp_path / "fcount")
    df = spark.createDataFrame(
        pd.DataFrame({"k": range(2000), "v": range(2000)})
    ).repartition(32)  # worst case: many tasks feeding the write
    write_bucketed(df, "t_fcount", "k", buckets=8, sort_cols="k", path=loc)
    first = len(glob.glob(f"{loc}/part-*"))
    assert first <= 8
    write_bucketed(
        spark.createDataFrame(
            pd.DataFrame({"k": range(2000, 4000), "v": range(2000)})
        ).repartition(32),
        "t_fcount", "k", buckets=8, sort_cols="k", mode="append",
    )
    assert len(glob.glob(f"{loc}/part-*")) - first <= 8
    # layout survives: the self-join on k is still exchange-free
    t = read_bucketed(spark, "t_fcount")
    plan = t.join(t.withColumnRenamed("v", "v2"), "k")._jdf.queryExecution(
    ).executedPlan().toString()
    assert "Exchange" not in plan or "BroadcastExchange" in plan
    spark.sql("DROP TABLE IF EXISTS t_fcount")


def test_store_query_reuses_one_store_dir_per_session(spark):
    """`dedup_incremental_exact` re-creates its store on every run in
    ONE directory per process: a fresh temp directory per run leaked
    one store directory per invocation. The second run must still
    start from an empty store (DROP TABLE + overwrite in place)."""
    import glob
    import os
    import tempfile

    from var_elasticnet_bigdata_spark.queries import dedup_incremental_exact

    pattern = os.path.join(tempfile.gettempdir(), "spark_graft_exact_store_*")
    before = set(glob.glob(pattern))
    counts = [
        dedup_incremental_exact(spark, SF_SMALL).count()
        for _ in range(2)
    ]
    assert counts[0] == counts[1] > 0
    assert len(set(glob.glob(pattern)) - before) <= 1
