"""Sampling + dedup-resolution operators (training-pipeline ops)."""

from __future__ import annotations

import numpy as np
import pyspark.sql.functions as F
import pytest

from cityfinder_spark.operators.components import connected_components, dedup_resolve
from cityfinder_spark.operators.sampling import (
    HASH_M,
    quota_sample,
    rate_sample,
    stratified_rate_sample,
)
from tests.conftest import SF_DIR


def _docs(spark):
    return spark.read.parquet(f"{SF_DIR}/documents.parquet")


# ---------------------------------------------------------------- sampling


def test_rate_sample_deterministic_and_sized(spark):
    docs = _docs(spark)
    a = rate_sample(docs, "doc_id", 0.3).select("doc_id")
    b = rate_sample(docs, "doc_id", 0.3).select("doc_id")
    ids_a = sorted(r["doc_id"] for r in a.collect())
    ids_b = sorted(r["doc_id"] for r in b.collect())
    assert ids_a == ids_b
    n = docs.count()
    assert 0.15 * n <= len(ids_a) <= 0.45 * n  # ~30%, loose band


def test_rate_sample_is_subset_monotone(spark):
    """A higher rate keeps a superset: thresholds nest on one hash."""
    docs = _docs(spark)
    small = {r["doc_id"] for r in rate_sample(docs, "doc_id", 0.2).collect()}
    big = {r["doc_id"] for r in rate_sample(docs, "doc_id", 0.6).collect()}
    assert small <= big


def test_stratified_rates_respected(spark):
    docs = _docs(spark)
    out = stratified_rate_sample(
        docs, "doc_id", "source", {"src0": 1.0, "src1": 0.0}, 0.5
    )
    got = {r["source"]: r["cnt"] for r in
           out.groupBy("source").agg(F.count("*").alias("cnt")).collect()}
    all_counts = {r["source"]: r["cnt"] for r in
                  docs.groupBy("source").agg(F.count("*").alias("cnt")).collect()}
    assert got["src0"] == all_counts["src0"]  # rate 1.0 keeps all
    assert "src1" not in got  # rate 0.0 keeps none


def test_quota_sample_caps_each_group(spark):
    docs = _docs(spark)
    k = 3
    out = quota_sample(docs, "source", "doc_id", k)
    counts = out.groupBy("source").agg(F.count("*").alias("cnt")).collect()
    assert counts and all(r["cnt"] <= k for r in counts)
    # deterministic across invocations
    ids1 = sorted(r["doc_id"] for r in out.collect())
    ids2 = sorted(
        r["doc_id"] for r in quota_sample(docs, "source", "doc_id", k).collect()
    )
    assert ids1 == ids2


def test_quota_prefilter_equivalence(spark):
    """A generous prefilter keeps >= k rows per group -> identical
    output to the unfiltered quota (the documented contract)."""
    docs = _docs(spark)
    plain = sorted(
        r["doc_id"] for r in quota_sample(docs, "source", "doc_id", 2).collect()
    )
    pre = sorted(
        r["doc_id"]
        for r in quota_sample(
            docs, "source", "doc_id", 2, prefilter_rate=0.9
        ).collect()
    )
    # rate 0.9 keeps the 2 lowest-hash rows of every group: hash < 0.9*M
    # must hold for them. Verify precondition, then equality.
    kept_hashes = [(i * 48271) % HASH_M for i in plain]
    assert all(h < 0.9 * HASH_M for h in kept_hashes)
    assert plain == pre


# ------------------------------------------------------------- components


def _cc_dict(spark, edges, **kw):
    df = spark.createDataFrame(edges, "src long, dst long")
    return {
        r["node"]: r["label"] for r in connected_components(df, **kw).collect()
    }


# driver_max_edges=0 forces the distributed iterative path; the default
# resolves small graphs driver-side — both must agree everywhere.
STRATEGIES = [{}, {"driver_max_edges": 0}]


@pytest.mark.parametrize("kw", STRATEGIES)
def test_cc_two_components(spark, kw):
    got = _cc_dict(spark, [(1, 2), (2, 3), (5, 6)], **kw)
    assert got == {1: 1, 2: 1, 3: 1, 5: 5, 6: 5}


@pytest.mark.parametrize("kw", STRATEGIES)
def test_cc_path_graph_multi_round(spark, kw):
    """Diameter-5 path: exercises >1 propagation round + convergence."""
    got = _cc_dict(spark, [(10, 9), (9, 8), (8, 7), (7, 6), (6, 5)], **kw)
    assert got == {n: 5 for n in range(5, 11)}


@pytest.mark.parametrize("kw", STRATEGIES)
def test_cc_direction_independent(spark, kw):
    assert _cc_dict(spark, [(2, 1), (3, 2)], **kw) == _cc_dict(
        spark, [(1, 2), (2, 3)], **kw
    )


def test_cc_deep_chain_converges_in_log_rounds(spark):
    """Diameter-63 chain on the distributed path with max_iter=10:
    plain min-label propagation would need 63 rounds and raise;
    pointer jumping must converge in ~log2(63) ~ 6-8 rounds."""
    edges = [(i, i + 1) for i in range(63)]
    got = _cc_dict(spark, edges, driver_max_edges=0, max_iter=10)
    assert got == {n: 0 for n in range(64)}


def test_cc_reliable_checkpoint_when_dir_set(spark, tmp_path):
    """Cluster-grade fault tolerance knob: with a checkpoint dir set on
    the SparkContext, the iterative rounds must use RELIABLE
    checkpoint() (blocks written under the dir, surviving executor
    loss) instead of localCheckpoint — same labels either way."""
    import os

    sc = spark.sparkContext
    assert sc.getCheckpointDir() is None  # conftest sets none
    ckpt = str(tmp_path / "cc_ckpt")
    sc.setCheckpointDir(ckpt)
    try:
        edges = [(i, i + 1) for i in range(20)]
        got = _cc_dict(spark, edges, driver_max_edges=0)
        assert got == {n: 0 for n in range(21)}
        # reliable checkpoint blocks actually landed under the dir
        written = [
            os.path.join(r, f)
            for r, _, fs in os.walk(ckpt)
            for f in fs
        ]
        assert written, "no reliable-checkpoint blocks written"
    finally:
        # unset (Scala Option(null) -> None) so other tests keep the
        # localCheckpoint default
        sc._jsc.sc().setCheckpointDir(None)
    assert sc.getCheckpointDir() is None


def test_dedup_resolve_isolated_docs_self_canonical(spark):
    docs = spark.createDataFrame([(1,), (2,), (3,), (9,)], "doc_id long")
    pairs = spark.createDataFrame([(1, 3)], "doc_a long, doc_b long")
    got = {
        r["doc_id"]: (r["canonical_id"], r["is_dup"])
        for r in dedup_resolve(docs, pairs).collect()
    }
    assert got == {1: (1, False), 2: (2, False), 3: (1, True), 9: (9, False)}


def test_corpus_pipeline_matches_duckdb(spark):
    """One-pass curation composite == the equivalent SQL chain."""
    duckdb = pytest.importorskip("duckdb")
    from cityfinder_spark import contract

    spark_rows = sorted(
        (r["source"], r["n_docs"], r["total_tokens"], r["total_bpe"])
        for r in contract.q_corpus_pipeline(spark, SF_DIR).collect()
    )
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM '{SF_DIR}/documents.parquet'"
    )
    duck_rows = sorted(
        (a, int(b), int(c), int(d))
        for a, b, c, d in con.execute(contract._o_corpus_pipeline()).fetchall()
    )
    assert spark_rows == duck_rows
    assert spark_rows  # non-trivial: curation keeps something


def test_dedup_resolve_matches_duckdb_closure(spark):
    """Spark iterative CC == DuckDB recursive-CTE closure on the real
    documents table with n-gram Jaccard pairs (the contract query)."""
    duckdb = pytest.importorskip("duckdb")
    from cityfinder_spark import contract

    spark_rows = sorted(
        (r["doc_id"], r["canonical_id"], r["is_dup"])
        for r in contract.q_dedup_resolve(spark, SF_DIR).collect()
    )
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM '{SF_DIR}/documents.parquet'"
    )
    duck_rows = sorted(
        (int(a), int(b), bool(c))
        for a, b, c in con.execute(contract._o_dedup_resolve()).fetchall()
    )
    assert spark_rows == duck_rows


# ------------------------------------------------------------- mixture


def test_mixture_sample_budget_respected(spark):
    """Groups sampling below rate 1.0 land near budget*w tokens; a
    group whose whole mass fits its share keeps everything."""
    from cityfinder_spark.operators.sampling import mixture_sample

    docs = _docs(spark).select(
        "doc_id",
        "source",
        F.size(F.split(F.col("text"), " ")).cast("long").alias("n_tok"),
    )
    weights = {"src0": 0.5, "src1": 0.3}
    budget = 4000
    out = mixture_sample(docs, "doc_id", "source", "n_tok", weights, budget, 0.0)
    kept = {
        r["source"]: r["tok"]
        for r in out.groupBy("source").agg(F.sum("n_tok").alias("tok")).collect()
    }
    totals = {
        r["source"]: r["tok"]
        for r in docs.groupBy("source").agg(F.sum("n_tok").alias("tok")).collect()
    }
    # unnamed groups: weight 0 -> dropped entirely
    assert set(kept) <= set(weights)
    for src, w in weights.items():
        share = budget * w
        if totals[src] <= share:
            assert kept.get(src) == totals[src]  # rate capped at 1: keep all
        else:
            # hash sampling is uniform-ish: within a loose band of target
            assert 0.4 * share <= kept.get(src, 0) <= 1.8 * share


def test_mixture_sample_deterministic_pure_function_of_id(spark):
    """Same corpus -> identical row set on rerun; kept set nests inside
    rate_sample's band on the SAME hash (composability check)."""
    from cityfinder_spark.operators.sampling import mixture_sample

    docs = _docs(spark).select(
        "doc_id",
        "source",
        F.size(F.split(F.col("text"), " ")).cast("long").alias("n_tok"),
    )
    a = mixture_sample(docs, "doc_id", "source", "n_tok", {"src0": 0.4}, 3000)
    b = mixture_sample(docs, "doc_id", "source", "n_tok", {"src0": 0.4}, 3000)
    ids_a = sorted(r["doc_id"] for r in a.collect())
    assert ids_a == sorted(r["doc_id"] for r in b.collect())
    # every kept id passes its group threshold ~ mixture is rate_sample
    # with a derived per-group rate
    full = {r["doc_id"] for r in rate_sample(docs, "doc_id", 1.0).collect()}
    assert set(ids_a) <= full


def test_mixture_sample_zero_fact_shuffle_plan(spark):
    """The fact side must reach the filter via a broadcast join — no
    exchange of the corpus on the group key."""
    from cityfinder_spark.operators.sampling import mixture_sample

    docs = _docs(spark).select(
        "doc_id",
        "source",
        F.size(F.split(F.col("text"), " ")).cast("long").alias("n_tok"),
    )
    out = mixture_sample(docs, "doc_id", "source", "n_tok", {"src0": 0.4}, 3000)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan or "BroadcastExchange" in plan
    assert "SortMergeJoin" not in plan


# ----------------------------------------------------------- corpus_split


@pytest.fixture(scope="module")
def docs(spark):
    rng = np.random.default_rng(9)
    rows = [
        (i, " ".join(f"w{rng.integers(0, 50)}" for _ in range(int(rng.integers(1, 40)))))
        for i in range(400)
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_corpus_split_deterministic_and_leakage_safe(spark, docs):
    from cityfinder_spark.operators.sampling import corpus_split

    full = {r["doc_id"]: r["split"] for r in corpus_split(docs).collect()}
    assert set(full.values()) == {"train", "val", "test"}
    # membership is a pure function of the id: a subset sees the SAME
    # assignments (no leakage across reruns / incremental loads)
    sub = {r["doc_id"]: r["split"]
           for r in corpus_split(docs.where("doc_id % 3 = 0")).collect()}
    assert all(full[k] == v for k, v in sub.items())


def test_corpus_split_independent_of_rate_sample(spark, docs):
    """The split hash uses a different multiplier than sample_hash:
    a 5% rate-sample must still contain all three splits (with the
    SAME hash the survivors would be exactly the 'val' band)."""
    from cityfinder_spark.operators.sampling import corpus_split, rate_sample

    kept = corpus_split(rate_sample(docs, "doc_id", 0.1))
    splits = {r["split"] for r in kept.collect()}
    assert splits == {"train", "val", "test"}


# ---------------------------------------------------------- cluster_split


def test_cluster_split_clusters_never_straddle(spark):
    """Every member of a duplicate cluster gets the SAME split — the
    leakage property corpus_split alone cannot give."""
    from cityfinder_spark.operators.sampling import cluster_split

    docs = spark.createDataFrame(
        [(i, f"doc {i}") for i in range(1, 121)], "doc_id long, text string"
    )
    # clusters: {1..5}, {10,11}, {20,21,22}; everything else isolated
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (4, 5), (10, 11), (20, 21), (21, 22)],
        "doc_a long, doc_b long",
    )
    out = cluster_split(docs, pairs, val_rate=0.3, test_rate=0.3).collect()
    by_id = {r["doc_id"]: r for r in out}
    assert len(by_id) == 120
    for cluster in [{1, 2, 3, 4, 5}, {10, 11}, {20, 21, 22}]:
        splits = {by_id[i]["split"] for i in cluster}
        canons = {by_id[i]["canonical_id"] for i in cluster}
        assert len(splits) == 1, f"cluster {cluster} straddles: {splits}"
        assert canons == {min(cluster)}


def test_cluster_split_matches_corpus_split_on_canonical(spark):
    """The split label is exactly corpus_split's hash CASE applied to
    canonical_id, and isolated docs match plain corpus_split."""
    from cityfinder_spark.operators.sampling import (
        HASH_M, SPLIT_A, cluster_split, corpus_split,
    )

    docs = spark.createDataFrame(
        [(i, "x") for i in range(1, 201)], "doc_id long, text string"
    )
    pairs = spark.createDataFrame([(7, 8)], "doc_a long, doc_b long")
    out = {r["doc_id"]: r for r in cluster_split(docs, pairs).collect()}
    plain = {r["doc_id"]: r["split"] for r in corpus_split(docs).collect()}
    for i in range(1, 201):
        canon = 7 if i in (7, 8) else i
        h = (canon * SPLIT_A) % HASH_M
        want = "val" if h < 5000 else ("test" if h < 10000 else "train")
        assert out[i]["split"] == want
        if i not in (7, 8):
            assert out[i]["split"] == plain[i]
