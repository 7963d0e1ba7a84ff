"""Physical-plan regression checks: the properties that keep the
engine viable at 100 TB — parquet filter pushdown + column pruning,
broadcast (never sort-merge) joins on the kNN fast path, and the
arrow strategy shipping only coordinates through Python."""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from cityfinder_spark import contract as C
from cityfinder_spark.operators.nearest import nearest_city_join

SF = "/root/testdata/sf0.001"


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_parquet_pushdown_and_pruning(spark):
    C.load_views(spark, SF, ("documents",))
    d = spark.table("documents").where(F.col("doc_id") > 100).select("doc_id")
    plan = _plan(d)
    assert "GreaterThan(doc_id" in plan  # filter reached the scan
    tail = plan.split("ReadSchema")[1][:120]
    assert "doc_id" in tail and "text" not in tail  # text column pruned


def test_jvm_knn_fast_path_is_broadcast_only(spark):
    pts = C._points(spark, SF)
    cities = C._cities(spark, SF)
    plan = _plan(
        nearest_city_join(pts, cities, n_cities=150, fallback=False, strategy="jvm")
    )
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan  # fact side never shuffles for the join


def test_arrow_knn_ships_only_coordinates(spark):
    pts = C._points(spark, SF).withColumn("payload", F.lit("x" * 10))
    cities = C._cities(spark, SF)
    plan = _plan(nearest_city_join(pts, cities, n_cities=150))
    assert "ArrowEvalPython" in plan
    # payload re-attach is a broadcast hash join, not a shuffle join
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_name_lookup_dictionary_joins_are_broadcast(spark):
    from cityfinder_spark.operators.name_lookup import city_by_name

    C.load_views(spark, SF, ("orders", "customer", "nation"))
    q = C.spread(spark.sql(C.sc.name_queries_sql()))
    dim = spark.sql(C.sc.names_dim_sql())
    plan = _plan(city_by_name(q, dim))
    # every dictionary-side join (exact probe, fuzzy scan, payload
    # resolve) must be a broadcast hash join
    assert plan.count("BroadcastHashJoin") >= 3


def test_query_sides_spread_at_the_scan(spark):
    """Single-file sandbox scans yield ONE partition; the contract
    queries must exchange the narrow raw columns BEFORE the derived
    projection so per-row string/geo derivation runs partition-parallel
    (spread-above-the-projection ran it all in the lone scan task)."""
    target = spark.sparkContext.defaultParallelism
    pts = C._points(spark, SF)
    assert pts.rdd.getNumPartitions() == target
    # the exchange must sit BELOW the projection: the repartition's
    # child is the raw scan selection, so the optimized plan shows the
    # derived aliases only above the exchange
    plan = pts._jdf.queryExecution().optimizedPlan().toString()
    scan_side = plan.split("Repartition")[-1]
    assert "pt_id" not in scan_side  # derivation not pushed into the scan task


def test_no_nested_loop_joins_across_the_contract(spark):
    """Suite-wide net: no contract key's physical plan may contain a
    BroadcastNestedLoopJoin or CartesianProduct, except the documented
    exact O(N^2) baselines that ARE a broadcast cross join by design.
    Streaming keys are skipped (building their plan replays a stream);
    so are save/load roundtrips (plan is a plain scan of the written
    index — nothing to audit) to keep the sweep fast."""
    ALLOWED_CROSS = {
        # brute-force exact baselines (documented O(N^2) by design)
        "cosine_topk",
        "cosine_dedup",
        "cosine_search",
        # kmeans: k centroids crossJoin (k rows broadcast — the model)
        "kmeans_train",
        "kmeans_assign",
        # polygon FIXTURE construction: the 25-nation x 6-row VALUES
        # hex-coef expansion plans as a tiny BNLJ on the dimension
        # side; the operators' fact-side joins are hash equi-joins
        # (pinned separately in tests/test_cover.py)
        "region_cover",
        "cover_read",
        "ocean_points",
        # grid-bounded cross by design: occupied cells x hot cells,
        # both <= nlat*nlon rows regardless of corpus size
        "distance_transform",
    }
    SKIP = {
        "streaming_cover_read",  # building the plan replays a stream
        "streaming_dedup_exact",
        "streaming_hot_cells",
        "running_user_totals",
        "index_roundtrip",
        "index_roundtrip_postal",
        "partitioned_read",
        "bucketed_join",
    }
    # the GeoNames scans read the reference's sample files, which Spark
    # resolves while building the plan: without a file there is no plan
    for key, fname in (
        ("geonames_scan", "allCountries.txt"),
        ("postal_scan", "zipCodes.txt"),
    ):
        if not os.path.exists(f"{C._REF_TESTDATA}/{fname}"):
            SKIP.add(key)
    qs = C.queries()
    audited = 0
    offenders = []
    for key, fn in qs.items():
        if key in SKIP:
            continue
        plan = _plan(fn(spark, SF))
        audited += 1
        if key in ALLOWED_CROSS:
            continue
        if "BroadcastNestedLoopJoin" in plan or "CartesianProduct" in plan:
            offenders.append(key)
    assert not offenders, f"nested-loop joins in: {offenders}"
    assert audited >= 55  # the sweep really covered the contract


def test_events_decay_single_keyed_exchange(spark):
    """The max-ts window and the per-user rollup share one hash
    exchange (Catalyst satisfies the aggregate's distribution with
    the window's); the only other exchange is spread()'s round-robin
    scan widening."""
    plan = _plan(C.queries()["events_decay"](spark, SF))
    assert plan.count("Exchange hashpartitioning") == 1
    assert "Window" in plan


def test_upsert_merge_single_exchange_with_group_limit(spark):
    """Last-write-wins merge: exactly one id-keyed exchange, and
    Spark's WindowGroupLimit prunes to the per-partition winner
    BEFORE the shuffle (map-side top-1) — the plan that survives a
    10^12-row base + delta."""
    plan = _plan(C.queries()["upsert_merge"](spark, SF))
    assert plan.count("Exchange hashpartitioning") == 1
    assert "WindowGroupLimit" in plan and "Partial" in plan
