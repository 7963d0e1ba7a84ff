#!/usr/bin/env python
"""Benchmark harness for the cityfinder_spark engine.

Runs the headline contract queries at ``$SPARK_GRAFT_SF_DIR``
(default /root/testdata/sf0.1) on ``local[$SPARK_GRAFT_CPUS]``
(default 32) and prints ONE JSON line:

    {"metric": "...", "value": <total sec>, "unit": "sec",
     "queries": {"nearest_city": sec, ...}, "sf": 0.1,
     "rows_per_sec": {...}, "cpus": 32}

Each query is materialized with a `noop` sink (full computation on the
executors, nothing collected to the driver). The headline metric is
the BASELINE.json one: nearest-city kNN join throughput (rows/sec).

Usage:
    python bench.py                 # full headline set
    python bench.py nearest_city    # a named subset
"""

from __future__ import annotations

import json
import os
import sys
import time

_HERE = os.path.dirname(os.path.abspath(__file__))
if _HERE not in sys.path:
    sys.path.insert(0, _HERE)

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
# best-of-5 (was 3): this sandbox's bursty CPU steal can stall any
# single run 3-5x; two extra timed runs per query cost ~1 min total
# and materially raise the odds each query catches a quiet slice.
MEASURE_RUNS = int(os.environ.get("SPARK_GRAFT_BENCH_RUNS", "5"))

# headline set: one per operator family (SURVEY.md §2), in rough order
# of importance. nearest_city is the BASELINE.json flagship.
BIG_TABLE = os.path.join(_HERE, "BENCH", "data", "images_10000000")

HEADLINE = [
    "nearest_city",
    "nearest_city_topk",
    "nearest_city_adaptive",
    "nearest_city_tiled",
    "nearest_city_bigdim",
    "nearest_city_10m",
    "cell_assign",
    "hot_cells",
    "kanon_cells",
    "focal_stats",
    "getis_ord",
    "zorder_key",
    "geohash_key",
    "cell_pyramid",
    "tile_render",
    "distinct_sketch",
    "name_lookup",
    "name_lookup_exact",
    "postal_lookup",
    "postal_dedup",
    "raster_tiles",
    "point_in_polygon",
    "geo_rollup",
    "idw_interpolate",
    "knn_classify",
    "hex_assign",
    "hex_hot_cells",
    "region_cover",
    "cover_read",
    "ocean_points",
    "streaming_cover_read",
    "box_range_join",
    "radius_join",
    "trajectory_stats",
    "od_flows",
    "geofence_events",
    "spacetime_cube",
    "distance_transform",
    "region_rings",
    "streaming_region_rings",
    "trajectory_stays",
    "geonames_scan",
    "postal_scan",
    "index_roundtrip",
    "index_roundtrip_postal",
    "partitioned_read",
    "upsert_merge",
    "zorder_read",
    "compaction_plan",
    "compaction_apply",
    "bucketed_join",
    "resumable_rollup",
    "salted_agg",
    "hotspot_clusters",
    "dedup_exact",
    "minhash_lsh",
    "simhash",
    "ngram_jaccard",
    "ngram_containment",
    "substring_spans",
    "substring_dedup",
    "substring_scrub",
    "sample_rate",
    "sample_quota",
    "mixture_sample",
    "dedup_resolve",
    "corpus_pipeline",
    "token_stats",
    "text_quality",
    "repetition_stats",
    "token_percentiles",
    "length_buckets",
    "vocab_topk",
    "bm25_search",
    "lm_score",
    "importance_sample",
    "pii_redact",
    "tokenize_ids",
    "quality_topk",
    "doc_fingerprint",
    "corpus_split",
    "cluster_split",
    "count_min_df",
    "bloom_decontaminate",
    "image_sharpness",
    "image_diversity",
    "image_quarantine",
    "length_outliers",
    "minhash_estimate",
    "decontaminate",
    "split_overlap",
    "lang_id",
    "cosine_topk",
    "cosine_dedup",
    "embedding_quantize",
    "cosine_topk_quantized",
    "ann_lsh",
    "ann_ivf",
    "cosine_search",
    "ann_search",
    "ann_search_persisted",
    "ann_search_ivf",
    "ann_search_trained",
    "kmeans_train",
    "pq_train",
    "pq_encode",
    "pq_search",
    "ivfpq_search",
    "ivfpq_upsert",
    "ivfpq_persisted",
    "streaming_pq_encode",
    "kmeans_assign",
    "semdedup",
    "image_pipeline",
    "image_decode_stats",
    "phash_near_dup",
    "phash_dedup_resolve",
    "geo_image_dedup",
    "multimodal_curation",
    "image_resize",
    "video_frame_sample",
    "events_windowed",
    "events_decay",
    "events_asof",
    "events_sessionize",
    "events_props",
    "streaming_dedup_exact",
    "streaming_hot_cells",
    "streaming_distinct_sketch",
    "streaming_heavy_hitters",
    "streaming_late_data",
    "streaming_stream_join",
    "streaming_stream_join_outer",
    "streaming_knn",
    "running_user_totals",
]

# fact table each query scans (for rows/sec); keys absent -> no rate.
_FACT_TABLE = {
    "nearest_city": "orders",
    "nearest_city_topk": "orders",
    "nearest_city_adaptive": "orders",
    "nearest_city_tiled": "orders",
    "nearest_city_bigdim": "orders",
    "cell_assign": "orders",
    "hot_cells": "orders",
    "kanon_cells": "orders",
    "cell_pyramid": "orders",
    "tile_render": "orders",
    "distinct_sketch": "orders",
    "name_lookup": "orders",
    "name_lookup_exact": "orders",
    "postal_lookup": "orders",
    "raster_tiles": "orders",
    "point_in_polygon": "orders",
    "geo_rollup": "orders",
    "cover_read": "orders",
    "ocean_points": "orders",
    "streaming_cover_read": "orders",
    "idw_interpolate": "orders",
    "knn_classify": "orders",
    "hex_assign": "orders",
    "hex_hot_cells": "orders",
    "box_range_join": "orders",
    "radius_join": "orders",
    "trajectory_stats": "orders",
    "od_flows": "orders",
    "geofence_events": "orders",
    "spacetime_cube": "orders",
    "distance_transform": "orders",
    "region_rings": "orders",
    "streaming_region_rings": "orders",
    "index_roundtrip": "orders",
    "index_roundtrip_postal": "orders",
    "partitioned_read": "orders",
    "compaction_plan": "orders",
    "compaction_apply": "orders",
    "upsert_merge": "documents",
    "bucketed_join": "documents",
    "resumable_rollup": "documents",
    "salted_agg": "orders",
    "hotspot_clusters": "orders",
    "dedup_exact": "documents",
    "minhash_lsh": "documents",
    "simhash": "documents",
    "ngram_jaccard": "documents",
    "ngram_containment": "documents",
    "substring_spans": "documents",
    "substring_dedup": "documents",
    "substring_scrub": "documents",
    "sample_rate": "documents",
    "sample_quota": "documents",
    "mixture_sample": "documents",
    "dedup_resolve": "documents",
    "corpus_pipeline": "documents",
    "token_stats": "documents",
    "text_quality": "documents",
    "repetition_stats": "documents",
    "token_percentiles": "documents",
    "length_buckets": "documents",
    "vocab_topk": "documents",
    "bm25_search": "documents",
    "lm_score": "documents",
    "importance_sample": "documents",
    "pii_redact": "documents",
    "tokenize_ids": "documents",
    "quality_topk": "documents",
    "doc_fingerprint": "documents",
    "corpus_split": "documents",
    "decontaminate": "documents",
    "split_overlap": "documents",
    "lang_id": "documents",
    "streaming_dedup_exact": "documents",
    "streaming_hot_cells": "orders",
    "streaming_distinct_sketch": "orders",
    "streaming_late_data": "events",
    "streaming_stream_join": "events",
    "streaming_stream_join_outer": "events",
    "streaming_knn": "orders",
    "cosine_topk": "embeddings",
    "cosine_dedup": "embeddings",
    "embedding_quantize": "embeddings",
    "cosine_topk_quantized": "embeddings",
    "ann_lsh": "embeddings",
    "ann_ivf": "embeddings",
    "cosine_search": "embeddings",
    "ann_search": "embeddings",
    "ann_search_persisted": "embeddings",
    "ann_search_ivf": "embeddings",
    "ann_search_trained": "embeddings",
    "kmeans_train": "embeddings",
    "pq_train": "embeddings",
    "pq_encode": "embeddings",
    "pq_search": "embeddings",
    "ivfpq_search": "embeddings",
    "ivfpq_upsert": "embeddings",
    "ivfpq_persisted": "embeddings",
    "streaming_pq_encode": "embeddings",
    "kmeans_assign": "embeddings",
    "semdedup": "embeddings",
    "events_windowed": "events",
    "events_decay": "events",
    "events_asof": "events",
    "events_sessionize": "events",
    "events_props": "events",
    "running_user_totals": "events",
}


def _sf_of(path: str) -> float:
    base = os.path.basename(path.rstrip("/"))
    if base.startswith("sf"):
        try:
            return float(base[2:])
        except ValueError:
            pass
    return -1.0


def _q_nearest_city_10m(spark, sf_dir: str):
    """BASELINE.json's headline at its real shape: the 10M-row
    image+caption table (input_hint schema, 26 GB on disk) through the
    zero-shuffle kNN assignment join. Only (image_id, lat, lon) are
    selected — `.explain` shows the parquet scan pruning `bytes`, so
    the 26 GB payload column never leaves storage. sf0.1's 150k-row
    facts measure per-query overhead; this measures throughput."""
    from pyspark.sql import functions as F

    from cityfinder_spark import contract
    from cityfinder_spark.operators.nearest import nearest_city_join

    pts = spark.read.parquet(BIG_TABLE).select(
        F.col("image_id").alias("pt_id"), "lat", "lon"
    )
    return nearest_city_join(
        pts, contract._cities(spark, sf_dir), cache_key=("cities", sf_dir)
    )


def run(names: list[str]) -> dict:
    from cityfinder_spark.session import get_spark
    from cityfinder_spark import contract

    spark = get_spark("bench", cores=CPUS, shuffle_partitions=CPUS)
    qs = contract.queries()
    if "nearest_city_10m" in names and not os.path.exists(
        os.path.join(BIG_TABLE, "_SUCCESS")
    ):
        # the 26 GB flagship input is gitignored and can vanish between
        # rounds; regenerate rather than silently dropping the headline
        # metric (deterministic datagen, ~8 min at 32 cores)
        print("regenerating flagship table (BENCH/data) ...", file=sys.stderr)
        try:
            from cityfinder_spark.datagen.images import images_table

            if os.path.isdir(BIG_TABLE):
                import shutil

                shutil.rmtree(BIG_TABLE)
            images_table(spark, 10_000_000, partitions=250).write.mode(
                "overwrite"
            ).parquet(BIG_TABLE)
            regenerated = True
        except Exception as exc:  # noqa: BLE001 - bench must still run
            regenerated = False
            print(f"flagship datagen failed ({exc}); skipping", file=sys.stderr)
        if regenerated:
            # recycle the JVM: measuring in the session that just wrote
            # 26 GB is contaminated (heap/allocator pressure measured
            # 2-8x on early queries vs a fresh session on this host).
            # Outside the datagen try/except: a failure HERE must crash
            # loudly, not leave a stopped session masquerading as a
            # datagen skip.
            from cityfinder_spark import bcast

            bcast.clear()
            spark.stop()
            spark = get_spark("bench", cores=CPUS, shuffle_partitions=CPUS)
    if os.path.exists(os.path.join(BIG_TABLE, "_SUCCESS")):
        qs["nearest_city_10m"] = _q_nearest_city_10m
    else:
        names = [n for n in names if n != "nearest_city_10m"]
    fact_table = dict(_FACT_TABLE)
    fact_rows = {
        t: spark.read.parquet(f"{SF_DIR}/{t}.parquet").count()
        for t in sorted({v for v in fact_table.values()})
    }
    if "nearest_city_10m" in names:
        fact_table["nearest_city_10m"] = "__big__"
        fact_rows["__big__"] = spark.read.parquet(BIG_TABLE).count()

    # Steady-state methodology (matches the reference's own benchmark,
    # cmd/benchmark/main.go: warm in-process index, repeated queries):
    # per query, one warmup run absorbs its one-time costs — JVM
    # codegen, Python worker spin-up, worker-memoized index builds —
    # then the best of MEASURE_RUNS timed runs immediately after
    # (best-of-N is the standard throughput protocol and shields the
    # numbers from virtualization noise: this sandbox shows bursty
    # CPU-steal that can stall any single run 3-5x). Warmup+measure
    # are PAIRED per query, not warm-all-then-measure-all: measured
    # 2-4x slowdowns on late queries when 20+ other queries' worker-
    # resident caches accumulate first (allocator/THP fragmentation),
    # which says nothing about the operator being measured.
    def _drain_garbage() -> None:
        """Drop the previous query's dead state (broadcast wrappers ->
        ContextCleaner unpersist) before the next timed window."""
        import gc

        gc.collect()
        try:
            spark.sparkContext._jvm.System.gc()
        except Exception:
            pass

    times: dict[str, float] = {}
    rates: dict[str, float] = {}
    steady: dict[str, float] = {}
    for name in names:
        fn = qs[name]
        t0 = time.perf_counter()
        fn(spark, SF_DIR).write.format("noop").mode("overwrite").save()
        print(f"  warmup {name}: {time.perf_counter() - t0:.3f}s", file=sys.stderr)
        _drain_garbage()
        best = float("inf")
        contract.LAST_STREAM_PROGRESS.clear()
        for _ in range(MEASURE_RUNS):
            t0 = time.perf_counter()
            fn(spark, SF_DIR).write.format("noop").mode("overwrite").save()
            best = min(best, time.perf_counter() - t0)
        times[name] = round(best, 3)
        tab = fact_table.get(name)
        if tab:
            rates[name] = round(fact_rows[tab] / best, 1)
        # streaming keys: ALSO report steady-state per-batch rows/s
        # (batches after the first trigger — state-store open, codegen
        # and source listing amortized) so a state-handling regression
        # can't hide inside the cold-start fixed cost the wall time is
        # dominated by at gate scale
        prog = contract.LAST_STREAM_PROGRESS
        if prog:
            tail = [
                p for p in prog[1:]
                if p.get("numInputRows", 0) > 0
                and p.get("durationMs", {}).get("triggerExecution", 0) > 0
            ]
            rows_t = sum(p["numInputRows"] for p in tail)
            secs_t = sum(p["durationMs"]["triggerExecution"] for p in tail) / 1e3
            if rows_t and secs_t:
                steady[name] = round(rows_t / secs_t, 1)
        print(f"  {name}: {best:.3f}s", file=sys.stderr)

    total = round(sum(times.values()), 3)
    return {
        "metric": "nearest-city kNN join + operator suite wall time",
        "value": total,
        "unit": "sec",
        "queries": times,
        "sf": _sf_of(SF_DIR),
        "rows_per_sec": rates,
        "streaming_steady_rows_per_sec": steady,
        "nearest_city_rows_per_sec": rates.get(
            "nearest_city_10m", rates.get("nearest_city")
        ),
        "cpus": CPUS,
    }


def main() -> None:
    names = sys.argv[1:] or HEADLINE
    result = run(names)
    print(json.dumps(result))


if __name__ == "__main__":
    main()
