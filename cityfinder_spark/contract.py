"""Driver-contract query registry.

Each entry pairs a Spark implementation (the engine's operators over
the driver's TPC-H-ish parquet tables, with deterministic pseudo-geo
derivations from sqlcompat) with an ANSI-SQL DuckDB oracle. Column
names/aliases match exactly on both sides; every computed double is
rounded via sqlcompat.ROUND_DIGITS on both sides.

`__spark_entry__.py` re-exports queries()/oracle_sql()/entry() from
here to keep the contract file thin.
"""

from __future__ import annotations

import os
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, functions as F

from cityfinder_spark import sqlcompat as sc
from cityfinder_spark.colutils import round_digits_col, spread
from cityfinder_spark.geo.cells import cell_col, make_cell_udf
from cityfinder_spark.operators.name_lookup import city_by_name
from cityfinder_spark.operators.nearest import nearest_city_join, nearest_city_topk
from cityfinder_spark.operators.dedup import (
    MINHASH_FUNCS,
    MINHASH_P,
    dedup_exact,
    minhash_lsh_pairs,
    ngram_jaccard_pairs,
    simhash,
)
from cityfinder_spark.operators.point_in_polygon import tag_points_with_polygons
from cityfinder_spark.operators.postal_lookup import city_by_postal, dedup_postal
from cityfinder_spark.operators.raster import map_raster_tiles
from cityfinder_spark.operators.similarity import (
    cosine_dedup_pairs,
    cosine_search,
    cosine_topk,
    ivf_search,
    ivf_topk,
    lsh_bucket_topk,
    lsh_search,
)
from cityfinder_spark.operators.textops import (
    LANG_STOPWORDS,
    fingerprint,
    lang_id,
    quality_score,
    token_stats,
)

CELL_LEVEL = 6  # fixed level for the cell_assign/hot_cells contract queries
HOT_THRESHOLD = 4


def load_views(spark: SparkSession, sf_dir: str, tables: tuple[str, ...]) -> None:
    for t in tables:
        spark.read.parquet(f"{sf_dir}/{t}.parquet").createOrReplaceTempView(t)


def _media_table(spark: SparkSession, kind: str, n: int) -> DataFrame:
    """Generated media fact table (images/videos), persisted once
    per session per (kind, n) via bcast.memo_table: the generator is
    the stand-in for a STORED Iceberg table, so repeated queries should
    read it like storage, not re-run ingestion. (Generation itself is
    distributed mapInPandas over spark.range — see datagen.)"""
    from cityfinder_spark.bcast import memo_table

    def build() -> DataFrame:
        if kind == "images":
            from cityfinder_spark.datagen.images import images_table

            return images_table(spark, n)
        from cityfinder_spark.datagen.images import videos_table

        return videos_table(spark, n)

    return memo_table(spark, ("media", kind, n), build)


def _spread_orders(spark: SparkSession, sf_dir: str) -> str:
    """Register `__orders_spread`: the narrow orders scan repartitioned
    to default parallelism BEFORE any derived projection. The sandbox
    sf tables are single-file parquet, so a plain scan yields ONE
    partition and `spread(projection)` puts the exchange ABOVE the
    projection — all the per-row string/arithmetic derivation work then
    runs in that one scan task. Exchanging the two raw id columns first
    parallelizes the projection itself (measured: fuzzy name_lookup
    1.80s -> 1.32s at sf0.1). At real scale the scan has thousands of
    splits and spread() is a no-op, so the shape is unchanged."""
    name = "__orders_spread"
    load_views(spark, sf_dir, ("orders",))
    spread(
        spark.table("orders").select("o_orderkey", "o_custkey", "o_orderpriority")
    ).createOrReplaceTempView(name)
    return name


def _points(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.sql(
        sc.points_from_orders_sql(orders=_spread_orders(spark, sf_dir))
    )


def _cities(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cities dimension, persisted once per session (bcast.memo_table):
    it is the static broadcast side of every nearest-family query, and
    re-deriving the customer x nation join per run is pure fixed cost.
    (The fact side is never cached — at the design scale it cannot be.)"""
    from cityfinder_spark.bcast import memo_table

    def build() -> DataFrame:
        load_views(spark, sf_dir, ("customer", "nation"))
        return spark.sql(sc.cities_from_customer_sql())

    return memo_table(spark, ("cities-dim", sf_dir), build)


# ---------------- Spark queries ----------------

def q_nearest_city(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flagship: nearest-city kNN(k=1) join (SURVEY §2.3 J1)."""
    pts = _points(spark, sf_dir)
    cities = _cities(spark, sf_dir)
    return nearest_city_join(pts, cities, cache_key=("cities", sf_dir)).select(
        "pt_id", "caption", "city_id", "name", "country", "dist_km"
    )


def q_nearest_city_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 nearest (window strategy; generalizes s2.go:65 results[0])."""
    pts = _points(spark, sf_dir)
    cities = _cities(spark, sf_dir)
    return nearest_city_topk(
        pts, cities, k=3, cache_key=("cities", sf_dir)
    ).select(
        "pt_id", "city_id", "name", "country", "dist_km", "rank"
    )


def q_idw_interpolate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IDW spatial interpolation: estimate a synthetic station
    measurement at every fact point from its 4 nearest cities —
    integer fixed-point weights so the rollup is order-free at any
    parallelism (operators/nearest.py::idw_interpolate)."""
    from cityfinder_spark.operators.nearest import idw_interpolate

    pts = _points(spark, sf_dir)
    cities = _cities(spark, sf_dir)
    pairs = nearest_city_topk(
        pts, cities, k=4, cache_key=("cities", sf_dir)
    ).select(
        "pt_id",
        "dist_km",
        F.pmod(F.col("city_id") * 2654435761, F.lit(1000)).alias("value"),
    )
    return idw_interpolate(pairs)


def _o_idw_interpolate() -> str:
    hav = sc.haversine_rounded_sql("p.lat", "p.lon", "c.lat", "c.lon")
    est = sc.round6_sql("cast(sum(w * v) AS BIGINT) / cast(sum(w) AS BIGINT)")
    return f"""
    WITH pts AS ({sc.points_from_orders_sql()}),
         cts AS ({sc.cities_from_customer_sql()}),
         ranked AS (
           SELECT p.pt_id, c.city_id, {hav} AS d,
                  row_number() OVER (PARTITION BY p.pt_id
                                     ORDER BY {hav}, c.city_id) AS rn
           FROM pts p CROSS JOIN cts c),
         w AS (SELECT pt_id,
                      cast(floor(1000000000.0 / greatest(d, 0.1) + 0.5)
                           AS BIGINT) AS w,
                      (city_id * 2654435761) % 1000 AS v
               FROM ranked WHERE rn <= 4)
    SELECT pt_id, count(*) AS n_used, {est} AS est
    FROM w GROUP BY pt_id
    """


def q_knn_classify(spark: SparkSession, sf_dir: str) -> DataFrame:
    """kNN majority-vote country classification from the 5 nearest
    cities — deterministic tie-break (max votes, then smallest
    label), two slim groupBys (operators/nearest.py::knn_classify)."""
    from cityfinder_spark.operators.nearest import knn_classify

    pairs = nearest_city_topk(
        _points(spark, sf_dir), _cities(spark, sf_dir), k=5,
        cache_key=("cities", sf_dir),
    ).select("pt_id", F.col("country").alias("label"))
    return knn_classify(pairs)


def _o_knn_classify() -> str:
    hav = sc.haversine_rounded_sql("p.lat", "p.lon", "c.lat", "c.lon")
    return f"""
    WITH pts AS ({sc.points_from_orders_sql()}),
         cts AS ({sc.cities_from_customer_sql()}),
         ranked AS (
           SELECT p.pt_id, c.country, {hav} AS d,
                  row_number() OVER (PARTITION BY p.pt_id
                                     ORDER BY {hav}, c.city_id) AS rn
           FROM pts p CROSS JOIN cts c),
         votes AS (SELECT pt_id, country, count(*) AS n
                   FROM ranked WHERE rn <= 5 GROUP BY 1, 2),
         best AS (SELECT pt_id, country, n,
                         row_number() OVER (PARTITION BY pt_id
                                            ORDER BY n DESC, country) AS vr
                  FROM votes)
    SELECT pt_id, country AS pred, n AS n_votes
    FROM best WHERE vr = 1
    """


def q_cell_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S2/H3-analog cell-id assignment via the Arrow-vectorized pandas
    UDF (SURVEY §2.6 kernel 1) — the oracle pins the UDF to the pure
    arithmetic definition."""
    pts = _points(spark, sf_dir)
    return pts.select(
        "pt_id", "lat", "lon",
        make_cell_udf(CELL_LEVEL)("lat", "lon").alias("cell_id"),
    )


def q_hot_cells(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew pre-pass: per-cell fact counts above threshold (SURVEY §2.3
    note on salting; feeds adaptive cell split)."""
    pts = _points(spark, sf_dir)
    return (
        pts.select(cell_col("lat", "lon", CELL_LEVEL).alias("cell_id"))
        .groupBy("cell_id")
        .agg(F.count(F.lit(1)).alias("n_points"))
        .where(F.col("n_points") >= HOT_THRESHOLD)
    )


KANON_K = 3


def q_kanon_cells(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K-anonymity publish gate: per-cell point counts + DISTINCT
    contributor counts, published only at >= K contributors; the
    suppressed rows stay (flag false) so the suppression set is
    auditable. One (cell, user) exchange, exact by design."""
    from cityfinder_spark.operators.hotspots import kanon_cells

    view = _spread_orders(spark, sf_dir)
    pts = spark.sql(
        f"SELECT o_custkey AS user_id, {sc.ORDER_LAT} AS lat,"
        f" {sc.ORDER_LON} AS lon FROM {view}"
    )
    return kanon_cells(pts, "user_id", CELL_LEVEL, KANON_K)


def _o_kanon_cells() -> str:
    return f"""
    WITH pts AS (SELECT o_custkey AS user_id,
                        {sc.ORDER_LAT} AS lat, {sc.ORDER_LON} AS lon
                 FROM orders)
    SELECT {sc.cell_sql("lat", "lon", CELL_LEVEL)} AS cell_id,
           count(*) AS n_points,
           count(DISTINCT user_id) AS n_users,
           count(DISTINCT user_id) >= {KANON_K} AS published
    FROM pts GROUP BY 1
    """


def q_zorder_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Morton (Z-order) spatial storage key per point: the layout
    column that makes parquet row-group min/max stats prune any
    cell/bbox predicate on a z-sorted 10^12-row table. Pure codegen
    bit math (magic-mask spread chain), replayed step-for-step in
    SQL."""
    from cityfinder_spark.geo.cells import zorder_col

    return _points(spark, sf_dir).select("pt_id", zorder_col("lat", "lon"))


def q_geohash_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Standard geohash-6 string key per point (the interoperable
    spatial key: prefix = containing cell, lexicographic order =
    spatial locality for external systems). Branch-free codegen;
    pinned against published geohash vectors in pytest and replayed
    bit-for-bit in SQL here."""
    from cityfinder_spark.geo.cells import geohash_col

    return _points(spark, sf_dir).select("pt_id", geohash_col("lat", "lon", 6))


def _o_geohash_key() -> str:
    half = 15
    n = 1 << half

    def spread(x: str) -> str:
        for sh, mask in (
            (8, 0x00FF00FF),
            (4, 0x0F0F0F0F),
            (2, 0x33333333),
            (1, 0x55555555),
        ):
            x = f"(({x} | ({x} << {sh})) & {mask})"
        return x

    yi = (
        f"least(greatest(cast(floor((lat + 90.0) / 180.0 * {n}) as bigint),"
        f" 0), {n - 1})"
    )
    xi = f"(((cast(floor((lon + 180.0) / 360.0 * {n}) as bigint) % {n}) + {n}) % {n})"
    chars = " || ".join(
        f"substr('0123456789bcdefghjkmnpqrstuvwxyz',"
        f" cast(((z >> {5 * (5 - j)}) & 31) + 1 AS INT), 1)"
        for j in range(6)
    )
    return f"""
    WITH pts AS ({sc.points_from_orders_sql()}),
    ij AS (SELECT pt_id, {xi} AS xi, {yi} AS yi FROM pts),
    zz AS (SELECT pt_id, {spread('yi')} | ({spread('xi')} << 1) AS z FROM ij)
    SELECT pt_id, {chars} AS geohash FROM zz
    """


def q_focal_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Raster focal statistics (3x3 moving-window density) over the
    cell lattice: the convolution shape of heat-map smoothing, with
    exact clamped-window means. One corpus exchange (the hot_cells
    count), then grid-bounded scatter/gather only."""
    from cityfinder_spark.operators.raster import focal_stats

    return focal_stats(_points(spark, sf_dir), level=CELL_LEVEL, k=1)


def q_getis_ord(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Getis-Ord Gi* hotspot z-scores over the cell lattice (the
    ArcGIS Hot Spot Analysis statistic), raster semantics matching
    focal_stats. Integer aggregates + two scalar literals feed a
    fixed IEEE dataflow, so gi_z value-hashes at 6 digits and the
    hot verdict evaluates on the rounded value.

    The base synthetic points are hash-uniform (no real clustering —
    a correct Gi* finds nothing significant), so a deterministic
    CLUMP is planted: every 97th order adds a point inside one fixed
    0.1-degree box, which lights that cell and its ring hot while the
    background stays cold — both verdicts exercised, both replayed."""
    from cityfinder_spark.operators.raster import getis_ord

    view = _spread_orders(spark, sf_dir)
    clump = spark.sql(
        f"SELECT {_GI_CLUMP_LAT} AS lat, {_GI_CLUMP_LON} AS lon"
        f" FROM {view} WHERE o_orderkey % 97 = 0"
    )
    pts = _points(spark, sf_dir).select("lat", "lon").unionByName(clump)
    return getis_ord(pts, level=CELL_LEVEL, k=1)


_GI_CLUMP_LAT = "10.0 + ((o_orderkey * 48271) % 1000) / 10000.0"
_GI_CLUMP_LON = "20.0 + ((o_orderkey * 16807) % 1000) / 10000.0"


def _o_getis_ord() -> str:
    from cityfinder_spark.operators.raster import GI_HOT_Z

    level, k = CELL_LEVEL, 1
    nlat, nlon = 1 << level, 2 << level
    n_cells = float(nlat * nlon)
    stride = level * sc.LEVEL_STRIDE
    offs = ", ".join(
        f"({di}, {dj})" for di in range(-k, k + 1) for dj in range(-k, k + 1)
    )
    mean = f"cast(g.tot AS DOUBLE) / {n_cells!r}"
    s = (
        f"sqrt(cast(g.ss AS DOUBLE) / {n_cells!r}"
        f" - ({mean}) * ({mean}))"
    )
    w = f"(least(d.i + {k}, {nlat - 1}) - greatest(d.i - {k}, 0) + 1) * {2 * k + 1}"
    wd = f"cast({w} AS DOUBLE)"
    gi = (
        f"(f.focal_sum - ({mean}) * {wd})"
        f" / (({s}) * sqrt(({n_cells!r} * {wd} - {wd} * {wd})"
        f" / {n_cells - 1.0!r}))"
    )
    return f"""
    WITH pts AS (SELECT lat, lon FROM ({sc.points_from_orders_sql()})
                 UNION ALL
                 SELECT {_GI_CLUMP_LAT} AS lat, {_GI_CLUMP_LON} AS lon
                 FROM orders WHERE o_orderkey % 97 = 0),
    c AS (SELECT {sc.cell_sql("lat", "lon", level)} AS cell_id,
                 count(*) AS n_points
          FROM pts GROUP BY 1),
    g AS (SELECT cast(sum(n_points) AS BIGINT) AS tot,
                 cast(sum(n_points * n_points) AS BIGINT) AS ss
          FROM c),
    d AS (SELECT cell_id, n_points,
                 cast(floor((cell_id - {stride}) / {nlon}) as bigint) AS i,
                 (cell_id - {stride}) % {nlon} AS j
          FROM c),
    offs AS (SELECT * FROM (VALUES {offs}) o(di, dj)),
    contrib AS (SELECT {stride} + (d.i + o.di) * {nlon}
                       + (((d.j + o.dj) % {nlon}) + {nlon}) % {nlon} AS center,
                       d.n_points AS nb_points
                FROM d CROSS JOIN offs o
                WHERE d.i + o.di BETWEEN 0 AND {nlat - 1}),
    f AS (SELECT center AS cell_id, cast(sum(nb_points) as bigint) AS focal_sum
          FROM contrib GROUP BY 1),
    z AS (SELECT d.cell_id, d.n_points, f.focal_sum,
                 cast({w} AS BIGINT) AS "window",
                 {sc.round6_sql(gi)} AS gi_z
          FROM d JOIN f USING (cell_id) CROSS JOIN g)
    SELECT cell_id, n_points, focal_sum, "window", gi_z,
           gi_z > {GI_HOT_Z!r} AS hot
    FROM z
    """


def q_name_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact + fuzzy city-by-name lookup (SURVEY §2.3 J2/J3/J6).

    The query side is spread at the SCAN (see _spread_orders), so the
    string-heavy mutation CASE and the customer/nation broadcast joins
    run partition-parallel instead of in the single scan task."""
    load_views(spark, sf_dir, ("customer", "nation"))
    dim = spark.sql(sc.names_dim_sql())
    q = spark.sql(sc.name_queries_sql(orders=_spread_orders(spark, sf_dir)))
    # arrow: in-process NameIndex probe (the reference's own structure,
    # inverted index + pruning map) with build-once memoized broadcast;
    # parity with the symspell relational plan is test-asserted
    return city_by_name(
        q, dim, fuzzy_strategy="arrow", cache_key=("names", sf_dir)
    )


def q_name_lookup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-only variant (fuzzy disabled -> NULL on miss).

    Shares the fuzzy query's memoized NameIndex broadcast (same
    cache_key -> same worker token): exact-only resolution is a dict
    probe per row inside the same zero-shuffle arrow plan, instead of
    re-running the dictionary aggregation + distinct/repartition/
    join-back exchanges of the relational exact branch every call
    (measured 1.43s -> see bench). resolve_batch never reads or
    writes the fuzzy memo when fuzzy=False, so sharing the index
    between the two queries cannot leak fuzzy hits into exact rows."""
    load_views(spark, sf_dir, ("customer", "nation"))
    dim = spark.sql(sc.names_dim_sql())
    q = spark.sql(sc.name_queries_sql(orders=_spread_orders(spark, sf_dir)))
    return city_by_name(
        q, dim, fuzzy=False, fuzzy_strategy="arrow",
        cache_key=("names", sf_dir),
    )


def q_postal_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Postal-code lookup with last-write-wins build dedup (J4/J5)."""
    load_views(spark, sf_dir, ("customer", "nation"))
    dim = spark.sql(sc.postal_dim_sql())
    q = spark.sql(sc.postal_queries_sql(orders=_spread_orders(spark, sf_dir)))
    return city_by_postal(q, dim)


def q_postal_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The build-time last-write-wins dedup itself (J5)."""
    load_views(spark, sf_dir, ("customer", "nation"))
    return dedup_postal(spark.sql(sc.postal_dim_sql())).select(
        "country_code", "postal_code", "place_name", "lat", "lon", "accuracy", "line_no"
    )


def q_nearest_city_adaptive(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Adaptive cell-split variant — must equal the same brute-force
    oracle as nearest_city (skew path changes the plan, not results)."""
    from cityfinder_spark.operators.skew import nearest_city_join_adaptive

    pts = _points(spark, sf_dir)
    cities = _cities(spark, sf_dir)
    return nearest_city_join_adaptive(
        pts, cities, base_level=4, max_per_cell=40,
        cache_key=("cities", sf_dir),
    ).select("pt_id", "caption", "city_id", "name", "country", "dist_km")


def q_nearest_city_tiled(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Third J1 physical strategy: the raster->vector certain-tile fast
    path (precomputed single-winner cells assign JVM-side; only
    uncertain rows cross Arrow). Must equal the same brute-force oracle
    as the other two strategies — the tiling changes the plan, never
    the rows."""
    pts = _points(spark, sf_dir)
    cities = _cities(spark, sf_dir)
    return nearest_city_join(
        pts, cities, strategy="tiled", cache_key=("cities", sf_dir)
    ).select("pt_id", "caption", "city_id", "name", "country", "dist_km")


def q_nearest_city_bigdim(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fourth J1 physical strategy: the NO-BROADCAST shuffle plan for a
    city dimension too large for the broadcast budget (the general
    10^12-scale regime). Dim-side ring-1 cover + shuffled hash join +
    point-side ring-doubling escalation; must equal the same
    brute-force oracle as the broadcast strategies — the physical plan
    changes, the rows never do."""
    from cityfinder_spark.operators.nearest_shuffle import nearest_city_join_bigdim

    pts = _points(spark, sf_dir)
    cities = _cities(spark, sf_dir)
    return nearest_city_join_bigdim(pts, cities).select(
        "pt_id", "caption", "city_id", "name", "country", "dist_km"
    )


# ---------------- sink read-back gate (sinks.py) ----------------

# Antimeridian-crossing Pacific box (lon 150..180 U -180..-150): the
# cell-cover union path and the two-interval exact filter are both on
# the gated path, not just the happy case.
_REGION_BOX = (10.0, 45.0, 150.0, -150.0)


def q_upsert_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC upsert over the documents snapshot: every 4th doc
    re-crawled at version 2 (text revised), every 10th id shifted
    into a fresh insert at version 1; one last-write-wins merge pass
    emits the post-merge snapshot. Highest version wins, updates beat
    base on ties, inserts ride the same path — the Iceberg/Delta
    MERGE kernel as one id-keyed window."""
    from cityfinder_spark.sinks import upsert_merge

    base = _docs(spark, sf_dir).select(
        "doc_id", "text", F.lit(0).cast("long").alias("version")
    )
    upd = _docs(spark, sf_dir).where("doc_id % 4 = 0").select(
        "doc_id",
        F.concat(F.col("text"), F.lit(" rev2")).alias("text"),
        F.lit(2).cast("long").alias("version"),
    )
    ins = _docs(spark, sf_dir).where("doc_id % 10 = 0").select(
        (F.col("doc_id") + 10_000_000).alias("doc_id"),
        F.concat(F.lit("new "), F.col("text")).alias("text"),
        F.lit(1).cast("long").alias("version"),
    )
    return upsert_merge(base, upd.unionByName(ins), "doc_id", "version")


def _o_upsert_merge() -> str:
    return """
    WITH a AS (
      SELECT doc_id, text, 0 AS version, 0 AS upd FROM documents
      UNION ALL
      SELECT doc_id, text || ' rev2', 2, 1 FROM documents
      WHERE doc_id % 4 = 0
      UNION ALL
      SELECT doc_id + 10000000, 'new ' || text, 1, 1 FROM documents
      WHERE doc_id % 10 = 0),
    r AS (SELECT *, row_number() OVER (
            PARTITION BY doc_id ORDER BY version DESC, upd DESC) AS rn
          FROM a)
    SELECT doc_id, text, cast(version AS BIGINT) AS version,
           upd = 1 AS from_update
    FROM r WHERE rn = 1
    """


def q_partitioned_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.7 sink gate: WRITE the assignment table partitioned by its
    coarse spatial cell (sinks.write_assignments), then READ BACK a
    regional slice through the partition-pruned path
    (sinks.read_assignments_region) and hash the rows vs an oracle
    over the ORIGINAL source. A dropped partition dir, a wrong cell
    cover (missed directory), or a bad exact filter all surface as a
    red row — this proves the written bytes, not just the write plan
    (which tests/test_sinks.py pins separately)."""
    from cityfinder_spark.bcast import memo_value
    from cityfinder_spark.sinks import read_assignments_region, write_assignments

    def build() -> str:
        import hashlib
        import tempfile

        tag = hashlib.sha1(sf_dir.encode()).hexdigest()[:12]
        path = os.path.join(tempfile.gettempdir(), f"cf_assign_{tag}")
        write_assignments(
            _points(spark, sf_dir).select("pt_id", "lat", "lon", "caption"),
            path,
        )
        return path

    path = memo_value(spark, ("assign-dir", sf_dir), build)
    lat_min, lat_max, lon_min, lon_max = _REGION_BOX
    return read_assignments_region(
        spark, path, lat_min, lat_max, lon_min, lon_max
    ).select("pt_id", "lat", "lon", "caption")


COMPACT_CAP = 100  # per-file record cap for the compaction fixture
COMPACT_TARGET = 500  # merge-group row quota


def q_compaction_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.7 maintenance gate: WRITE the points table with a
    deterministic small-file layout (cell-partitioned, 100-record
    cap), then plan the compaction from the REAL file inventory
    (`_metadata.file_path` row counts) — next-fit merge groups of
    ~COMPACT_TARGET rows in spatial order. The oracle derives the
    same physical inventory purely from source row counts, so a red
    row means the written layout broke its invariant (cap overrun,
    cell split across tasks, lost file)."""
    from cityfinder_spark.bcast import memo_value
    from cityfinder_spark.sinks import compaction_plan, write_compactable

    def build() -> str:
        import hashlib
        import tempfile

        tag = hashlib.sha1(sf_dir.encode()).hexdigest()[:12]
        path = os.path.join(tempfile.gettempdir(), f"cf_compact_{tag}")
        write_compactable(
            _points(spark, sf_dir).select("pt_id", "lat", "lon", "caption"),
            path,
            max_records_per_file=COMPACT_CAP,
        )
        return path

    path = memo_value(spark, ("compact-dir", sf_dir), build)
    return compaction_plan(spark, path, target_rows=COMPACT_TARGET)


def q_compaction_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.7 maintenance gate, EXECUTION half: rewrite the planned
    merge groups (sinks.compaction_apply — the Iceberg
    rewrite_data_files action) into one file per bin and audit the
    rewritten `_metadata` inventory against the plan. The oracle
    derives the whole audit from source row counts: any mismatch
    means the rewrite lost/duplicated rows, split a merge group
    across files, or broke spatial order."""
    from cityfinder_spark.bcast import memo_value
    from cityfinder_spark.sinks import compaction_apply

    # share the compacted source dir with q_compaction_plan
    q_compaction_plan(spark, sf_dir)
    import hashlib
    import tempfile

    tag = hashlib.sha1(sf_dir.encode()).hexdigest()[:12]
    path = os.path.join(tempfile.gettempdir(), f"cf_compact_{tag}")
    out_path = os.path.join(tempfile.gettempdir(), f"cf_compacted_{tag}")

    def build() -> DataFrame:
        return compaction_apply(
            spark, path, out_path, target_rows=COMPACT_TARGET
        ).cache()

    return memo_value(spark, ("compact-apply", sf_dir), build)


def _o_compaction_apply() -> str:
    from cityfinder_spark.sinks import DEFAULT_PARTITION_LEVEL

    cell = sc.cell_sql("lat", "lon", DEFAULT_PARTITION_LEVEL)
    return f"""
    WITH pts AS ({sc.points_from_orders_sql()}),
    cells AS (SELECT {cell} AS part_cell, count(*) AS n
              FROM pts GROUP BY 1),
    units AS (SELECT part_cell, n,
                     unnest(generate_series(
                       0, cast(ceil(n / {COMPACT_CAP}.0) AS BIGINT) - 1)) AS k
              FROM cells),
    sized AS (SELECT part_cell,
                     least({COMPACT_CAP}, n - k * {COMPACT_CAP}) AS n_rows
              FROM units),
    ord AS (SELECT part_cell, n_rows,
                   sum(n_rows) OVER (
                     ORDER BY part_cell, n_rows DESC
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   - n_rows AS cum_before
            FROM sized),
    binned AS (SELECT part_cell, n_rows,
                      cast(floor(cum_before / {COMPACT_TARGET}) AS BIGINT)
                        AS bin_id
               FROM ord)
    SELECT bin_id, cast(1 AS BIGINT) AS n_files,
           cast(sum(n_rows) AS BIGINT) AS n_rows,
           min(part_cell) AS min_cell, max(part_cell) AS max_cell,
           cast(count(*) AS BIGINT) AS planned_files,
           true AS rows_ok
    FROM binned GROUP BY 1
    """


def _o_compaction_plan() -> str:
    from cityfinder_spark.sinks import DEFAULT_PARTITION_LEVEL

    cell = sc.cell_sql("lat", "lon", DEFAULT_PARTITION_LEVEL)
    return f"""
    WITH pts AS ({sc.points_from_orders_sql()}),
    cells AS (SELECT {cell} AS part_cell, count(*) AS n
              FROM pts GROUP BY 1),
    units AS (SELECT part_cell, n,
                     unnest(generate_series(
                       0, cast(ceil(n / {COMPACT_CAP}.0) AS BIGINT) - 1)) AS k
              FROM cells),
    sized AS (SELECT part_cell,
                     least({COMPACT_CAP}, n - k * {COMPACT_CAP}) AS n_rows
              FROM units),
    ord AS (SELECT part_cell, n_rows,
                   sum(n_rows) OVER (
                     ORDER BY part_cell, n_rows DESC
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   - n_rows AS cum_before
            FROM sized),
    binned AS (SELECT part_cell, n_rows,
                      cast(floor(cum_before / {COMPACT_TARGET}) AS BIGINT)
                        AS bin_id
               FROM ord)
    SELECT bin_id, count(*) AS n_files,
           cast(sum(n_rows) AS BIGINT) AS n_rows,
           min(part_cell) AS min_cell, max(part_cell) AS max_cell
    FROM binned GROUP BY 1
    """


def q_zorder_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.7 sink gate for the z-order layout: WRITE the points table
    z-sorted (sinks.write_zordered — range partition + in-file sort on
    the Morton key), then READ BACK an antimeridian-wrapping bbox
    through the z-range cover + exact refinement
    (sinks.read_zordered_bbox) and hash rows vs an oracle filtering
    the ORIGINAL source. Proves the written bytes, the cover's
    superset property, and the wrap handling; the pruning mechanics
    (pushed zorder ranges, sorted row groups) are plan-pinned in
    tests/test_sinks.py."""
    from cityfinder_spark.bcast import memo_value
    from cityfinder_spark.sinks import read_zordered_bbox, write_zordered

    def build() -> str:
        import hashlib
        import tempfile

        tag = hashlib.sha1(sf_dir.encode()).hexdigest()[:12]
        path = os.path.join(tempfile.gettempdir(), f"cf_zord_{tag}")
        write_zordered(
            _points(spark, sf_dir).select("pt_id", "lat", "lon", "caption"), path
        )
        return path

    path = memo_value(spark, ("zorder-dir", sf_dir), build)
    lat_min, lat_max, lon_min, lon_max = _REGION_BOX
    return read_zordered_bbox(
        spark, path, lat_min, lat_max, lon_min, lon_max
    ).select("pt_id", "lat", "lon", "caption")


def q_resumable_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """North-rule checkpoint gate: run a bucketed token-count stage
    through plans.run_resumable with a SIMULATED MID-JOB CRASH
    (fail_after=2 buckets), then resume to completion in a second
    call; read back the per-bucket parquet results and hash every row
    vs the plain batch oracle. Green only if (a) the crash run's
    manifest rows let the resume skip exactly the completed buckets,
    (b) the resumed buckets cover the remainder exactly once, and
    (c) the written bytes equal the batch computation — the
    per-partition lineage + row-count checkpoint machinery proven by
    the driver, not just pytest."""
    from cityfinder_spark.bcast import memo_value
    from cityfinder_spark.operators.textops import token_stats
    from cityfinder_spark.plans.checkpoint import read_result, run_resumable

    def build() -> str:
        import hashlib
        import shutil
        import tempfile

        tag = hashlib.sha1(sf_dir.encode()).hexdigest()[:12]
        out = os.path.join(tempfile.gettempdir(), f"cf_resume_{tag}")
        shutil.rmtree(out, ignore_errors=True)  # always a fresh lifecycle
        docs = _docs(spark, sf_dir).select("doc_id", "text")

        def fn(bucket_df: DataFrame) -> DataFrame:
            return token_stats(bucket_df).select("doc_id", "n_tokens")

        first = run_resumable(
            spark, docs, fn, out, stage="tok", id_col="doc_id",
            n_buckets=6, fail_after=2,
        )
        second = run_resumable(
            spark, docs, fn, out, stage="tok", id_col="doc_id", n_buckets=6,
        )
        if len(first) != 2 or len(set(first) & set(second)) != 0:
            raise RuntimeError(
                f"resume overlap/shape wrong: first={first} second={second}"
            )
        return out

    out_dir = memo_value(spark, ("resumable-rollup", sf_dir), build)
    return read_result(spark, out_dir).select("doc_id", "n_tokens")


def _o_resumable_rollup() -> str:
    return """
    SELECT doc_id,
           cast(len(string_split(text, ' ')) AS INT) AS n_tokens
    FROM documents
    """


def q_bucketed_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.7 sink gate: two tables bucketed+sorted on the join key
    (sinks.write_bucketed_table — the pay-the-shuffle-once leg of the
    100 TB plan), read back and sort-merge-joined with broadcast
    disabled. The build asserts the plan has NO exchange (the bucketing
    contract), and the returned rows hash against a DuckDB oracle over
    the original documents — proving the bucketed bytes, not just the
    plan shape."""
    from cityfinder_spark.bcast import memo_value
    from cityfinder_spark.sinks import write_bucketed_table

    import hashlib
    import tempfile

    tag = hashlib.sha1(sf_dir.encode()).hexdigest()[:12]
    t_docs, t_stats = f"cf_bdocs_{tag}", f"cf_bstats_{tag}"

    def build() -> bool:
        docs = _docs(spark, sf_dir)
        base = os.path.join(tempfile.gettempdir(), f"cf_bucketed_{tag}")
        write_bucketed_table(
            docs.select("doc_id", "lang"), t_docs, "doc_id",
            n_buckets=8, sort_col="doc_id", path=os.path.join(base, "docs"),
        )
        write_bucketed_table(
            docs.select(
                "doc_id", F.length("text").cast("long").alias("text_len")
            ),
            t_stats, "doc_id",
            n_buckets=8, sort_col="doc_id", path=os.path.join(base, "stats"),
        )
        return True

    memo_value(spark, ("bucketed-tables", sf_dir), build)
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        # force the sort-merge path while CHECKING the plan: at 10^12
        # rows neither side broadcasts, and the whole point of the
        # bucketed layout is that this join needs no exchange
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        joined = (
            spark.table(t_docs)
            .join(spark.table(t_stats), "doc_id")
            .select("doc_id", "lang", "text_len")
        )
        plan = joined._jdf.queryExecution().executedPlan().toString()
        if "Exchange hashpartitioning" in plan:
            raise RuntimeError(
                "bucketed join regressed: Exchange in the physical plan"
            )
        return joined
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)


def q_salted_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-phase salted aggregation (skew pattern) over orders."""
    from cityfinder_spark.operators.skew import salted_agg

    load_views(spark, sf_dir, ("orders",))
    return salted_agg(
        spark.table("orders"), "o_orderpriority", "o_totalprice", "o_orderkey"
    ).select(
        "o_orderpriority", "n_rows", F.round("sum_value", 2).alias("sum_total")
    )


def q_raster_tiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Raster-tile -> vector-cell mapping (north rule; SURVEY §7.1.8)."""
    imgs = spark.sql(
        sc.images_from_orders_sql(orders=_spread_orders(spark, sf_dir))
    )
    return map_raster_tiles(imgs, level=CELL_LEVEL, tile_px=16, deg_per_px=0.001).select(
        "pt_id", "tx", "ty", "tile_lat", "tile_lon", "cell_id"
    )


def q_point_in_polygon(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Admin-boundary tiling: even-odd ray cast vs hexagonal polygons
    (north rule; SURVEY §2.6 kernel 5)."""
    pts = _points(spark, sf_dir).select("pt_id", "lat", "lon")
    return tag_points_with_polygons(pts, _polygons(spark, sf_dir)).select(
        "pt_id", "polygon_id", "poly_country"
    )


HEX_SIZE_DEG = 1.5  # hex circumradius (deg) — grain comparable to CELL_LEVEL 6
HEX_RES_TAG = 33  # id-namespace tag; disjoint from square-grid levels


def q_hex_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hex-grid cell assignment (H3 analog — the second index family
    the north rule names, "H3/S2 index"): axial (q, r) from lon/lat
    via exact cube rounding, packed into the level-tagged 64-bit id
    convention. Pure codegen projection, zero shuffle; Spark and the
    oracle share the literal SQL text, so the FP rounding (explicit
    floor(x+0.5), no banker's round) agrees bit-for-bit."""
    from cityfinder_spark.geo.hexgrid import hex_id_col

    return _points(spark, sf_dir).select(
        "pt_id", hex_id_col("lat", "lon", HEX_SIZE_DEG, HEX_RES_TAG).alias("hex_id")
    )


def _o_hex_assign() -> str:
    from cityfinder_spark.geo.hexgrid import hex_id_sql

    return f"""
    WITH pts AS ({sc.points_from_orders_sql()})
    SELECT pt_id, {hex_id_sql("lat", "lon", HEX_SIZE_DEG, HEX_RES_TAG)} AS hex_id
    FROM pts
    """


def q_hex_hot_cells(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hex density rollup — the hex twin of hot_cells: every neighbor
    of a hex is equidistant (no diagonal bias), which is why H3 is
    the standard grid for density/flow analytics. One map-side-
    combined groupBy on the codegen'd hex id."""
    from cityfinder_spark.geo.hexgrid import hex_id_col

    return (
        _points(spark, sf_dir)
        .select(hex_id_col("lat", "lon", HEX_SIZE_DEG, HEX_RES_TAG).alias("hex_id"))
        .groupBy("hex_id")
        .agg(F.count(F.lit(1)).alias("n_points"))
        .where(F.col("n_points") >= HOT_THRESHOLD)
    )


def _o_hex_hot_cells() -> str:
    from cityfinder_spark.geo.hexgrid import hex_id_sql

    return f"""
    WITH pts AS ({sc.points_from_orders_sql()})
    SELECT {hex_id_sql("lat", "lon", HEX_SIZE_DEG, HEX_RES_TAG)} AS hex_id,
           count(*) AS n_points
    FROM pts
    GROUP BY 1 HAVING count(*) >= {HOT_THRESHOLD}
    """


def q_region_cover(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S2-style mixed-level region covering of the admin polygons
    (RegionCoverer analog — the capability behind the reference's
    ShapeIndex, lib/finder/coordinates/s2.go:33-49, and the north
    star's "S2 cell covering"). Fully relational, so the oracle
    replays the construction operation-for-operation."""
    from cityfinder_spark.bcast import memo_table
    from cityfinder_spark.operators.cover import region_cover

    cov = memo_table(
        spark,
        ("region-cover-plain", sf_dir),
        lambda: region_cover(_polygons(spark, sf_dir)),
    )
    return cov.select(
        "polygon_id",
        "country",
        F.col("level").cast("int").alias("level"),
        "cell_id",
        "coverage",
    )


def q_cover_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-polygon THROUGH the cover: full-cell rows accepted
    with zero per-row geometry, ray cast only on boundary cells.
    Shares the plain point_in_polygon oracle — value-hash equality
    cross-validates the cover's exactness every round."""
    from cityfinder_spark.operators.cover import cover_read

    pts = _points(spark, sf_dir).select("pt_id", "lat", "lon")
    return cover_read(
        pts, _polygons(spark, sf_dir), cache_key=(sf_dir,)
    ).select("pt_id", "polygon_id", "poly_country")


def q_ocean_points(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spatial ANTI-join: points inside NO admin polygon (the
    'ocean'/unclaimed complement — the filter a geotag-cleaning
    pipeline runs to quarantine rows whose coordinates match no known
    region). Plan: the same broadcast cover equi-join as cover_read,
    inverted — full-cell hits are definitely inside, boundary hits
    ray-cast in-row, and a left_anti on the union keeps the rest.
    Fact side stays exchange-free."""
    from cityfinder_spark.operators.cover import cover_read

    pts = _points(spark, sf_dir).select("pt_id", "lat", "lon")
    inside = cover_read(
        pts, _polygons(spark, sf_dir), cache_key=(sf_dir,)
    ).select("pt_id")
    return pts.join(inside, "pt_id", "left_anti").select("pt_id", "lat", "lon")


def _o_ocean_points() -> str:
    return f"""
    WITH verts AS ({sc.polygon_vertices_sql()}),
         edges AS (
           SELECT v1.polygon_id, v1.vlat AS y1, v1.vlon AS x1,
                  v2.vlat AS y2, v2.vlon AS x2
           FROM verts v1 JOIN verts v2
             ON v1.polygon_id = v2.polygon_id AND v2.v = (v1.v + 1) % 6),
         pts AS ({sc.points_from_orders_sql()}),
         crossings AS (
           SELECT p.pt_id, e.polygon_id, count(*) AS ncross
           FROM pts p JOIN edges e
             ON ((e.y1 > p.lat) <> (e.y2 > p.lat))
            AND (p.lon < (e.x2 - e.x1) * (p.lat - e.y1) / (e.y2 - e.y1) + e.x1)
           GROUP BY 1, 2),
         inside AS (SELECT DISTINCT pt_id FROM crossings WHERE ncross % 2 = 1)
    SELECT p.pt_id, p.lat, p.lon
    FROM pts p WHERE NOT EXISTS (
      SELECT 1 FROM inside i WHERE i.pt_id = p.pt_id)
    """


def q_streaming_cover_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.5 driver gate: admin-boundary tagging at INGESTION TIME —
    cover_read running UNCHANGED on a real multi-batch stream. The
    cover (with its in-row edge arrays) is broadcast dimension
    metadata and the even-odd test is a stateless per-row fold, so
    the streaming plan needs no state store and no watermark; the
    one-codebase stance of streaming_knn applied to the polygon-
    tagging path. Emissions are batch-invariant and share the
    point_in_polygon oracle."""
    from cityfinder_spark.operators.cover import cover_read

    pts = _points(spark, sf_dir).select("pt_id", "lat", "lon")
    src = _stage_id_ordered(
        spark, pts, "pt_id", f"cover-pts|{sf_dir}", n_files=3
    )
    schema = spark.read.parquet(src).schema
    stream_in = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    tagged = cover_read(
        stream_in, _polygons(spark, sf_dir), cache_key=(sf_dir,)
    )
    out = _run_stream_to_table(spark, tagged, mode="append")
    return out.select("pt_id", "polygon_id", "poly_country")


def _polygons(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The hexagonal admin polygons as (polygon_id, country, ring_lats,
    ring_lons) — shared by q_point_in_polygon and q_geo_rollup."""
    load_views(spark, sf_dir, ("orders", "nation"))
    verts = spark.sql(sc.polygon_vertices_sql())
    return verts.groupBy("polygon_id", "country").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("v", "vlat"))), lambda x: x["vlat"]
        ).alias("ring_lats"),
        F.transform(
            F.array_sort(F.collect_list(F.struct("v", "vlon"))), lambda x: x["vlon"]
        ).alias("ring_lons"),
    )


def q_od_flows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Origin-destination flow matrix over the customer tracks, with
    the k-anonymity publish gate (OD pairs are the canonical mobility
    re-identification surface). One entity-keyed LAG exchange + one
    (o,d)-keyed distinct agg."""
    from cityfinder_spark.operators.trajectory import od_flows

    load_views(spark, sf_dir, ("orders",))
    pts = spark.sql(sc.traj_points_sql(orders=_spread_orders(spark, sf_dir)))
    return od_flows(pts, level=CELL_LEVEL, k_anon=KANON_K)


def _o_od_flows() -> str:
    return f"""
    WITH p AS ({sc.traj_points_sql()}),
    cp AS (SELECT cust_id, pt_id,
                  {sc.cell_sql("lat", "lon", CELL_LEVEL)} AS d_cell
           FROM p),
    ed AS (SELECT cust_id, d_cell,
                  lag(d_cell) OVER (
                    PARTITION BY cust_id ORDER BY pt_id) AS o_cell
           FROM cp)
    SELECT o_cell, d_cell, count(*) AS n_trips,
           count(DISTINCT cust_id) AS n_users,
           count(DISTINCT cust_id) >= {KANON_K} AS published
    FROM ed WHERE o_cell IS NOT NULL
    GROUP BY 1, 2
    """


def q_distance_transform(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grid distance transform: Chebyshev grid distance (lon wraps)
    from every occupied cell to the nearest hot cell
    (operators/raster.py::distance_transform). Empty at sf0.001 by
    construction (no cell crosses HOT_THRESHOLD there — same as
    hot_cells); the sf0.01 gate exercises it."""
    from cityfinder_spark.operators.raster import distance_transform

    return distance_transform(
        _points(spark, sf_dir), level=CELL_LEVEL, hot_threshold=HOT_THRESHOLD
    )


def _o_distance_transform() -> str:
    nlon = 2 << CELL_LEVEL
    stride_tag = CELL_LEVEL * sc.LEVEL_STRIDE
    return f"""
    WITH pts AS ({sc.points_from_orders_sql()}),
    occ AS (SELECT {sc.cell_sql("lat", "lon", CELL_LEVEL)} AS cell_id,
                   count(*) AS n_points
            FROM pts GROUP BY 1),
    cells AS (SELECT cell_id, n_points,
                     (cell_id - {stride_tag}) // {nlon} AS i,
                     (cell_id - {stride_tag}) % {nlon} AS j
              FROM occ),
    hot AS (SELECT i AS hi, j AS hj FROM cells
            WHERE n_points >= {HOT_THRESHOLD})
    SELECT c.cell_id, c.n_points,
           min(greatest(abs(c.i - h.hi),
                        least(abs(c.j - h.hj), {nlon} - abs(c.j - h.hj))))
             AS d_hot
    FROM cells c CROSS JOIN hot h
    GROUP BY 1, 2
    """


def q_region_rings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Raster -> vector POLYGONIZATION (round-5 key): the hot-cell
    regions of the density grid become boundary polygons — directed
    lattice rings with hole classification
    (operators/raster.py::region_rings). Every stage replays in SQL:
    boundary edges are NOT-EXISTS anti-joins on the hot set, the
    successor permutation is a turn-priority window, rings + vertex
    positions come from a recursive-CTE walk of that permutation
    (the oracle's sequential twin of the operator's pointer-doubling
    label/ranking loops), and the turning-number hole rule is a SUM.
    Empty at sf0.001 (no hot cells, same as distance_transform); the
    sf0.01 gate exercises real rings."""
    from cityfinder_spark.operators.raster import region_rings

    return region_rings(
        _points(spark, sf_dir), level=CELL_LEVEL, hot_threshold=HOT_THRESHOLD
    )


def _o_region_rings() -> str:
    nlon = 2 << CELL_LEVEL
    stride_tag = CELL_LEVEL * sc.LEVEL_STRIDE
    return f"""
    WITH RECURSIVE pts AS ({sc.points_from_orders_sql()}),
    occ AS (SELECT {sc.cell_sql("lat", "lon", CELL_LEVEL)} AS cell_id,
                   count(*) AS n_points
            FROM pts GROUP BY 1),
    hot AS (SELECT (cell_id - {stride_tag}) // {nlon} AS i,
                   (cell_id - {stride_tag}) % {nlon} AS j
            FROM occ WHERE n_points >= {HOT_THRESHOLD}),
    edges AS (
      SELECT (h.i * {nlon} + h.j) * 4 + 0 AS id,
             h.i AS tvi, h.j AS tvj, h.i AS hvi,
             (h.j + 1) % {nlon} AS hvj, 0 AS dir
      FROM hot h WHERE NOT EXISTS (SELECT 1 FROM hot x
                                   WHERE x.i = h.i - 1 AND x.j = h.j)
      UNION ALL
      SELECT (h.i * {nlon} + h.j) * 4 + 1,
             h.i, (h.j + 1) % {nlon}, h.i + 1, (h.j + 1) % {nlon}, 1
      FROM hot h WHERE NOT EXISTS (SELECT 1 FROM hot x
                                   WHERE x.i = h.i
                                     AND x.j = (h.j + 1) % {nlon})
      UNION ALL
      SELECT (h.i * {nlon} + h.j) * 4 + 2,
             h.i + 1, (h.j + 1) % {nlon}, h.i + 1, h.j, 2
      FROM hot h WHERE NOT EXISTS (SELECT 1 FROM hot x
                                   WHERE x.i = h.i + 1 AND x.j = h.j)
      UNION ALL
      SELECT (h.i * {nlon} + h.j) * 4 + 3,
             h.i + 1, h.j, h.i, h.j, 3
      FROM hot h WHERE NOT EXISTS (SELECT 1 FROM hot x
                                   WHERE x.i = h.i
                                     AND x.j = (h.j - 1 + {nlon}) % {nlon})
    ),
    succ AS (
      SELECT id, nid, turn FROM (
        SELECT e.id, f.id AS nid,
               CASE WHEN f.dir = (e.dir + 1) % 4 THEN 1
                    WHEN f.dir = e.dir THEN 0 ELSE -1 END AS turn,
               row_number() OVER (PARTITION BY e.id ORDER BY
                 CASE WHEN f.dir = (e.dir + 1) % 4 THEN 0
                      WHEN f.dir = e.dir THEN 1 ELSE 2 END) AS pr
        FROM edges e JOIN edges f ON f.tvi = e.hvi AND f.tvj = e.hvj)
      WHERE pr = 1),
    walk(start_id, cur_id, step) AS (
      SELECT id, id, 0 FROM edges
      UNION ALL
      SELECT w.start_id, s.nid, w.step + 1
      FROM walk w JOIN succ s ON s.id = w.cur_id
      WHERE s.nid <> w.start_id),
    rid AS (SELECT start_id AS id, min(cur_id) AS ring_id
            FROM walk GROUP BY 1),
    ts AS (SELECT r.ring_id, cast(sum(s.turn) AS BIGINT) AS turn_sum
           FROM succ s JOIN rid r ON r.id = s.id GROUP BY 1),
    canon AS (SELECT w.cur_id AS id, w.step AS seq, w.start_id AS ring_id
              FROM walk w JOIN rid r
                ON r.id = w.start_id AND r.ring_id = w.start_id)
    SELECT cast(c.ring_id AS BIGINT) AS ring_id, cast(c.seq AS INT) AS seq,
           cast(e.tvi AS BIGINT) AS vi0, cast(e.tvj AS BIGINT) AS vj0,
           cast(e.hvi AS BIGINT) AS vi1, cast(e.hvj AS BIGINT) AS vj1,
           t.turn_sum, t.turn_sum < 0 AS is_hole
    FROM canon c JOIN edges e ON e.id = c.id
    JOIN ts t ON t.ring_id = c.ring_id
    """


def q_spacetime_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Space-time OLAP cube over (level-3 cell, order month): all four
    drill-down granularities from one fact scan via GROUPING SETS
    (operators/raster.py::spacetime_cube)."""
    from cityfinder_spark.operators.raster import spacetime_cube

    load_views(spark, sf_dir, ("orders",))
    pts = spark.sql(
        f"""SELECT {sc.ORDER_LAT} AS lat, {sc.ORDER_LON} AS lon,
                   cast(month(o_orderdate) AS bigint) AS month
            FROM orders"""
    )
    return spacetime_cube(pts)


def _o_spacetime_cube() -> str:
    cell = sc.cell_sql("lat", "lon", 3)
    return f"""
    WITH pts AS (
      SELECT {sc.ORDER_LAT} AS lat, {sc.ORDER_LON} AS lon,
             month(o_orderdate) AS month
      FROM orders),
    c AS (SELECT {cell} AS cell_id, month FROM pts)
    SELECT coalesce(cell_id, -1) AS cell_id,
           cast(coalesce(month, -1) AS BIGINT) AS month,
           cast(grouping(cell_id) * 2 + grouping(month) AS INTEGER) AS gid,
           count(*) AS n_points
    FROM c GROUP BY CUBE(cell_id, month)
    """


def q_geofence_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Geofence enter/exit alerting over the customer tracks vs the
    admin polygons (operators/trajectory.py::geofence_events)."""
    from cityfinder_spark.operators.trajectory import geofence_events

    load_views(spark, sf_dir, ("orders",))
    pts = spark.sql(sc.traj_points_sql(orders=_spread_orders(spark, sf_dir)))
    return geofence_events(pts, _polygons(spark, sf_dir))


def _o_geofence_events() -> str:
    return f"""
    WITH p AS ({sc.traj_points_sql()}),
    s AS (SELECT cust_id, pt_id, lat, lon,
                 row_number() OVER (PARTITION BY cust_id
                                    ORDER BY pt_id) AS seq
          FROM p),
    verts AS ({sc.polygon_vertices_sql()}),
    edges AS (
      SELECT v1.polygon_id, v1.vlat AS y1, v1.vlon AS x1,
             v2.vlat AS y2, v2.vlon AS x2
      FROM verts v1 JOIN verts v2
        ON v1.polygon_id = v2.polygon_id AND v2.v = (v1.v + 1) % 6),
    crossings AS (
      SELECT s.cust_id, s.seq, e.polygon_id, count(*) AS ncross
      FROM s JOIN edges e
        ON ((e.y1 > s.lat) <> (e.y2 > s.lat))
       AND (s.lon < (e.x2 - e.x1) * (s.lat - e.y1) / (e.y2 - e.y1) + e.x1)
      GROUP BY 1, 2, 3),
    pip AS (SELECT cust_id, polygon_id, seq
            FROM crossings WHERE ncross % 2 = 1),
    ev AS (SELECT cust_id, polygon_id, seq,
                  lag(seq) OVER (PARTITION BY cust_id, polygon_id
                                 ORDER BY seq) AS prev_seq,
                  lead(seq) OVER (PARTITION BY cust_id, polygon_id
                                  ORDER BY seq) AS next_seq
           FROM pip)
    SELECT cust_id, polygon_id, 'enter' AS event, seq FROM ev
    WHERE prev_seq IS NULL OR prev_seq <> seq - 1
    UNION ALL
    SELECT cust_id, polygon_id, 'exit' AS event, seq FROM ev
    WHERE next_seq IS NULL OR next_seq <> seq + 1
    """


def q_events_decay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Half-life-decayed engagement score per user (feed-ranking /
    churn-feature shape): integer 1e6 >> age_buckets micro-weights,
    order-free integer rollup, one user-keyed exchange. last_ts
    projected as exact unix micros for the value hash."""
    from cityfinder_spark.streaming.windows import decayed_engagement

    return decayed_engagement(_events(spark, sf_dir)).select(
        "user_id",
        "n_events",
        F.unix_micros(F.col("last_ts").cast("timestamp")).alias("last_us"),
        "decay_micro",
        "score",
    )


def _o_events_decay() -> str:
    return """
    WITH t AS (SELECT user_id, epoch_us(ts) AS us,
                      max(epoch_us(ts)) OVER (PARTITION BY user_id) AS last
               FROM events),
    a AS (SELECT user_id, last,
                 1000000 >> least(
                   cast(floor((last - us) / 3600000000.0) AS INT), 20) AS term
          FROM t)
    SELECT user_id, count(*) AS n_events, max(last) AS last_us,
           cast(sum(term) AS BIGINT) AS decay_micro,
           cast(sum(term) AS BIGINT) / 1000000.0 AS score
    FROM a GROUP BY user_id
    """


def q_trajectory_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-customer movement track over the geotagged points (steps
    ordered by order key): path length / extreme steps from
    consecutive-pair haversine. ONE exchange (the LAG window's hash by
    customer); aggregates are order-free by design — each step rounds
    to integer tenth-of-meter units before summation, so the
    distributed sum is bit-identical to DuckDB's single-threaded
    window replay."""
    from cityfinder_spark.operators.trajectory import trajectory_stats

    load_views(spark, sf_dir, ("orders",))
    pts = spark.sql(sc.traj_points_sql(orders=_spread_orders(spark, sf_dir)))
    return trajectory_stats(pts).withColumnRenamed("entity", "cust_id")


def _o_trajectory_stats() -> str:
    scale = 10**sc.ROUND_DIGITS
    hav = sc.haversine_sql("lat", "lon", "plat", "plon")
    return f"""
    WITH p AS ({sc.traj_points_sql()}),
    s AS (SELECT cust_id, lat, lon,
                 lag(lat) OVER (PARTITION BY cust_id ORDER BY pt_id) AS plat,
                 lag(lon) OVER (PARTITION BY cust_id ORDER BY pt_id) AS plon
          FROM p),
    um AS (SELECT cust_id,
                  CASE WHEN plat IS NULL THEN NULL
                       ELSE cast(floor({hav} * {scale}.0 + 0.5) AS BIGINT)
                  END AS um
           FROM s)
    SELECT cust_id, count(*) AS n_points,
           cast(coalesce(sum(um), 0) AS BIGINT)
             / cast({scale} AS DOUBLE) AS total_km,
           cast(coalesce(max(um), 0) AS BIGINT)
             / cast({scale} AS DOUBLE) AS max_step_km,
           cast(coalesce(min(um), 0) AS BIGINT)
             / cast({scale} AS DOUBLE) AS min_step_km
    FROM um GROUP BY cust_id
    """


def q_trajectory_stays(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stay-point detection: maximal within-radius runs per customer
    track, run boundaries by integer micro-unit step comparison,
    centroids from integer micro-degree sums — window + stay-grain
    groupBy, deterministic at any parallelism."""
    from cityfinder_spark.operators.trajectory import trajectory_stays

    load_views(spark, sf_dir, ("orders",))
    pts = spark.sql(sc.traj_points_sql(orders=_spread_orders(spark, sf_dir)))
    return trajectory_stays(pts).withColumnRenamed("entity", "cust_id")


def q_hotspot_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grid-DBSCAN: hot cells (same density pre-pass as `hot_cells`)
    merged into clusters via 8-adjacency connected components,
    cluster_id = min cell id of the component. One corpus-sized
    exchange (the count agg); everything after is hot-set-sized."""
    from cityfinder_spark.operators.hotspots import hotspot_clusters

    return hotspot_clusters(
        _points(spark, sf_dir), level=CELL_LEVEL, min_count=HOT_THRESHOLD
    )


def _o_trajectory_stays() -> str:
    scale = 10**sc.ROUND_DIGITS
    r_um = int(4000.0 * scale + 0.5)
    hav = sc.haversine_sql("lat", "lon", "plat", "plon")
    return f"""
    WITH p AS ({sc.traj_points_sql()}),
    s AS (SELECT cust_id, pt_id, lat, lon,
                 lag(lat) OVER (PARTITION BY cust_id ORDER BY pt_id) AS plat,
                 lag(lon) OVER (PARTITION BY cust_id ORDER BY pt_id) AS plon
          FROM p),
    b AS (SELECT cust_id, pt_id, lat, lon,
                 CASE WHEN plat IS NULL THEN 1
                      WHEN cast(floor({hav} * {scale}.0 + 0.5) AS BIGINT)
                           > {r_um} THEN 1
                      ELSE 0 END AS brk
          FROM s),
    r AS (SELECT *, sum(brk) OVER (PARTITION BY cust_id ORDER BY pt_id)
                    AS stay_id
          FROM b),
    g AS (SELECT cust_id, cast(stay_id AS BIGINT) AS stay_id,
                 count(*) AS n_points,
                 min(pt_id) AS start_ord, max(pt_id) AS end_ord,
                 cast(sum(cast(floor(lat * 1000000.0 + 0.5) AS BIGINT))
                      AS BIGINT) AS slat,
                 cast(sum(cast(floor(lon * 1000000.0 + 0.5) AS BIGINT))
                      AS BIGINT) AS slon
          FROM r GROUP BY 1, 2)
    SELECT cust_id, stay_id, n_points, start_ord, end_ord,
           slat / (n_points * 1000000.0) AS center_lat,
           slon / (n_points * 1000000.0) AS center_lon
    FROM g WHERE n_points >= 2
    """


def q_cell_pyramid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tile-pyramid rollup (H3 cellToParent / slippy-map pyramid):
    point counts per cell at level 6 and every coarser level down to
    2, the fact side shuffled ONCE and parents derived by exact id
    arithmetic. The oracle recomputes each level independently from
    raw coordinates — equality PROVES the parent arithmetic matches
    the per-level float cell formula bit-for-bit (power-of-two IEEE
    scaling is exact)."""
    from cityfinder_spark.operators.raster import cell_pyramid

    pts = _points(spark, sf_dir).select("lat", "lon")
    return cell_pyramid(pts, level=CELL_LEVEL, depth=4)


def _o_cell_pyramid() -> str:
    per_level = [
        f"""
    SELECT {lvl} AS level, {sc.cell_sql("lat", "lon", lvl)} AS cell_id,
           count(*) AS n_points
    FROM pts GROUP BY 2"""
        for lvl in range(CELL_LEVEL, CELL_LEVEL - 5, -1)
    ]
    return (
        f"WITH pts AS ({sc.points_from_orders_sql()})"
        + " UNION ALL ".join(per_level)
    )


def q_tile_render(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Density-tile rendering, gated through the PNG bytes: points ->
    fine-cell pixel counts (ONE map-side-combined exchange) -> per-tile
    16x16 grayscale PNG via the real stdlib-zlib encoder -> CRC-checked
    real decode -> lit pixels joined back to their counts. The value
    hash covers intensity AS READ FROM THE DECODED PNG, so the gate
    proves cell math, the count aggregate, the integer intensity
    scaling, and the PNG encode/decode loop in one row set. Oracle
    replays the arithmetic relationally (operators/tiles.py)."""
    from cityfinder_spark.operators.tiles import render_tiles_checked

    pts = _points(spark, sf_dir).select("lat", "lon")
    return render_tiles_checked(pts, level=CELL_LEVEL, grid_levels=4)


def _o_tile_render() -> str:
    fine = CELL_LEVEL + 4
    stride = sc.LEVEL_STRIDE
    nlon_f = 2 << fine
    nlon_t = 2 << CELL_LEVEL
    p = 16
    return f"""
    WITH pts AS ({sc.points_from_orders_sql()}),
    f AS (SELECT {sc.cell_sql("lat", "lon", fine)} AS cf FROM pts),
    ij AS (SELECT (cf - {fine} * {stride}) // {nlon_f} AS i_f,
                  (cf - {fine} * {stride}) % {nlon_f} AS j_f
           FROM f),
    pxl AS (SELECT cast({CELL_LEVEL} AS BIGINT) * {stride}
                     + (i_f // {p}) * {nlon_t} + (j_f // {p}) AS tile_id,
                   j_f % {p} AS px, i_f % {p} AS py
            FROM ij),
    cnt AS (SELECT tile_id, px, py, count(*) AS n_points
            FROM pxl GROUP BY 1, 2, 3),
    mx AS (SELECT tile_id, max(n_points) AS mx FROM cnt GROUP BY 1)
    SELECT c.tile_id, c.px, c.py, c.n_points,
           greatest(cast(1 AS BIGINT), (c.n_points * 255) // m.mx)
             AS intensity
    FROM cnt c JOIN mx m USING (tile_id)
    """


RADIUS_JOIN_KM = 200.0


def q_radius_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distance-band join: every (point, city) pair within 200 km plus
    the rounded distance — the 'everything near this geotag'
    complement to kNN. Discs reduce to (possibly antimeridian-
    wrapping) bounding boxes that ride the gridded bbox cover; the
    refine is the shared-rounded haversine, so the oracle is the
    brute-force inequality join (operators/range_join.py::radius_join,
    never the O(N*B) nested loop Spark would plan natively)."""
    from cityfinder_spark.operators.range_join import radius_join

    pts = _points(spark, sf_dir).select("pt_id", "lat", "lon")
    return radius_join(
        pts, _cities(spark, sf_dir), RADIUS_JOIN_KM, level=CELL_LEVEL
    )


def _o_radius_join() -> str:
    hav = sc.haversine_rounded_sql("p.lat", "p.lon", "c.lat", "c.lon")
    return f"""
    WITH pts AS ({sc.points_from_orders_sql()}),
    cities AS ({sc.cities_from_customer_sql()})
    SELECT p.pt_id, c.city_id, {hav} AS dist_km
    FROM pts p JOIN cities c ON {hav} <= {RADIUS_JOIN_KM!r}
    """


def q_distinct_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouped HyperLogLog distinct-count sketch vs the exact count:
    registers use trailing-zero rank (exactly SQL-expressible bit
    ops), the register sum is an exact DECIMAL(38,0) integer, and the
    raw harmonic-mean estimate is one double division — so an
    APPROXIMATE-counting operator value-hashes bit-for-bit against
    the DuckDB splitmix64 replay (operators/sketch.py). Exchange
    volume: <= 256 register rows per group, input-size-independent."""
    from cityfinder_spark.operators.sketch import hll_vs_exact

    load_views(spark, sf_dir, ("orders",))
    return hll_vs_exact(
        spark.table("orders"),
        "o_orderpriority",
        "o_custkey",
        p=8,
        hash_mode="splitmix",
    )


def _o_distinct_sketch() -> str:
    est_raw = (
        "(((cast(0.7213 AS DOUBLE) / (cast(1.0 AS DOUBLE)"
        " + (cast(1.079 AS DOUBLE) / cast(256.0 AS DOUBLE))))"
        " * cast(65536.0 AS DOUBLE)) * cast(144115188075855872.0 AS DOUBLE))"
        " / cast(s_present + cast(n_zero AS HUGEINT) * 144115188075855872"
        " AS DOUBLE)"
    )
    rel = (
        "(est_distinct - cast(exact_distinct AS DOUBLE))"
        " / cast(exact_distinct AS DOUBLE)"
    )
    return f"""
    WITH src AS (SELECT o_orderpriority AS grp,
                        cast(o_custkey AS HUGEINT) AS x0
                 FROM orders),
    {_duck_mix64("src")},
    br AS (SELECT grp,
                  cast(z // 72057594037927936 AS BIGINT) AS bucket,
                  cast(z % 72057594037927936 AS BIGINT) AS w
           FROM mx),
    rr AS (SELECT grp, bucket,
                  CASE WHEN w = 0 THEN 57
                       ELSE bit_count((w & (-w)) - 1) + 1 END AS rho
           FROM br),
    regs AS (SELECT grp, bucket, max(rho) AS rho FROM rr GROUP BY 1, 2),
    agg AS (SELECT grp,
                   sum(cast(1 AS BIGINT) << cast(57 - rho AS INT))
                     AS s_present,
                   cast(256 - count(*) AS BIGINT) AS n_zero
            FROM regs GROUP BY 1),
    est AS (SELECT grp, n_zero, {sc.round6_sql(est_raw)} AS est_distinct
            FROM agg),
    ex AS (SELECT o_orderpriority AS grp,
                  count(DISTINCT o_custkey) AS exact_distinct
           FROM orders GROUP BY 1)
    SELECT est.grp, est.n_zero, est.est_distinct, ex.exact_distinct,
           {sc.round6_sql(rel)} AS rel_err
    FROM est JOIN ex USING (grp)
    """


def q_box_range_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spatial range join: every point x every query rectangle it
    falls in (bounds inclusive), including antimeridian-crossing and
    pole-clamped boxes. Spark plans a raw BETWEEN join as a nested
    loop (O(N*B) compares); the engine grids it instead — boxes
    explode into covering cells, points key to their one cell, an
    equi-join on the cell id generates candidates, the exact
    rectangle test refines (operators/range_join.py). Oracle = the
    brute-force inequality join in DuckDB over the same
    deterministically-derived boxes (sqlcompat.boxes_from_orders_sql,
    identical expression text both sides)."""
    from cityfinder_spark.operators.range_join import bbox_join

    load_views(spark, sf_dir, ("orders",))
    pts = _points(spark, sf_dir).select("pt_id", "lat", "lon")
    boxes = spark.sql(sc.boxes_from_orders_sql())
    return bbox_join(pts, boxes, level=CELL_LEVEL)


def _o_box_range_join() -> str:
    return f"""
    WITH pts AS ({sc.points_from_orders_sql()}),
    boxes AS ({sc.boxes_from_orders_sql()})
    SELECT p.pt_id, b.box_id
    FROM pts p JOIN boxes b ON
      p.lat >= b.lat_min AND p.lat <= b.lat_max AND
      (CASE WHEN b.lon_min <= b.lon_max
            THEN p.lon >= b.lon_min AND p.lon <= b.lon_max
            ELSE p.lon >= b.lon_min OR p.lon <= b.lon_max END)
    """


def q_geo_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The north star's stages composed end-to-end in ONE pipeline:
    geotagged points -> nearest-city kNN (broadcast CityIndex, zero
    shuffle) -> admin-polygon tiling ON THE JOINED STREAM (lat/lon ride
    through the kNN join, so the PIP bbox-prune + ray-cast is another
    zero-shuffle stage over the same scan) -> per-country rollup (the
    composite's ONLY exchange, map-side combined). All aggregates are
    order-free (counts, min/max of rounded dist), so the rollup is
    DuckDB-oracled exactly."""
    pts = _points(spark, sf_dir).select("pt_id", "lat", "lon")
    cities = _cities(spark, sf_dir)
    near = nearest_city_join(pts, cities, cache_key=("cities", sf_dir))
    tagged = tag_points_with_polygons(near, _polygons(spark, sf_dir))
    return tagged.groupBy("poly_country").agg(
        F.count("*").alias("n_points"),
        F.countDistinct("city_id").alias("n_cities"),
        F.min("dist_km").alias("min_dist_km"),
        F.max("dist_km").alias("max_dist_km"),
    )


# ---------------- index persistence roundtrip (S5/S6/S7) ----------------

def _roundtrip_finder(spark: SparkSession, sf_dir: str):
    """Save->load roundtrip, once per (SparkContext, sf_dir) via
    bcast.memo_value (cleared by bcast.clear() with every other
    dimension cache): persistence happens once, repeated driver runs
    query the LOADED finder — the reference's build-if-missing gob
    cache shape (lib/initializer/initializer.go:198-259)."""
    from cityfinder_spark.bcast import memo_value
    from cityfinder_spark.finder import CityFinder

    def build() -> CityFinder:
        import hashlib
        import tempfile

        load_views(spark, sf_dir, ("customer", "nation"))
        src = CityFinder(
            _cities(spark, sf_dir), spark.sql(sc.postal_dim_sql())
        )
        # fixed per-sf_dir path, overwritten on every rebuild (new
        # SparkContexts memo-miss and re-save): no /tmp accumulation
        # of full index copies across sessions
        tag = hashlib.sha1(sf_dir.encode()).hexdigest()[:12]
        path = os.path.join(
            tempfile.gettempdir(), f"cf_index_roundtrip_{tag}"
        )
        src.save_index(path)
        return CityFinder.load_index(spark, path)

    return memo_value(spark, ("index-roundtrip", sf_dir), build)


def q_index_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S5/S6 driver gate: save_index -> load_index -> the flagship
    nearest query THROUGH THE LOADED index. Oracle = the same
    brute-force nearest SQL as `nearest_city`, so any persistence bug
    (dropped column, truncated rows, meta mismatch, wrong level/ring
    rebuild) surfaces as a driver-red row (reference lifecycle:
    SerializeIndex/DeserializeIndex, s2.go:77-129)."""
    f = _roundtrip_finder(spark, sf_dir)
    return f.nearest_city_df(_points(spark, sf_dir)).select(
        "pt_id", "caption", "city_id", "name", "country", "dist_km"
    )


def q_index_roundtrip_postal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S7 driver gate: postal lookup through the save->load roundtrip
    (reference postalCode.go:76-115); oracle = the postal_lookup SQL."""
    f = _roundtrip_finder(spark, sf_dir)
    # re-register the query-side views on EVERY call (not only on the
    # finder-cache miss): another query may have pointed these temp
    # views at a different sf_dir in the same session
    load_views(spark, sf_dir, ("customer", "nation"))
    q = spark.sql(sc.postal_queries_sql(orders=_spread_orders(spark, sf_dir)))
    return f.city_by_postal_df(q)


# ---------------- reference TSV scans (S1/S3) ----------------

# The reference's own 1,000-row GeoNames samples (read-only). The scan
# queries ignore sf_dir by design: they gate the PARSER semantics
# (field projection, malformed-row skip, zero-fill), not data volume.
_REF_TESTDATA = "/root/reference/testdata"


def q_geonames_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S1 + P1/P2/P3: GeoNames cities TSV scan — project name/lat/lon/
    country, comma-split alt names (emitted as n_alt so the driver's
    column sort never sees an array), skip rows with <19 fields or
    unparseable lat/lon (reference lib/dataLoader/cityCoordinate.go:
    24-48 `continue`s on parse errors)."""
    from cityfinder_spark.sources.geonames import load_geonames_cities

    df = load_geonames_cities(spark, f"{_REF_TESTDATA}/allCountries.txt")
    return df.select(
        "city_id",
        "name",
        F.size("alt_names").alias("n_alt"),
        "lat",
        "lon",
        "country",
    )


def q_postal_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S3 + P5's input: postal-code TSV scan — 12 positional fields,
    numeric parse failures become ZERO values, not dropped rows
    (reference lib/dataLoader/zipCodes.go:41-58 ignores strconv
    errors). line_no is excluded: it exists for the last-write-wins
    dedup (J5, gated by postal_dedup) and is partition-layout-
    dependent, not part of the parse contract."""
    from cityfinder_spark.sources.geonames import load_postal_codes

    return load_postal_codes(spark, f"{_REF_TESTDATA}/zipCodes.txt").drop(
        "line_no"
    )


# ---------------- training-data pipeline queries ----------------

JACCARD_T = 0.2
COS_DEDUP_T = 0.5
# semdedup gate threshold: 0.35 drops ~90 of the 500 sf0.01 embeddings
# (0.5 drops 1) — the gate exercises multi-drop clusters and keeper
# chains, not a single lucky pair; operator default stays 0.9.
SEMDEDUP_T = 0.35


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_views(spark, sf_dir, ("documents",))
    return spread(spark.table("documents"))


def _embs(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_views(spark, sf_dir, ("embeddings",))
    return spread(spark.table("embeddings"))


def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact hash-groupBy dedup on the 80-char normalization prefix."""
    return dedup_exact(_docs(spark, sf_dir), key_expr="substr(text, 1, 80)")


def q_length_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source token-length z-score gate, integer-exact: moments
    are decimal integer sums (order-free at any parallelism) and the
    outlier verdict is the cross-multiplied comparison
    (n*x - s)^2 > z^2 * (n*ss - s^2) — no float anywhere but the
    final reported z (one division + one IEEE-correctly-rounded sqrt,
    cross-engine stable). One tiny moments agg + broadcast stamp."""
    from cityfinder_spark.operators.textops import length_outliers

    return length_outliers(_docs(spark, sf_dir), group_col="source", z=2)


def q_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    return token_stats(_docs(spark, sf_dir))


def q_corpus_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic leakage-safe train/val/test assignment by the
    portable hash — a zero-shuffle codegen projection."""
    from cityfinder_spark.operators.sampling import corpus_split

    return corpus_split(_docs(spark, sf_dir)).select("doc_id", "split")


def q_split_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-level contamination watch: k-mins MinHash sketch per
    split, Jaccard estimated by agreeing bucket minima — the sketch
    that watches drift between crawl snapshots before paying for the
    exact decontaminate gate (operators/dedup.py)."""
    from cityfinder_spark.operators.dedup import split_minhash_overlap

    return split_minhash_overlap(_docs(spark, sf_dir))


def _o_split_overlap() -> str:
    md5h = _DUCK_MD5_INT.format(x="shingle")
    est = sc.round6_sql("cast(n_agree AS DOUBLE) / k_used")
    return f"""
    WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
    idx AS (SELECT doc_id, ws, unnest(generate_series(1, len(ws) - 2)) AS i
            FROM w WHERE len(ws) >= 3),
    sh AS (SELECT DISTINCT doc_id,
                  ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] AS shingle
           FROM idx),
    sp AS (SELECT CASE WHEN (doc_id * 16807) % 100000 < 5000 THEN 'val'
                       WHEN (doc_id * 16807) % 100000 < 10000 THEN 'test'
                       ELSE 'train' END AS split,
                  {md5h} AS h
           FROM sh),
    sk AS (SELECT split, h % 256 AS bucket, min(h) AS mn
           FROM sp GROUP BY 1, 2),
    pairs AS (SELECT a.split AS split_a, b.split AS split_b,
                     a.mn AS mn_a, b.mn AS mn_b
              FROM sk a JOIN sk b USING (bucket)
              WHERE a.split < b.split),
    agg AS (SELECT split_a, split_b, count(*) AS k_used,
                   cast(sum(CASE WHEN mn_a = mn_b THEN 1 ELSE 0 END)
                        AS BIGINT) AS n_agree
            FROM pairs GROUP BY 1, 2)
    SELECT split_a, split_b, k_used, n_agree, {est} AS jaccard_est
    FROM agg
    """


def q_bloom_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decontamination with the held-out side compressed to a 2^20-bit
    Bloom filter: the eval set becomes a 128 KB broadcast artifact and
    the train side probes it inside the shingle-building Arrow pass —
    zero fact-sized exchanges (vs the exact gate's full shingle-key
    semi-join). Superset guarantee: n_flagged >= exact n_shared
    row-wise. md5 double-hashing makes filter and probes
    DuckDB-replayable bit-for-bit."""
    from cityfinder_spark.operators.dedup import bloom_decontaminate

    return bloom_decontaminate(
        _docs(spark, sf_dir), n=3, cache_key=("bloomdecon", sf_dir)
    )


def q_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark-contamination gate: per TRAIN doc, the count of its
    distinct 3-gram shingles occurring anywhere in the held-out
    splits, and the disqualification flag."""
    from cityfinder_spark.operators.dedup import decontaminate

    return decontaminate(_docs(spark, sf_dir), n=3)


def q_text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    return quality_score(_docs(spark, sf_dir))


def q_repetition_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style within-doc repetition signals (top-bigram share,
    dup bigram/trigram share, composite gate) — pure codegen
    projection, zero shuffle; oracled via DuckDB list functions with
    the shared round6 so the doubles are bit-identical."""
    from cityfinder_spark.operators.textops import repetition_stats

    return repetition_stats(_docs(spark, sf_dir))


def _o_repetition_stats() -> str:
    from cityfinder_spark.operators.textops import (
        REP_DUP_TRIGRAM_MAX,
        REP_TOP_BIGRAM_MAX,
    )

    top2 = sc.round6_sql(
        "CASE WHEN len(bg) > 0 THEN list_max(list_transform(list_distinct(bg),"
        " x -> len(list_filter(bg, y -> y = x)))) / cast(len(bg) AS DOUBLE)"
        " ELSE 0.0 END"
    )
    dup2 = sc.round6_sql(
        "CASE WHEN len(bg) > 0 THEN 1.0 - len(list_distinct(bg))"
        " / cast(len(bg) AS DOUBLE) ELSE 0.0 END"
    )
    dup3 = sc.round6_sql(
        "CASE WHEN len(tg) > 0 THEN 1.0 - len(list_distinct(tg))"
        " / cast(len(tg) AS DOUBLE) ELSE 0.0 END"
    )
    return f"""
    WITH d AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
    g AS (SELECT doc_id,
            list_transform(range(1, len(w)),
                           i -> w[i] || ' ' || w[i+1]) AS bg,
            list_transform(range(1, len(w) - 1),
                           i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2]) AS tg
          FROM d),
    r AS (SELECT doc_id, {top2} AS top_bigram_ratio,
                 {dup2} AS dup_bigram_ratio, {dup3} AS dup_trigram_ratio
          FROM g)
    SELECT doc_id, top_bigram_ratio, dup_bigram_ratio, dup_trigram_ratio,
           ((top_bigram_ratio > {REP_TOP_BIGRAM_MAX}
             AND dup_bigram_ratio > 0.0)
            OR dup_trigram_ratio > {REP_DUP_TRIGRAM_MAX}) AS repetitive
    FROM r
    """


def q_quality_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Best-k documents per source by the rounded quality score —
    curation's 'keep the best of each provenance' selection, computed
    with the two-phase top-k (local per-partition top-k in one Arrow
    pass, then a dimension-sized global merge) instead of the
    group-parallel window that would cap 10^12-row parallelism at
    |sources| tasks. The oracle is the naive window plan in DuckDB;
    equality proves the two-phase pruning is lossless."""
    from cityfinder_spark.operators.textops import quality_col
    from cityfinder_spark.operators.topk import group_topk

    docs = _docs(spark, sf_dir).select(
        "doc_id", "source", quality_col().alias("quality")
    )
    return group_topk(docs, 3, "source", "quality", "doc_id")


def _o_quality_topk() -> str:
    stops = ", ".join(f"'{s}'" for s in LANG_STOPWORDS["en"])
    quality = sc.round6_sql(
        "0.4 * (hits / n) + 0.3 * (uniq / n)"
        " + 0.3 * least(((lc - (n - 1)) / n) / 10.0, 1.0)"
    )
    return f"""
    WITH t AS (SELECT doc_id, source, string_split(text, ' ') AS w,
                      length(text) AS lc
               FROM documents),
    s AS (SELECT doc_id, source, len(w) AS n,
                 len(list_filter(w, x -> x IN ({stops}))) AS hits,
                 len(list_distinct(w)) AS uniq, lc
          FROM t),
    q AS (SELECT doc_id, source, {quality} AS quality FROM s),
    r AS (SELECT *, row_number() OVER (
            PARTITION BY source ORDER BY quality DESC, doc_id ASC) AS rank
          FROM q)
    SELECT source, cast(rank AS INT) AS rank, doc_id, quality
    FROM r WHERE rank <= 3
    """


def q_token_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT corpus token-count percentiles without a global sort:
    count-by-value (map-side combined), cumulative sum over the tiny
    value domain, bracket pick per requested p. Unlike
    approx_percentile the result is deterministic, so it value-hashes
    against the DuckDB window-function replay."""
    from cityfinder_spark.operators.textops import exact_percentiles, token_stats

    toks = token_stats(_docs(spark, sf_dir)).select(
        F.col("n_tokens").cast("long").alias("n_tokens")
    )
    return exact_percentiles(toks, "n_tokens", ps=(0.5, 0.9, 0.99)).select(
        "p", F.col("value").cast("long").alias("value"), "cum_count", "total"
    )


VOCAB_K = 40
BM25_TERMS = ["spark", "window", "hash"]
BM25_K = 25
BM25_K1 = 1.2
BM25_B = 0.75


def q_vocab_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer-vocabulary build: top-k tokens by corpus occurrence
    count with document frequency, rank deterministic by (count desc,
    token asc). explode+groupBy is map-side combined (the exchange
    carries |vocab| partials, never corpus tokens); the final top-k is
    TakeOrdered over the vocab-sized agg."""
    from cityfinder_spark.operators.textops import vocab_topk

    return vocab_topk(_docs(spark, sf_dir), k=VOCAB_K)


def q_tokenize_ids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trainer-input tokenization: map every corpus token to its
    vocab id (vocab = the vocab_topk ranks), OOV -> 0. posexplode is a
    codegen generator and the vocab map is a broadcast join — the
    corpus never shuffles."""
    from cityfinder_spark.operators.textops import tokenize_ids, vocab_topk

    docs = _docs(spark, sf_dir)
    vocab = vocab_topk(docs, k=VOCAB_K).select(
        F.col("rank").alias("token_id"), "token"
    )
    return tokenize_ids(docs, vocab)


def q_lm_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bigram-LM document scoring (KenLM/CCNet quality-filter shape),
    self-trained on the corpus: P(w2|w1) add-one smoothed, each
    token's ln(p) fixed-pointed to integer micro-nats BEFORE the
    per-doc sum, so the rollup is order-free and value-hashes against
    the DuckDB replay (operators/textops.py::lm_score)."""
    from cityfinder_spark.operators.textops import lm_score

    return lm_score(_docs(spark, sf_dir))


def _o_lm_score() -> str:
    p = "(cast(n12 AS DOUBLE) + 1.0) / (cast(n1 AS DOUBLE) + (SELECT v FROM v))"
    avg = (
        "(cast(cast(sum(lp) AS BIGINT) AS DOUBLE) / 1000000.0)"
        " / cast(count(*) AS DOUBLE)"
    )
    return f"""
    WITH d AS (SELECT doc_id, string_split(text, ' ') AS l FROM documents),
    di AS (SELECT doc_id, l,
                  unnest(generate_series(1, len(l) - 1)) AS i
           FROM d),
    bg AS (SELECT doc_id, l[i] || ' ' || l[i + 1] AS bigram, l[i] AS w1
           FROM di),
    c12 AS (SELECT bigram, count(*) AS n12 FROM bg GROUP BY 1),
    c1 AS (SELECT w1, count(*) AS n1 FROM bg GROUP BY 1),
    v AS (SELECT cast(count(DISTINCT t) AS DOUBLE) AS v
          FROM (SELECT unnest(string_split(text, ' ')) AS t
                FROM documents)),
    scored AS (
      SELECT bg.doc_id,
             cast(floor(ln({p}) * 1000000.0 + 0.5) AS BIGINT) AS lp
      FROM bg JOIN c12 USING (bigram) JOIN c1 USING (w1))
    SELECT doc_id, count(*) AS n_bigrams,
           cast(sum(lp) AS BIGINT) AS sum_lp_micro,
           {sc.round6_sql(avg)} AS avg_logp
    FROM scored GROUP BY 1
    """


def q_pii_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrubbing gate: documents with deterministically planted
    emails/phones/IPs (sqlcompat.pii_docs_sql — identical expression
    text both engines), redacted by the regexp_replace chain and
    counted by regexp_extract_all. The value hash covers the exact
    redacted strings, so Java-regex vs RE2 semantic agreement on the
    conservative pattern subset is itself under test."""
    from cityfinder_spark.operators.textops import redact_pii

    load_views(spark, sf_dir, ("documents",))
    return redact_pii(spark.sql(sc.pii_docs_sql()))


_DSIR_TARGET = "src0"  # target domain: one source; candidates = the rest
_DSIR_TAU = -150000  # micro-nats/bigram, ~the candidate median -> both verdicts occur


def q_importance_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR importance selection gate: treat one source as the target
    domain (the 'select web data that resembles Wikipedia' shape),
    train add-one bigram LMs on target and candidates, score every
    candidate by the integer micro-nat log importance ratio, accept on
    the cross-multiplied average threshold. tau sits near the
    candidate median so accepts AND rejects both occur. Hash-exact end
    to end (same micro-nat discipline as lm_score); the oracle replays
    both LMs and the merged-join scoring closed-form."""
    from cityfinder_spark.operators.textops import importance_sample

    docs = _docs(spark, sf_dir)
    return importance_sample(
        docs.where(F.col("source") != _DSIR_TARGET),
        docs.where(F.col("source") == _DSIR_TARGET),
        tau_micro=_DSIR_TAU,
    )


def _o_importance_sample() -> str:
    def lp(n12: str, n1: str, v: str) -> str:
        return (
            f"cast(floor(ln((cast(coalesce({n12}, 0) AS DOUBLE) + 1.0)"
            f" / (cast(coalesce({n1}, 0) AS DOUBLE) + (SELECT v FROM {v})))"
            " * 1000000.0 + 0.5) AS BIGINT)"
        )

    avg = (
        "(cast(cast(sum(dlp) AS BIGINT) AS DOUBLE) / 1000000.0)"
        " / cast(count(*) AS DOUBLE)"
    )
    return f"""
    WITH d AS (SELECT doc_id, source, string_split(text, ' ') AS l
               FROM documents),
    di AS (SELECT doc_id, source, l,
                  unnest(generate_series(1, len(l) - 1)) AS i
           FROM d),
    bg AS (SELECT doc_id, source, l[i] || ' ' || l[i + 1] AS bigram,
                  l[i] AS w1
           FROM di),
    bgt AS (SELECT * FROM bg WHERE source = '{_DSIR_TARGET}'),
    bgc AS (SELECT * FROM bg WHERE source <> '{_DSIR_TARGET}'),
    c12t AS (SELECT bigram, count(*) AS n12_t FROM bgt GROUP BY 1),
    c1t AS (SELECT w1, count(*) AS n1_t FROM bgt GROUP BY 1),
    c12s AS (SELECT bigram, count(*) AS n12_s FROM bgc GROUP BY 1),
    c1s AS (SELECT w1, count(*) AS n1_s FROM bgc GROUP BY 1),
    vt AS (SELECT cast(count(DISTINCT t) AS DOUBLE) AS v
           FROM (SELECT unnest(string_split(text, ' ')) AS t
                 FROM documents)),
    vs AS (SELECT v FROM vt),
    scored AS (
      SELECT bgc.doc_id,
             {lp("n12_t", "n1_t", "vt")} - {lp("n12_s", "n1_s", "vs")}
               AS dlp
      FROM bgc LEFT JOIN c12t USING (bigram) LEFT JOIN c1t USING (w1)
               LEFT JOIN c12s USING (bigram) LEFT JOIN c1s USING (w1))
    SELECT doc_id, count(*) AS n_bigrams,
           cast(sum(dlp) AS BIGINT) AS delta_micro,
           {sc.round6_sql(avg)} AS avg_delta,
           (cast(sum(dlp) AS BIGINT) >= {_DSIR_TAU} * count(*)) AS accept
    FROM scored GROUP BY 1
    """


def _o_pii_redact() -> str:
    from cityfinder_spark.operators.textops import PII_PATTERNS

    red = "text"
    counts = []
    for name, pat in PII_PATTERNS.items():
        red = f"regexp_replace({red}, '{pat}', '<{name.upper()}>', 'g')"
        counts.append(
            f"len(regexp_extract_all(text, '{pat}')) AS n_{name}"
        )
    total = " + ".join(f"n_{name}" for name in PII_PATTERNS)
    return f"""
    WITH src AS ({sc.pii_docs_sql()}),
    r AS (SELECT doc_id, {red} AS text_redacted, {", ".join(counts)}
          FROM src)
    SELECT doc_id, text_redacted, n_email, n_phone, n_ipv4,
           ({total}) AS n_pii
    FROM r
    """


def q_bm25_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 keyword search: top-k docs for a term bag. One filtered
    projection pass over the corpus (dl rides the explode, no join
    back), hit-sized exchange, broadcast stats/df, fixed-order
    per-term score pivot — fully deterministic vs the DuckDB replay."""
    from cityfinder_spark.operators.textops import bm25_topk

    return bm25_topk(
        _docs(spark, sf_dir), BM25_TERMS, k=BM25_K, k1=BM25_K1, b=BM25_B
    )


def _o_token_percentiles() -> str:
    return """
    WITH t AS (SELECT len(string_split(text, ' ')) AS v FROM documents),
    c AS (SELECT v, count(*) AS cnt FROM t GROUP BY v),
    cum AS (SELECT v, cast(sum(cnt) OVER (ORDER BY v) AS BIGINT) AS cum FROM c),
    tot AS (SELECT count(*) AS total FROM t),
    ps AS (SELECT unnest([0.5, 0.9, 0.99]) AS p)
    SELECT p, cast(min(v) AS BIGINT) AS value,
           cast(min_by(cum, v) AS BIGINT) AS cum_count,
           cast(first(total) AS BIGINT) AS total
    FROM cum, tot, ps
    WHERE cum >= ceil(p * total)
    GROUP BY p
    """


def q_length_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Length-bucketed batching: exact quartile boundaries of the
    token-length distribution (type-1 percentiles, deterministic) +
    a zero-shuffle bucket projection. The oracle re-derives the same
    boundaries relationally, so the assignment value-hashes."""
    from cityfinder_spark.operators.textops import length_buckets

    return length_buckets(_docs(spark, sf_dir))


def _o_length_buckets() -> str:
    return """
    WITH t AS (SELECT doc_id, len(string_split(text, ' ')) AS n_tokens
               FROM documents),
    c AS (SELECT n_tokens AS v, count(*) AS cnt FROM t GROUP BY 1),
    cum AS (SELECT v, cast(sum(cnt) OVER (ORDER BY v) AS BIGINT) AS cum
            FROM c),
    tot AS (SELECT count(*) AS total FROM t),
    qs AS (SELECT p, min(v) AS q
           FROM cum, tot, (SELECT unnest([0.25, 0.5, 0.75]) AS p)
           WHERE cum >= ceil(p * total)
           GROUP BY p)
    SELECT doc_id, cast(n_tokens AS BIGINT) AS n_tokens,
           cast((CASE WHEN n_tokens > (SELECT q FROM qs WHERE p = 0.25)
                      THEN 1 ELSE 0 END)
              + (CASE WHEN n_tokens > (SELECT q FROM qs WHERE p = 0.5)
                      THEN 1 ELSE 0 END)
              + (CASE WHEN n_tokens > (SELECT q FROM qs WHERE p = 0.75)
                      THEN 1 ELSE 0 END) AS INT) AS bucket
    FROM t
    """


def q_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    return lang_id(_docs(spark, sf_dir))


def q_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    return fingerprint(_docs(spark, sf_dir))


CONTAINMENT_T = 0.35


def q_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    return ngram_jaccard_pairs(_docs(spark, sf_dir), n=3, threshold=JACCARD_T)


def q_ngram_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partial-duplication pairs: n-gram containment (inter/min size)
    catches short-doc-quoted-in-long-doc overlap that Jaccard dilutes;
    at the contract threshold the sf0.01 corpus yields genuine full
    containments (1.0) alongside partials. Same candidate machinery
    and oracle CTEs as the Jaccard key."""
    from cityfinder_spark.operators.dedup import ngram_containment_pairs

    return ngram_containment_pairs(
        _docs(spark, sf_dir), n=3, threshold=CONTAINMENT_T
    )


def _o_ngram_containment() -> str:
    return f"""
    WITH {_SHINGLES_CTE},
    cont AS (SELECT doc_a, doc_b,
                    (floor((inter / least(sa.sz, sb.sz)) * 1000000.0 + 0.5)
                     / 1000000.0) AS containment
             FROM inter
             JOIN sz sa ON sa.doc_id = doc_a
             JOIN sz sb ON sb.doc_id = doc_b)
    SELECT c.doc_a, c.doc_b, c.containment, j.jaccard
    FROM cont c JOIN jac j USING (doc_a, doc_b)
    WHERE c.containment >= {CONTAINMENT_T}
    """


SUBSTR_GRAM_LEN = 6
SUBSTR_MAX_NUM, SUBSTR_MAX_DEN = 1, 5


def q_substring_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact substring-span dedup, span grain (Lee et al. ExactSubstr
    at token granularity): every corpus-duplicated 6-token window
    flags its span; overlapping/adjacent spans merge into maximal
    per-doc intervals. One occurrence-stream exchange (count window on
    the 48-bit gram hash) + one doc-keyed islands exchange over only
    the flagged occurrences."""
    from cityfinder_spark.operators.dedup import duplicated_spans

    return duplicated_spans(_docs(spark, sf_dir), gram_len=SUBSTR_GRAM_LEN)


def q_substring_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc verdict over the merged duplicated spans: keep while
    dup_tokens/total_tokens < 1/5, decided by integer
    cross-multiplication (order/parallelism-free)."""
    from cityfinder_spark.operators.dedup import substring_dedup

    return substring_dedup(
        _docs(spark, sf_dir),
        gram_len=SUBSTR_GRAM_LEN,
        max_dup_num=SUBSTR_MAX_NUM,
        max_dup_den=SUBSTR_MAX_DEN,
    )


def _substr_spans_cte(keep_first: bool = False) -> str:
    """Shared oracle CTEs: token L-grams -> md5-int48 occurrence
    stream -> corpus-duplicated occurrences -> gaps-and-islands merged
    per-doc intervals. Same hash, same merge semantics as Spark.
    keep_first=True additionally EXEMPTS each duplicated gram's
    globally-canonical occurrence (min (doc_id, start)) — the scrub
    variant's keep-one-copy rule."""
    lg = SUBSTR_GRAM_LEN
    gram_h = _DUCK_MD5_INT.format(x=f"array_to_string(ws[i:i+{lg - 1}], ' ')")
    canon = (
        "AND NOT ((doc_id, start) = mn)" if keep_first else ""
    )
    return f"""
    w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
    occ AS (SELECT doc_id, i - 1 AS start, {gram_h} AS h
            FROM (SELECT doc_id, ws,
                         unnest(generate_series(1, len(ws) - {lg - 1})) AS i
                  FROM w WHERE len(ws) >= {lg})),
    flagged AS (SELECT doc_id, start, start + {lg} AS e
                FROM (SELECT *, count(*) OVER (PARTITION BY h) AS cnt,
                             min((doc_id, start)) OVER (PARTITION BY h) AS mn
                      FROM occ)
                WHERE cnt >= 2 {canon}),
    brk AS (SELECT doc_id, start, e,
                   CASE WHEN start > coalesce(max(e) OVER (
                            PARTITION BY doc_id ORDER BY start
                            ROWS BETWEEN UNBOUNDED PRECEDING
                            AND 1 PRECEDING), -1)
                        THEN 1 ELSE 0 END AS b
            FROM flagged),
    isl AS (SELECT doc_id, start, e,
                   sum(b) OVER (PARTITION BY doc_id ORDER BY start
                                ROWS UNBOUNDED PRECEDING) AS island
            FROM brk),
    spans AS (SELECT doc_id, min(start) AS span_start, max(e) AS span_end
              FROM isl GROUP BY doc_id, island)
    """


def _o_substring_spans() -> str:
    return f"""
    WITH {_substr_spans_cte()}
    SELECT doc_id, span_start, span_end,
           span_end - span_start AS span_tokens
    FROM spans
    """


def _o_substring_dedup() -> str:
    return f"""
    WITH {_substr_spans_cte()},
    per_doc AS (SELECT doc_id, count(*) AS dup_spans,
                       sum(span_end - span_start) AS dup_tokens
                FROM spans GROUP BY doc_id)
    SELECT d.doc_id,
           cast(len(string_split(d.text, ' ')) AS bigint) AS total_tokens,
           cast(coalesce(p.dup_spans, 0) AS bigint) AS dup_spans,
           cast(coalesce(p.dup_tokens, 0) AS bigint) AS dup_tokens,
           coalesce(p.dup_tokens, 0) * {SUBSTR_MAX_DEN}
             < len(string_split(d.text, ' ')) * {SUBSTR_MAX_NUM} AS keep
    FROM documents d LEFT JOIN per_doc p USING (doc_id)
    """


def q_substring_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ExactSubstr removal: globally-canonical occurrence of each
    duplicated 6-gram kept, every other flagged span scrubbed from
    the text; the gate value-hashes the exact cleaned strings."""
    from cityfinder_spark.operators.dedup import substring_scrub

    return substring_scrub(_docs(spark, sf_dir), gram_len=SUBSTR_GRAM_LEN)


def _o_substring_scrub() -> str:
    return f"""
    WITH {_substr_spans_cte(keep_first=True)},
    per_doc AS (SELECT doc_id, sum(span_end - span_start) AS removed
                FROM spans GROUP BY doc_id),
    toks AS (SELECT doc_id, i - 1 AS pos, ws[i] AS tok
             FROM (SELECT doc_id, ws,
                          unnest(generate_series(1, len(ws))) AS i
                   FROM w)),
    kept AS (SELECT t.doc_id, t.pos, t.tok FROM toks t
             WHERE NOT EXISTS (SELECT 1 FROM spans s
                               WHERE s.doc_id = t.doc_id
                                 AND t.pos >= s.span_start
                                 AND t.pos < s.span_end)),
    clean AS (SELECT doc_id,
                     coalesce(string_agg(tok, ' ' ORDER BY pos), '')
                       AS clean_text
              FROM kept GROUP BY doc_id)
    SELECT d.doc_id,
           cast(len(string_split(d.text, ' ')) AS bigint) AS total_tokens,
           cast(coalesce(p.removed, 0) AS bigint) AS removed_tokens,
           coalesce(c.clean_text, '') AS clean_text
    FROM documents d
    LEFT JOIN per_doc p USING (doc_id)
    LEFT JOIN clean c USING (doc_id)
    """


def q_minhash_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Signature-only MinHash verify: same LSH candidates, Jaccard
    estimated as the agreeing-component fraction — per-pair cost O(M)
    regardless of document length, nothing doc-length-sized shuffles.
    Integer agreement count; one final division; DuckDB-replayed."""
    from cityfinder_spark.operators.dedup import minhash_estimate_pairs

    return minhash_estimate_pairs(
        _docs(spark, sf_dir), n=3, threshold=JACCARD_T, cache_key=("docs", sf_dir)
    )


def q_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    return minhash_lsh_pairs(
        _docs(spark, sf_dir), n=3, threshold=JACCARD_T, cache_key=("docs", sf_dir)
    )


def q_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    return simhash(_docs(spark, sf_dir))


SAMPLE_RATES = {"src0": 0.8, "src1": 0.5, "src2": 0.2}
SAMPLE_DEFAULT_RATE = 0.1
QUOTA_K = 10


def q_sample_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic stratified rate sample (zero-shuffle codegen'd
    filter on the portable multiplicative hash)."""
    from cityfinder_spark.operators.sampling import stratified_rate_sample

    docs = _docs(spark, sf_dir).select("doc_id", "source", "lang")
    return stratified_rate_sample(
        docs, "doc_id", "source", SAMPLE_RATES, SAMPLE_DEFAULT_RATE
    )


def q_sample_quota(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source quota sample: at most QUOTA_K docs per source,
    deterministic by (hash, id) rank."""
    from cityfinder_spark.operators.sampling import quota_sample

    docs = _docs(spark, sf_dir).select("doc_id", "source")
    return quota_sample(docs, "source", "doc_id", QUOTA_K)


# mixture targets: named sources get real weight, the long tail gets a
# trickle; the budget is sized so named groups sample below 1.0 at
# sf0.01 while staying non-degenerate at sf0.1
MIX_WEIGHTS = {"src0": 0.4, "src1": 0.3, "src2": 0.2}
MIX_DEFAULT_W = 0.01
MIX_BUDGET = 5000


def q_mixture_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-mixture sampling: per-group rates DERIVED from target
    weights + a token budget against the measured per-group token
    mass (the Pile/DoReMi mixture shape), then the deterministic hash
    filter. One tiny column-pruned agg + a broadcast-join filter; the
    whole chain is integer/IEEE-double exact so DuckDB replays the
    sample bit-for-bit."""
    from cityfinder_spark.operators.sampling import mixture_sample

    docs = _docs(spark, sf_dir).select(
        "doc_id",
        "source",
        F.size(F.split(F.col("text"), " ")).cast("long").alias("n_tok"),
    )
    return mixture_sample(
        docs, "doc_id", "source", "n_tok", MIX_WEIGHTS, MIX_BUDGET, MIX_DEFAULT_W
    )


# quality floor ~ the synthetic corpus median (scores span ~0.24-0.50),
# so the filter meaningfully splits rather than pass/drop everything
CURATE_QUALITY_MIN = 0.28
CURATE_RATE = 0.5


def q_corpus_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end corpus curation composite: quality floor + language
    filter + exact-dedup keep-first + deterministic rate sample ->
    per-source token totals, all in one pass (two exchanges total)."""
    from cityfinder_spark.operators.textops import curate_corpus

    return curate_corpus(
        _docs(spark, sf_dir),
        quality_min=CURATE_QUALITY_MIN,
        lang="en",
        rate=CURATE_RATE,
    )


def q_dedup_resolve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dup-cluster resolution: MinHash-LSH pairs (the scale path — the
    exact all-pairs shingle join costs ~3x more and is the documented
    baseline) -> connected components -> (doc_id, canonical_id,
    is_dup). The iterative min-label propagation is checked against
    DuckDB's recursive-CTE transitive closure over the SAME
    deterministic LSH pair set."""
    from cityfinder_spark.operators.components import dedup_resolve

    docs = _docs(spark, sf_dir)
    pairs = minhash_lsh_pairs(
        docs, n=3, threshold=JACCARD_T, cache_key=("docs", sf_dir)
    )
    return dedup_resolve(docs, pairs)


def q_cluster_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leakage-safe train/val/test split BY NEAR-DUP CLUSTER: the
    split hash is applied to the canonical_id from the same
    MinHash-LSH -> connected-components resolution as dedup_resolve,
    so paraphrase clusters never straddle the eval boundary. Adds
    zero exchanges on top of dedup_resolve (a codegen'd CASE over the
    resolve output); the DuckDB oracle replays pairs, closure, and
    MINSTD split bit-for-bit."""
    from cityfinder_spark.operators.sampling import cluster_split

    docs = _docs(spark, sf_dir)
    pairs = minhash_lsh_pairs(
        docs, n=3, threshold=JACCARD_T, cache_key=("docs", sf_dir)
    )
    return cluster_split(docs, pairs)


def q_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    return cosine_topk(_embs(spark, sf_dir), k=5, cache_key=("embs", sf_dir))


def q_embedding_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Int8 scalar quantization of the embedding corpus — scale,
    integer code checksums (qsum + position-weighted qdot pin the full
    quantized vector without emitting an array), and reconstruction
    L2 error. Pure zero-shuffle projection; every column value-hashes
    against the DuckDB list-function replay (same sequential folds)."""
    from cityfinder_spark.operators.quantize import quantize_embeddings

    return quantize_embeddings(_embs(spark, sf_dir))


def q_cosine_topk_quantized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cosine top-k over the int8 codes (scales cancel out of cosine,
    so similarity is integer dots + integer norms — deterministic and
    value-hashable end-to-end). Serving-side proof that the quantized
    corpus answers the same queries; recall vs exact float cosine is
    pinned in pytest."""
    from cityfinder_spark.operators.quantize import quantized_cosine_topk

    return quantized_cosine_topk(
        _embs(spark, sf_dir), k=5, cache_key=("embs", sf_dir)
    )


def _o_cosine_topk_quantized() -> str:
    return f"""
    WITH e AS (SELECT vec_id,
                      list_transform(embedding, x -> cast(x as double)) AS v
               FROM embeddings),
    m AS (SELECT vec_id, v,
                 list_max(list_transform(v, x -> abs(x))) / 127.0 AS s
          FROM e),
    q AS (SELECT vec_id,
                 CASE WHEN s = 0 THEN list_transform(v, x -> cast(0 AS BIGINT))
                      ELSE list_transform(v, x -> cast(floor(x / s + 0.5) AS BIGINT))
                 END AS qv
          FROM m),
    n AS (SELECT vec_id, qv,
                 cast(list_sum(list_transform(qv, x -> x * x)) AS BIGINT) AS n2
          FROM q),
    pairs AS (
      SELECT a.vec_id AS vec_id, b.vec_id AS neighbor_id,
             {sc.round6_sql(
                 "CASE WHEN a.n2 = 0 OR b.n2 = 0 THEN 0.0 ELSE "
                 "cast(list_sum(list_transform(generate_series(1, len(a.qv)),"
                 " i -> a.qv[i] * b.qv[i])) AS BIGINT)"
                 " / (sqrt(a.n2) * sqrt(b.n2)) END"
             )} AS cos_sim
      FROM n a CROSS JOIN n b WHERE a.vec_id <> b.vec_id),
    ranked AS (
      SELECT *, row_number() OVER (
        PARTITION BY vec_id ORDER BY cos_sim DESC, neighbor_id ASC) AS rank
      FROM pairs)
    SELECT vec_id, neighbor_id, cos_sim, cast(rank AS INT) AS rank
    FROM ranked WHERE rank <= 5
    """


def _o_embedding_quantize() -> str:
    dq = "(v[i] - qv[i] * s)"
    return f"""
    WITH e AS (SELECT vec_id,
                      list_transform(embedding, x -> cast(x as double)) AS v
               FROM embeddings),
    m AS (SELECT vec_id, v,
                 list_max(list_transform(v, x -> abs(x))) / 127.0 AS s
          FROM e),
    q AS (SELECT vec_id, v, s,
                 CASE WHEN s = 0 THEN list_transform(v, x -> cast(0 AS BIGINT))
                      ELSE list_transform(v, x -> cast(floor(x / s + 0.5) AS BIGINT))
                 END AS qv
          FROM m)
    SELECT vec_id, cast(len(v) AS INT) AS dim,
           {sc.round6_sql("s")} AS scale,
           cast(list_sum(qv) AS BIGINT) AS qsum,
           cast(list_sum(list_transform(generate_series(1, len(qv)),
                                        i -> qv[i] * i)) AS BIGINT) AS qdot,
           {sc.round6_sql(f"sqrt(list_sum(list_transform(generate_series(1, len(v)), i -> {dq} * {dq})))")} AS l2_err
    FROM q
    """


def q_cosine_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    return cosine_dedup_pairs(
        _embs(spark, sf_dir), threshold=COS_DEDUP_T, cache_key=("embs", sf_dir)
    )


def q_ann_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate in recall (gated vs brute force in tests), exact in
    mechanism — oracled by _o_ann_lsh's full DuckDB replay."""
    return lsh_bucket_topk(_embs(spark, sf_dir), k=5, cache_key=("embs", sf_dir))


def q_ann_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate in recall (gated vs brute force in tests), exact in
    mechanism — oracled by _o_ann_ivf's full DuckDB replay."""
    return ivf_topk(_embs(spark, sf_dir), k=5, cache_key=("embs", sf_dir))


def _emb_queries(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric-search query batch: every 5th embedding, renamed —
    the 'fresh crawl batch' side."""
    return (
        _embs(spark, sf_dir)
        .where("vec_id % 5 = 0")
        .select(F.col("vec_id").alias("q_id"), "embedding")
    )


def _emb_base(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric-search corpus side: the remaining embeddings."""
    return _embs(spark, sf_dir).where("vec_id % 5 <> 0")


PQ_SEARCH_K = 5


def _pq_model(spark: SparkSession, sf_dir: str):
    """Memoized PQ codebooks trained on the corpus (base) side."""
    from cityfinder_spark.bcast import memo_value
    from cityfinder_spark.operators.pq import PQ_ITER, PQ_K, PQ_M, pq_fit

    def build():
        CB, _ = pq_fit(_emb_base(spark, sf_dir))
        return CB

    return memo_value(spark, ("pq-model", sf_dir, PQ_M, PQ_K, PQ_ITER), build)


def q_pq_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PQ codebook training (FAISS-compression half): M per-subspace
    Lloyd's runs in one joint pass per iteration, fixed-point integer
    sums -> hash-exact despite being iterative and distributed; the
    model explodes to (sub, code, pos, val, n_points) rows."""
    from cityfinder_spark.operators.pq import pq_train

    return pq_train(_emb_base(spark, sf_dir))


def q_pq_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Compress the corpus against the trained codebooks: M 4-bit
    codes per vector (packed big-endian into one long so the exact
    code tuple value-hashes) + the round6 squared-L2 reconstruction
    error folded over the full dimension order."""
    from cityfinder_spark.operators.pq import pq_encode

    CB = _pq_model(spark, sf_dir)
    return pq_encode(_emb_base(spark, sf_dir), CB).select(
        "vec_id",
        F.expr("aggregate(codes, 0L, (a, x) -> a * 16 + x)").alias(
            "codes_packed"
        ),
        "recon_err",
    )


def q_pq_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ADC top-k over the COMPRESSED corpus: per-query (M x K) lookup
    tables broadcast, encoded corpus streamed once with per-partition
    top-k + dimension-sized merge. Every stage (training, codes,
    tables, the 4-term ADC add chain) replays closed-form in DuckDB."""
    from cityfinder_spark.operators.pq import pq_encode, pq_search

    CB = _pq_model(spark, sf_dir)
    codes = pq_encode(_emb_base(spark, sf_dir), CB)
    return pq_search(
        _emb_queries(spark, sf_dir), codes, CB, k=PQ_SEARCH_K
    )


IVFPQ_PROBE = 2


def q_ivfpq_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVFADC end-to-end (the full FAISS IVF-PQ serving shape): the
    kmeans coarse quantizer (shared memo with kmeans_assign), corpus
    residuals PQ-encoded to 4-bit codes + a cell id, queries probing
    n_probe cells with shifted-query ADC tables. Every stage — coarse
    training, assignment, residuals, residual-PQ training, codes,
    probe choice, the ADC add chain — replays closed-form in one
    DuckDB oracle."""
    from cityfinder_spark.operators.pq import ivfpq_search

    C, CB, enc = _ivfpq_models(spark, sf_dir)
    return ivfpq_search(
        _emb_queries(spark, sf_dir), enc, C, CB,
        k=PQ_SEARCH_K, n_probe=IVFPQ_PROBE,
    )


def _ivfpq_models(spark: SparkSession, sf_dir: str):
    """Shared IVFPQ artifacts: (coarse centroids, residual codebooks,
    encoded corpus). All three memoized per session — the encoded
    corpus is the STORED artifact (codes + cell id are what a
    deployment persists; ann_search_persisted stance), so each query
    batch pays probe + scan only and the upsert key pays only its
    delta."""
    from cityfinder_spark.bcast import memo_table, memo_value
    from cityfinder_spark.operators.kmeans import kmeans_fit
    from cityfinder_spark.operators.pq import pq_encode, pq_fit, residual_vectors

    def build_c():
        C, _ = kmeans_fit(
            _embs(spark, sf_dir), k=KMEANS_K, n_iter=KMEANS_ITER
        )
        return C

    C = memo_value(
        spark, ("kmeans-model", sf_dir, KMEANS_K, KMEANS_ITER), build_c
    )
    base = _emb_base(spark, sf_dir)
    resid = residual_vectors(base, C)

    def build_cb():
        CB, _ = pq_fit(resid, vec_col="residual")
        return CB

    CB = memo_value(spark, ("ivfpq-pq", sf_dir), build_cb)
    enc = memo_table(
        spark,
        ("ivfpq-enc", sf_dir),
        lambda: pq_encode(resid, CB, vec_col="residual").join(
            resid.select("vec_id", "cluster_id"), "vec_id"
        ),
    )
    return C, CB, enc


def q_ivfpq_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVFPQ index LIFECYCLE gate: a delta batch — updates (every
    base vector with vec_id % 7 = 3, re-embedded as its negation) +
    inserts (the held-out vec_id % 5 = 0 rows) — re-encodes ONLY
    itself against the frozen coarse/PQ models and merges
    last-write-wins into the stored artifact
    (operators/pq.py::ivfpq_upsert). The oracle re-derives the WHOLE
    merged index from scratch (models + merged corpus in SQL), so a
    green row proves incremental maintenance equals full re-encoding
    — the steady-state ingestion shape for a living corpus."""
    from pyspark.sql import functions as F

    from cityfinder_spark.operators.pq import ivfpq_upsert

    C, CB, enc = _ivfpq_models(spark, sf_dir)
    embs = _embs(spark, sf_dir)
    updates = embs.where("vec_id % 5 <> 0 AND vec_id % 7 = 3").select(
        "vec_id", F.expr("transform(embedding, x -> -x)").alias("embedding")
    )
    inserts = embs.where("vec_id % 5 = 0").select("vec_id", "embedding")
    merged = ivfpq_upsert(enc, updates.unionByName(inserts), C, CB)
    # pack the 4 codes into one int (left-assoc fold, the q_pq_encode
    # convention — array columns don't survive the driver's sort+hash)
    pack = F.expr(
        "((element_at(codes, 1) * 16 + element_at(codes, 2)) * 16"
        " + element_at(codes, 3)) * 16 + element_at(codes, 4)"
    )
    return merged.select(
        "vec_id",
        "cluster_id",
        pack.alias("packed_code"),
        "recon_err",
        "from_update",
    )


def q_ivfpq_persisted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVFPQ lifecycle closed over STORAGE (round-5 key): the trained
    models + encoded corpus are written as parquet artifact tables
    (operators/pq.py::ivfpq_save — coarse/, codebooks/, corpus/), a
    fresh load (ivfpq_load) rebuilds the serving state from disk, the
    SAME delta batch as ivfpq_upsert re-encodes against the LOADED
    frozen models, and the query batch is served from the merged
    stored corpus. The oracle re-derives the entire answer from
    scratch in SQL (coarse training, residual PQ, merged-corpus
    re-encode, probe choice, ADC ranking), so a green row proves
    save -> load -> upsert -> search equals the never-persisted
    chain — the full index lifecycle from stored artifacts."""
    import tempfile

    from cityfinder_spark.bcast import memo_value
    from cityfinder_spark.operators.pq import (
        ivfpq_load,
        ivfpq_save,
        ivfpq_search,
        ivfpq_upsert,
    )

    C, CB, enc = _ivfpq_models(spark, sf_dir)

    def build() -> str:
        path = tempfile.mkdtemp(prefix="ivfpq_store_")
        ivfpq_save(path, C, CB, enc)
        return path

    path = memo_value(spark, ("ivfpq-store", sf_dir), build)
    C2, CB2, enc2 = ivfpq_load(spark, path)
    embs = _embs(spark, sf_dir)
    updates = embs.where("vec_id % 5 <> 0 AND vec_id % 7 = 3").select(
        "vec_id", F.expr("transform(embedding, x -> -x)").alias("embedding")
    )
    inserts = embs.where("vec_id % 5 = 0").select("vec_id", "embedding")
    merged = ivfpq_upsert(enc2, updates.unionByName(inserts), C2, CB2)
    return ivfpq_search(
        _emb_queries(spark, sf_dir), merged, C2, CB2,
        k=PQ_SEARCH_K, n_probe=IVFPQ_PROBE,
    )


def _o_ivfpq_persisted() -> str:
    """Search over the merged (post-upsert) index: the upsert oracle's
    merged-corpus re-encode chained into the search oracle's probe +
    ADC ranking — persistence itself is exercised only on the Spark
    side (parquet doubles round-trip exactly, pinned in pytest)."""
    from cityfinder_spark.operators.pq import PQ_ITER, PQ_K, PQ_M

    dsub = 64 // PQ_M
    it = KMEANS_ITER
    dot = (
        "list_sum(list_transform(generate_series(1, 64),"
        " i -> m.v[i] * c.cv[i]))"
    )
    td = (
        f"list_sum(list_transform(generate_series(1, {dsub}),"
        " i -> (s.svq[i] - c.cv[i]) * (s.svq[i] - c.cv[i])))"
    )
    adc = "0 + t0.td + t1.td + t2.td + t3.td"
    joins = "\n      ".join(
        f"JOIN td t{m} ON "
        + ("t0.q_id = t0.q_id AND " if m == 0 else f"t{m}.q_id = t0.q_id AND ")
        + f"t{m}.cluster_id = e.cluster_id"
        f" AND t{m}.sub_id = {m} AND t{m}.code_id = e.c{m}"
        for m in range(PQ_M)
    )
    codes_cols = ", ".join(f"codes[{m + 1}] AS c{m}" for m in range(PQ_M))
    return f"""
    WITH {_DUCK_EMB_CTE},
    {_o_kmeans_cte(KMEANS_K, it)},
    cnF AS (
      SELECT cluster_id, cv,
             sqrt(list_sum(list_transform(cv, x -> x * x))) AS cnrm
      FROM c{it}),
    aF AS (
      SELECT m.vec_id, c.cluster_id, row_number() OVER (
        PARTITION BY m.vec_id
        ORDER BY {sc.round6_sql(f"{dot} / (m.nrm * c.cnrm)")} DESC,
                 c.cluster_id ASC) AS pr
      FROM n m CROSS JOIN cnF c),
    asg AS (SELECT vec_id, cluster_id FROM aF WHERE pr = 1),
    rb AS (
      SELECT m.vec_id,
             list_transform(generate_series(1, 64),
               i -> m.v[i] - c.cv[i]) AS v
      FROM n m JOIN asg a ON a.vec_id = m.vec_id
      JOIN cnF c ON c.cluster_id = a.cluster_id
      WHERE m.vec_id % 5 <> 0),
    {_o_pq_cte(PQ_M, PQ_K, PQ_ITER, src_sql="SELECT vec_id, v FROM rb")},
    mc AS (
      SELECT vec_id,
             CASE WHEN vec_id % 5 <> 0 AND vec_id % 7 = 3
                  THEN list_transform(v, x -> -x) ELSE v END AS v
      FROM e),
    mn AS (SELECT vec_id, v,
                  sqrt(list_sum(list_transform(v, x -> x * x))) AS nrm
           FROM mc),
    maF AS (
      SELECT m.vec_id, c.cluster_id, row_number() OVER (
        PARTITION BY m.vec_id
        ORDER BY {sc.round6_sql(f"{dot} / (m.nrm * c.cnrm)")} DESC,
                 c.cluster_id ASC) AS pr
      FROM mn m CROSS JOIN cnF c),
    masg AS (SELECT vec_id, cluster_id FROM maF WHERE pr = 1),
    mrb AS (
      SELECT m.vec_id, a.cluster_id,
             list_transform(generate_series(1, 64),
               i -> m.v[i] - c.cv[i]) AS rv
      FROM mn m JOIN masg a ON a.vec_id = m.vec_id
      JOIN cnF c ON c.cluster_id = a.cluster_id),
    msv AS (
      SELECT vec_id, subs.m AS sub_id,
             rv[subs.m * {dsub} + 1 : subs.m * {dsub} + {dsub}] AS svv
      FROM mrb CROSS JOIN subs),
    mpa AS (
      SELECT s.vec_id, s.sub_id, c.code_id, row_number() OVER (
        PARTITION BY s.vec_id, s.sub_id
        ORDER BY {sc.round6_sql(
            f"list_sum(list_transform(generate_series(1, {dsub}),"
            " i -> (s.svv[i] - c.cv[i]) * (s.svv[i] - c.cv[i])))"
        )} ASC, c.code_id ASC) AS pr
      FROM msv s JOIN p{PQ_ITER} c USING (sub_id)),
    menc AS (
      SELECT vec_id, list(code_id ORDER BY sub_id) AS codes
      FROM mpa WHERE pr = 1 GROUP BY vec_id),
    qn AS (SELECT vec_id AS q_id, v, nrm FROM n WHERE vec_id % 5 = 0),
    qpr AS (
      SELECT m.q_id, c.cluster_id, c.cv, row_number() OVER (
        PARTITION BY m.q_id
        ORDER BY {sc.round6_sql(
            "list_sum(list_transform(generate_series(1, 64),"
            " i -> m.v[i] * c.cv[i])) / (m.nrm * c.cnrm)"
        )} DESC, c.cluster_id ASC) AS pr
      FROM qn m CROSS JOIN cnF c),
    shift AS (
      SELECT q.q_id, p.cluster_id,
             list_transform(generate_series(1, 64),
               i -> q.v[i] - p.cv[i]) AS sv
      FROM qn q JOIN qpr p ON p.q_id = q.q_id AND p.pr <= {IVFPQ_PROBE}),
    ssv AS (
      SELECT q_id, cluster_id, subs.m AS sub_id,
             sv[subs.m * {dsub} + 1 : subs.m * {dsub} + {dsub}] AS svq
      FROM shift CROSS JOIN subs),
    td AS (SELECT s.q_id, s.cluster_id, s.sub_id, c.code_id, {td} AS td
           FROM ssv s JOIN p{PQ_ITER} c USING (sub_id)),
    encc AS (SELECT e2.vec_id, b.cluster_id, {codes_cols}
             FROM menc e2 JOIN mrb b USING (vec_id)),
    adc AS (
      SELECT t0.q_id, e.vec_id AS neighbor_id,
             {sc.round6_sql(adc)} AS adc_dist
      FROM encc e
      {joins}),
    rk AS (SELECT q_id, neighbor_id, adc_dist, row_number() OVER (
             PARTITION BY q_id
             ORDER BY adc_dist ASC, neighbor_id ASC) AS rank
           FROM adc)
    SELECT q_id, neighbor_id, adc_dist, cast(rank AS INT) AS rank
    FROM rk WHERE rank <= {PQ_SEARCH_K}
    """


def _o_ivfpq_upsert() -> str:
    from cityfinder_spark.operators.pq import PQ_ITER, PQ_K, PQ_M

    dsub = 64 // PQ_M
    it = KMEANS_ITER
    dot = (
        "list_sum(list_transform(generate_series(1, 64),"
        " i -> m.v[i] * c.cv[i]))"
    )
    d2 = (
        f"list_sum(list_transform(generate_series(1, {dsub}),"
        " i -> (s.svv[i] - c.cv[i]) * (s.svv[i] - c.cv[i])))"
    )
    recon = (
        "list_sum(list_transform(generate_series(1, 64),"
        " i -> (b.rv[i] - e2.r[i]) * (b.rv[i] - e2.r[i])))"
    )
    return f"""
    WITH {_DUCK_EMB_CTE},
    {_o_kmeans_cte(KMEANS_K, it)},
    cnF AS (
      SELECT cluster_id, cv,
             sqrt(list_sum(list_transform(cv, x -> x * x))) AS cnrm
      FROM c{it}),
    aF AS (
      SELECT m.vec_id, c.cluster_id, row_number() OVER (
        PARTITION BY m.vec_id
        ORDER BY {sc.round6_sql(f"{dot} / (m.nrm * c.cnrm)")} DESC,
                 c.cluster_id ASC) AS pr
      FROM n m CROSS JOIN cnF c),
    asg AS (SELECT vec_id, cluster_id FROM aF WHERE pr = 1),
    rb AS (
      SELECT m.vec_id,
             list_transform(generate_series(1, 64),
               i -> m.v[i] - c.cv[i]) AS v
      FROM n m JOIN asg a ON a.vec_id = m.vec_id
      JOIN cnF c ON c.cluster_id = a.cluster_id
      WHERE m.vec_id % 5 <> 0),
    {_o_pq_cte(PQ_M, PQ_K, PQ_ITER, src_sql="SELECT vec_id, v FROM rb")},
    mc AS (
      SELECT vec_id,
             CASE WHEN vec_id % 5 <> 0 AND vec_id % 7 = 3
                  THEN list_transform(v, x -> -x) ELSE v END AS v,
             (vec_id % 5 = 0 OR vec_id % 7 = 3) AS from_update
      FROM e),
    mn AS (SELECT vec_id, v, from_update,
                  sqrt(list_sum(list_transform(v, x -> x * x))) AS nrm
           FROM mc),
    maF AS (
      SELECT m.vec_id, c.cluster_id, row_number() OVER (
        PARTITION BY m.vec_id
        ORDER BY {sc.round6_sql(f"{dot} / (m.nrm * c.cnrm)")} DESC,
                 c.cluster_id ASC) AS pr
      FROM mn m CROSS JOIN cnF c),
    masg AS (SELECT vec_id, cluster_id FROM maF WHERE pr = 1),
    mrb AS (
      SELECT m.vec_id, a.cluster_id, m.from_update,
             list_transform(generate_series(1, 64),
               i -> m.v[i] - c.cv[i]) AS rv
      FROM mn m JOIN masg a ON a.vec_id = m.vec_id
      JOIN cnF c ON c.cluster_id = a.cluster_id),
    msv AS (
      SELECT vec_id, subs.m AS sub_id,
             rv[subs.m * {dsub} + 1 : subs.m * {dsub} + {dsub}] AS svv
      FROM mrb CROSS JOIN subs),
    mpa AS (
      SELECT s.vec_id, s.sub_id, c.code_id, c.cv, row_number() OVER (
        PARTITION BY s.vec_id, s.sub_id
        ORDER BY {sc.round6_sql(d2)} ASC, c.code_id ASC) AS pr
      FROM msv s JOIN p{PQ_ITER} c USING (sub_id)),
    menc AS (
      SELECT vec_id, list(code_id ORDER BY sub_id) AS codes,
             flatten(list(cv ORDER BY sub_id)) AS r
      FROM mpa WHERE pr = 1 GROUP BY vec_id)
    SELECT b.vec_id, b.cluster_id,
           ((e2.codes[1] * 16 + e2.codes[2]) * 16 + e2.codes[3]) * 16
             + e2.codes[4] AS packed_code,
           {sc.round6_sql(recon)} AS recon_err, b.from_update
    FROM mrb b JOIN menc e2 USING (vec_id)
    """


def _o_ivfpq_search() -> str:
    from cityfinder_spark.operators.pq import PQ_ITER, PQ_K, PQ_M

    dsub = 64 // PQ_M
    it = KMEANS_ITER
    dot = (
        "list_sum(list_transform(generate_series(1, 64),"
        " i -> m.v[i] * c.cv[i]))"
    )
    td = (
        f"list_sum(list_transform(generate_series(1, {dsub}),"
        " i -> (s.svq[i] - c.cv[i]) * (s.svq[i] - c.cv[i])))"
    )
    adc = "0 + t0.td + t1.td + t2.td + t3.td"
    joins = "\n      ".join(
        f"JOIN td t{m} ON "
        + ("t0.q_id = t0.q_id AND " if m == 0 else f"t{m}.q_id = t0.q_id AND ")
        + f"t{m}.cluster_id = e.cluster_id"
        f" AND t{m}.sub_id = {m} AND t{m}.code_id = e.c{m}"
        for m in range(PQ_M)
    )
    codes_cols = ", ".join(f"codes[{m + 1}] AS c{m}" for m in range(PQ_M))
    return f"""
    WITH {_DUCK_EMB_CTE},
    {_o_kmeans_cte(KMEANS_K, it)},
    cnF AS (
      SELECT cluster_id, cv,
             sqrt(list_sum(list_transform(cv, x -> x * x))) AS cnrm
      FROM c{it}),
    aF AS (
      SELECT m.vec_id, c.cluster_id, row_number() OVER (
        PARTITION BY m.vec_id
        ORDER BY {sc.round6_sql(f"{dot} / (m.nrm * c.cnrm)")} DESC,
                 c.cluster_id ASC) AS pr
      FROM n m CROSS JOIN cnF c),
    asg AS (SELECT vec_id, cluster_id FROM aF WHERE pr = 1),
    rb AS (
      SELECT m.vec_id,
             list_transform(generate_series(1, 64),
               i -> m.v[i] - c.cv[i]) AS v
      FROM n m JOIN asg a ON a.vec_id = m.vec_id
      JOIN cnF c ON c.cluster_id = a.cluster_id
      WHERE m.vec_id % 5 <> 0),
    {_o_pq_cte(PQ_M, PQ_K, PQ_ITER, src_sql="SELECT vec_id, v FROM rb")},
    {_o_pq_enc_cte(PQ_ITER)},
    qn AS (SELECT vec_id AS q_id, v, nrm FROM n WHERE vec_id % 5 = 0),
    qpr AS (
      SELECT m.q_id, c.cluster_id, c.cv, row_number() OVER (
        PARTITION BY m.q_id
        ORDER BY {sc.round6_sql(
            "list_sum(list_transform(generate_series(1, 64),"
            " i -> m.v[i] * c.cv[i])) / (m.nrm * c.cnrm)"
        )} DESC, c.cluster_id ASC) AS pr
      FROM qn m CROSS JOIN cnF c),
    shift AS (
      SELECT q.q_id, p.cluster_id,
             list_transform(generate_series(1, 64),
               i -> q.v[i] - p.cv[i]) AS sv
      FROM qn q JOIN qpr p ON p.q_id = q.q_id AND p.pr <= {IVFPQ_PROBE}),
    ssv AS (
      SELECT q_id, cluster_id, subs.m AS sub_id,
             sv[subs.m * {dsub} + 1 : subs.m * {dsub} + {dsub}] AS svq
      FROM shift CROSS JOIN subs),
    td AS (SELECT s.q_id, s.cluster_id, s.sub_id, c.code_id, {td} AS td
           FROM ssv s JOIN p{PQ_ITER} c USING (sub_id)),
    encc AS (SELECT e.vec_id, a.cluster_id, {codes_cols}
             FROM enc e JOIN asg a USING (vec_id)),
    adc AS (
      SELECT t0.q_id, e.vec_id AS neighbor_id,
             {sc.round6_sql(adc)} AS adc_dist
      FROM encc e
      {joins}),
    rk AS (SELECT q_id, neighbor_id, adc_dist, row_number() OVER (
             PARTITION BY q_id
             ORDER BY adc_dist ASC, neighbor_id ASC) AS rank
           FROM adc)
    SELECT q_id, neighbor_id, adc_dist, cast(rank AS INT) AS rank
    FROM rk WHERE rank <= {PQ_SEARCH_K}
    """


def q_cosine_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric exact search: top-5 corpus neighbors per query row
    (dedup-a-new-batch-against-the-corpus, the production ingestion
    shape; self-join ops cover within-corpus dedup)."""
    return cosine_search(
        _emb_queries(spark, sf_dir), _emb_base(spark, sf_dir), k=5,
        cache_key=("embbase", sf_dir),
    )


def q_ann_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric LSH ANN search, exact-mechanism oracled like ann_lsh
    (same md5 sign family; recall gated vs cosine_search in tests)."""
    return lsh_search(
        _emb_queries(spark, sf_dir), _emb_base(spark, sf_dir), k=5,
        cache_key=("embbase", sf_dir),
    )


def q_ann_search_persisted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Steady-state ingestion gate: the corpus LSH signature table is
    WRITTEN to parquet once (lsh_signature_table), read back, and the
    search runs against the persisted signatures (base_sigs=...) — no
    corpus-side signature pass. Same oracle as ann_search: persisted
    and recomputed signatures must be identical or the rows go red."""
    from cityfinder_spark.bcast import memo_value
    from cityfinder_spark.operators.similarity import lsh_signature_table

    def build() -> str:
        import hashlib
        import tempfile

        tag = hashlib.sha1(sf_dir.encode()).hexdigest()[:12]
        path = os.path.join(tempfile.gettempdir(), f"cf_lsh_sigs_{tag}")
        lsh_signature_table(_emb_base(spark, sf_dir)).write.mode(
            "overwrite"
        ).parquet(path)
        return path

    path = memo_value(spark, ("lsh-sigs", sf_dir), build)
    return lsh_search(
        _emb_queries(spark, sf_dir), _emb_base(spark, sf_dir), k=5,
        base_sigs=spark.read.parquet(path),
    )


def q_ann_search_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric IVF ANN search (the coarse-quantizer shape for
    bounded query sets against the corpus), exact-mechanism oracled
    like ann_ivf: corpus inverted lists = top-1 centroid assignment,
    probes = n_probe nearest lists by rounded centroid cosine."""
    return ivf_search(
        _emb_queries(spark, sf_dir), _emb_base(spark, sf_dir), k=5,
        cache_key=("embbase", sf_dir),
    )


KMEANS_K = 8
KMEANS_ITER = 2


def q_ann_search_trained(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Clustering -> search, composed end-to-end: the IVF coarse
    quantizer is the kmeans model TRAINED ON THE DATA (hash-exact
    fixed-point Lloyd's, shared memo with kmeans_assign), corpus rows
    take their kmeans cluster as the inverted-list label, and
    ivf_search probes those learned lists. This is the production ANN
    build: train the quantizer once, assign the corpus once, serve
    query batches against the lists — and every stage of it is
    replayed closed-form in the DuckDB oracle (kmeans CTE chain ->
    assignment -> member-mean list centroids -> probe -> refine)."""
    from cityfinder_spark.bcast import memo_value
    from cityfinder_spark.operators.kmeans import kmeans_assign, kmeans_fit
    from cityfinder_spark.operators.similarity import ivf_search

    def build():
        C, _ = kmeans_fit(
            _embs(spark, sf_dir), k=KMEANS_K, n_iter=KMEANS_ITER
        )
        return C

    C = memo_value(spark, ("kmeans-model", sf_dir, KMEANS_K, KMEANS_ITER), build)
    base = _emb_base(spark, sf_dir)
    clusters = kmeans_assign(base.select("vec_id", "embedding"), C)
    labeled = (
        base.drop("label")
        .join(clusters, "vec_id")
        .withColumnRenamed("cluster_id", "label")
    )
    return ivf_search(
        _emb_queries(spark, sf_dir), labeled, k=5,
        cache_key=("embbase-km", sf_dir, KMEANS_K, KMEANS_ITER),
    )


def q_kmeans_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed Lloyd's k-means over the embeddings (SURVEY §2.7):
    an ITERATIVE algorithm driver-gated hash-exact — possible because
    each update accumulates fixed-point integer sums (order-independent,
    so the distributed combine is replayable; operators/kmeans.py).
    Output = the exploded model: (cluster_id, pos, val, n_points)."""
    from cityfinder_spark.operators.kmeans import kmeans_train

    return kmeans_train(_embs(spark, sf_dir), k=KMEANS_K, n_iter=KMEANS_ITER)


def q_kmeans_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Predict surface: every embedding assigned to its trained
    cluster (train once per context via memo, assign per batch — the
    steady-state ingestion shape, zero shuffle)."""
    from cityfinder_spark.bcast import memo_value
    from cityfinder_spark.operators.kmeans import kmeans_assign, kmeans_fit

    def build():
        C, _ = kmeans_fit(
            _embs(spark, sf_dir), k=KMEANS_K, n_iter=KMEANS_ITER
        )
        return C

    C = memo_value(spark, ("kmeans-model", sf_dir, KMEANS_K, KMEANS_ITER), build)
    return kmeans_assign(_embs(spark, sf_dir), C)


def q_semdedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup (cluster-pruned semantic dedup): pairs are searched
    only WITHIN each kmeans cluster — O(sum c_i^2) instead of
    cosine_dedup's O(N^2), one exchange total. Shares the memoized
    kmeans model with kmeans_assign/ann_search_trained; the oracle
    replays train -> assign -> within-cluster pair scan closed-form."""
    from cityfinder_spark.bcast import memo_value
    from cityfinder_spark.operators.kmeans import kmeans_fit
    from cityfinder_spark.operators.semdedup import semdedup

    def build():
        C, _ = kmeans_fit(
            _embs(spark, sf_dir), k=KMEANS_K, n_iter=KMEANS_ITER
        )
        return C

    C = memo_value(spark, ("kmeans-model", sf_dir, KMEANS_K, KMEANS_ITER), build)
    return semdedup(_embs(spark, sf_dir), C, threshold=SEMDEDUP_T)


def q_image_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end multimodal flagship: deterministic image+caption
    table -> nearest-city broadcast join with bytes riding along (no
    shuffle) -> per-row payload invariant verdicts (PSNR>=40 lossy /
    byte-exact captions / phash). Oracled exactly: lossy PSNR is
    closed-form (pixel quantization error is exactly byte & 3), so the
    DuckDB splitmix64 replay recomputes every verdict + psnr_db value
    independently; pytest additionally asserts all-ok."""
    from cityfinder_spark.operators.images_ops import check_payload_invariants

    n = max(200, spark.read.parquet(f"{sf_dir}/orders.parquet").count() // 10)
    imgs = _media_table(spark, "images", n).withColumnRenamed("image_id", "pt_id")
    cities = _cities(spark, sf_dir)
    joined = nearest_city_join(
        imgs, cities, cache_key=("cities", sf_dir)
    ).withColumnRenamed("pt_id", "image_id")
    verdicts = check_payload_invariants(joined.drop("name").withColumnRenamed("city_id", "_cid"))
    # psnr_db's terminal log10 is libm (ulp-divergent across engines):
    # floor-round it like every other computed double in the contract
    return verdicts.select(
        "image_id",
        round_digits_col(F.col("psnr_db"), sc.ROUND_DIGITS).alias("psnr_db"),
        "psnr_ok",
        "caption_ok",
        "phash_ok",
    )


def q_image_decode_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decode every payload -> shape/stats/phash. Oracled exactly: the
    fake codec's pixel stream is splitmix64(2*id + j), replayed in
    DuckDB with 128-bit modular arithmetic; mean_pixel is an exact
    integer sum / count in both engines (no summation-order risk), and
    phash64 is integer-exact by construction (block-vs-global mean
    comparison via cross-multiplied byte sums, codecs/fakeimage.py),
    so the full 64-bit perceptual hash is value-hashed too."""
    from cityfinder_spark.operators.images_ops import decode_stats

    n = max(200, spark.read.parquet(f"{sf_dir}/orders.parquet").count() // 20)
    return decode_stats(_media_table(spark, "images", n)).select(
        "image_id", "fmt", "w", "h", "mean_pixel", "phash"
    )


def q_phash_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Image near-dup detection over the input-hint phash column:
    the base image table unioned with planted near-duplicate variants
    (perturb_variants: XOR 68 into the first 96 decoded bytes of every
    5th image, re-encoded under a 'dup' id), then decode -> integer-
    exact 64-bit phash -> banded hamming self-join at max_dist=3. The
    banding guarantee is exact (pigeonhole over 4x16-bit chunks), so
    the oracle is a closed-form DuckDB replay: regenerate both pixel
    populations from row ids, recompute every phash in SQL, all-pairs
    popcount. Planted pairs span hamming 0..~6, so the key exercises
    hits AND threshold rejections."""
    from cityfinder_spark.operators.images_ops import (
        perturb_variants,
        phash_near_dup,
    )

    n = max(200, spark.read.parquet(f"{sf_dir}/orders.parquet").count() // 20)
    imgs = _media_table(spark, "images", n)
    inp = imgs.select("image_id", "bytes").unionByName(perturb_variants(imgs))
    return phash_near_dup(inp, max_dist=3, cache_key=("imgs+dups", n))


def q_phash_dedup_resolve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The image-dedup story end-to-end: decode -> phash64 -> banded
    hamming pairs (q_phash_near_dup's population) -> connected
    components -> canonical assignment per IMAGE (keep-list =
    ~is_dup). String image ids map to long CC nodes by the structured
    id itself (2*i for base, 2*i+1 for planted dups) — deterministic,
    so the DuckDB oracle replays the whole chain closed-form including
    a recursive-CTE transitive closure. Same scale shape as
    dedup_resolve: only (node,label) longs shuffle in the CC loop."""
    from cityfinder_spark.operators.components import connected_components
    from cityfinder_spark.operators.images_ops import (
        perturb_variants,
        phash_near_dup,
    )

    n = max(200, spark.read.parquet(f"{sf_dir}/orders.parquet").count() // 20)
    imgs = _media_table(spark, "images", n)
    inp = imgs.select("image_id", "bytes").unionByName(perturb_variants(imgs))
    pairs = phash_near_dup(inp, max_dist=3, cache_key=("imgs+dups", n))

    def node(c: str) -> F.Column:
        num = F.substring(F.col(c), 4, 12).cast("long")
        return F.when(
            F.col(c).startswith("dup"), num * 2 + 1
        ).otherwise(num * 2)

    labels = connected_components(
        pairs.select(node("img_a").alias("src"), node("img_b").alias("dst")),
        src="src",
        dst="dst",
    )
    # variant ids are a pure function of the base ids ('dup%012d' for
    # every 5th image — perturb_variants' default), so the id spine
    # derives as codegen instead of re-running the Arrow variant pass
    num = F.substring(F.col("image_id"), 4, 12).cast("long")
    dup_ids = (
        imgs.where(num % 5 == 0)
        .select(F.format_string("dup%012d", num).alias("image_id"))
    )
    ids = (
        imgs.select("image_id")
        .unionByName(dup_ids)
        .withColumn("node", node("image_id"))
    )
    canon = F.coalesce(F.col("label"), F.col("node"))
    canon_id = F.when(
        canon % 2 == 1,
        F.format_string("dup%012d", (canon / 2).cast("long")),
    ).otherwise(F.format_string("img%012d", (canon / 2).cast("long")))
    return (
        ids.join(labels.withColumnRenamed("node", "node_"), ids["node"] == F.col("node_"), "left")
        .select(
            "image_id",
            canon_id.alias("canonical_id"),
            (canon != F.col("node")).alias("is_dup"),
        )
    )


def q_geo_image_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Geo-blocked perceptual near-dup (the north-star cross: image
    payload x geospatial blocking): every image gets a deterministic
    geotag (closed-form from its id, planted 'dup' re-uploads jittered
    a few hundred meters), and pairs must agree BOTH on phash hamming
    <= 3 AND on location (<= 1 km, ring-1 blocked on the level-12
    grid). Shares the memoized phash signature table with
    phash_near_dup; only (id, phash, lat, lon) rows shuffle."""
    from cityfinder_spark.bcast import memo_table
    from cityfinder_spark.operators.images_ops import (
        decode_stats,
        geo_phash_near_dup,
        perturb_variants,
    )

    n = max(200, spark.read.parquet(f"{sf_dir}/orders.parquet").count() // 20)
    imgs = _media_table(spark, "images", n)
    inp = imgs.select("image_id", "bytes").unionByName(perturb_variants(imgs))
    sig = memo_table(
        spark,
        ("phash-sig", "imgs+dups", n),
        lambda: decode_stats(inp).select("image_id", "phash"),
    )
    i = F.substring(F.col("image_id"), 4, 12).cast("long")
    isd = F.col("image_id").startswith("dup")
    jlat = F.when(isd, (F.pmod(i, F.lit(7)) - 3) * 0.002).otherwise(F.lit(0.0))
    jlon = F.when(isd, (F.pmod(i, F.lit(11)) - 5) * 0.002).otherwise(F.lit(0.0))
    geo = sig.select(
        "image_id",
        "phash",
        (F.pmod(i * 40503, F.lit(16900)) / F.lit(100.0).cast("double") - 84.495 + jlat).alias("lat"),
        (F.pmod(i * 65413, F.lit(35900)) / F.lit(100.0).cast("double") - 179.495 + jlon).alias("lon"),
    )
    return geo_phash_near_dup(geo, max_dist=3, max_km=1.0)


def _o_geo_image_dedup() -> str:
    """Closed-form replay: regenerate both pixel populations, phash in
    SQL (the _o_phash_near_dup machinery), geotags from the id, then
    brute-force pairs under the SAME blocking predicate (level-12
    Chebyshev <= 1 with lon wrap — exactly what the engine's ring-1
    explode admits) + popcount + shared rounded haversine."""
    from cityfinder_spark.operators.images_ops import GEO_DEDUP_LEVEL

    nlat = 1 << GEO_DEDUP_LEVEL
    nlon = 2 << GEO_DEDUP_LEVEL
    ia = (
        f"least(greatest(cast(floor(((lat)+90.0)/180.0*{nlat}) as bigint),"
        f" 0), {nlat - 1})"
    )
    ja = (
        f"(((cast(floor(((lon)+180.0)/360.0*{nlon}) as bigint) % {nlon})"
        f" + {nlon}) % {nlon})"
    )
    hav = sc.haversine_rounded_sql("a.lat", "a.lon", "b.lat", "b.lon")
    return f"""
    WITH {_duck_images_cte(20)},
    {_duck_mix64("px")},
    base AS (SELECT {_DUCK_IMG_ID} AS gid, i, w, h, j,
                    {_DUCK_IMG_BYTE} AS b
             FROM mx),
    allb AS (
      SELECT gid, w, h, j, b FROM base
      UNION ALL
      SELECT 'dup' || lpad(cast(i AS VARCHAR), 12, '0') AS gid, w, h, j,
             CASE WHEN j < 96 THEN xor(b, 68) ELSE b END AS b
      FROM base WHERE i % 5 = 0),
    blks AS (SELECT gid, {_DUCK_IMG_BLK} AS blk,
                    sum(b) AS s_blk, count(*) AS c_blk
             FROM allb GROUP BY gid, {_DUCK_IMG_BLK}),
    {_DUCK_PHASH_FROM_BLKS},
    ids AS (SELECT gid, phash, cast(substr(gid, 4, 12) AS BIGINT) AS i,
                   gid LIKE 'dup%' AS isd
            FROM ph),
    pts AS (SELECT gid, phash,
              ((((i * 40503) % 16900) / cast(100 as double)) - 84.495
               + (CASE WHEN isd THEN ((i % 7) - 3) * 0.002
                       ELSE cast(0 as double) END)) AS lat,
              ((((i * 65413) % 35900) / cast(100 as double)) - 179.495
               + (CASE WHEN isd THEN ((i % 11) - 5) * 0.002
                       ELSE cast(0 as double) END)) AS lon
            FROM ids),
    cells AS (SELECT gid, phash, lat, lon, {ia} AS ia, {ja} AS ja FROM pts),
    cand AS (
      SELECT a.gid AS img_a, b.gid AS img_b,
             cast(bit_count(xor(a.phash, b.phash)) AS INT) AS hamming,
             {hav} AS dist_km
      FROM cells a JOIN cells b
        ON a.gid < b.gid
       AND abs(a.ia - b.ia) <= 1
       AND (abs(a.ja - b.ja) <= 1 OR abs(a.ja - b.ja) = {nlon - 1})
      WHERE bit_count(xor(a.phash, b.phash)) <= 3)
    SELECT img_a, img_b, hamming, dist_km FROM cand WHERE dist_km <= 1.0
    """


def _o_phash_dedup_resolve() -> str:
    node = (
        "CASE WHEN gid LIKE 'dup%' THEN 2 * cast(substr(gid, 4) AS BIGINT) + 1"
        " ELSE 2 * cast(substr(gid, 4) AS BIGINT) END"
    )
    return f"""
    WITH RECURSIVE {_duck_images_cte(20)},
    {_duck_mix64("px")},
    base AS (SELECT {_DUCK_IMG_ID} AS gid, i, w, h, j,
                    {_DUCK_IMG_BYTE} AS b
             FROM mx),
    allb AS (
      SELECT gid, w, h, j, b FROM base
      UNION ALL
      SELECT 'dup' || lpad(cast(i AS VARCHAR), 12, '0') AS gid, w, h, j,
             CASE WHEN j < 96 THEN xor(b, 68) ELSE b END AS b
      FROM base WHERE i % 5 = 0),
    blks AS (SELECT gid, {_DUCK_IMG_BLK} AS blk,
                    sum(b) AS s_blk, count(*) AS c_blk
             FROM allb GROUP BY gid, {_DUCK_IMG_BLK}),
    {_DUCK_PHASH_FROM_BLKS},
    pop AS (SELECT gid, {node} AS node FROM ph),
    pr AS (
      SELECT a.node AS u, b.node AS v
      FROM pop a JOIN ph pa ON a.gid = pa.gid
           JOIN ph pb ON bit_count(xor(pa.phash, pb.phash)) <= 3
           JOIN pop b ON b.gid = pb.gid
      WHERE a.gid < b.gid),
    ed AS (SELECT u, v FROM pr UNION SELECT v, u FROM pr),
    reach(n, m) AS (
      SELECT u, u FROM ed
      UNION
      SELECT r.n, e.v FROM reach r JOIN ed e ON e.u = r.m
    ),
    canon AS (SELECT n AS node, MIN(m) AS label FROM reach GROUP BY 1),
    lab AS (SELECT pop.gid, pop.node,
                   COALESCE(canon.label, pop.node) AS c
            FROM pop LEFT JOIN canon USING (node))
    SELECT gid AS image_id,
           CASE WHEN c % 2 = 1
                THEN 'dup' || lpad(cast(c // 2 AS VARCHAR), 12, '0')
                ELSE 'img' || lpad(cast(c // 2 AS VARCHAR), 12, '0')
           END AS canonical_id,
           (c <> node) AS is_dup
    FROM lab
    """


def q_multimodal_curation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The north star's own composite: curate an image+caption corpus.
    Base images (real captions) + planted perturbed variants (short
    'dup variant N' captions) -> decode -> phash64 -> banded hamming
    pairs -> CC canonical resolution + caption length gate -> one
    verdict row per image (keep = not near-dup AND caption ok). Both
    gates fire: variants lose on BOTH axes, some base images lose on
    the caption floor. Everything replays closed-form in DuckDB —
    pixels via splitmix64, captions via string concat of the id-derived
    dims, clusters via a recursive-CTE closure."""
    from cityfinder_spark.operators.images_ops import perturb_variants
    from cityfinder_spark.operators.multimodal import curate_image_captions

    n = max(200, spark.read.parquet(f"{sf_dir}/orders.parquet").count() // 20)
    imgs = _media_table(spark, "images", n)
    var = perturb_variants(imgs).withColumn(
        "caption",
        F.concat(
            F.lit("dup variant "),
            F.substring("image_id", 4, 12).cast("long").cast("string"),
        ),
    )
    inp = imgs.select("image_id", "bytes", "caption").unionByName(var)
    return curate_image_captions(inp, max_dist=3, min_caption_chars=40)


def _o_multimodal_curation() -> str:
    node = (
        "CASE WHEN gid LIKE 'dup%' THEN 2 * cast(substr(gid, 4) AS BIGINT) + 1"
        " ELSE 2 * cast(substr(gid, 4) AS BIGINT) END"
    )
    caption = (
        "CASE WHEN meta.gid LIKE 'dup%'"
        " THEN 'dup variant '"
        " || cast(cast(substr(meta.gid, 4) AS BIGINT) as string)"
        " ELSE 'caption for image ' || cast(meta.i as string) || ': a '"
        " || cast(meta.w as string) || 'x' || cast(meta.h as string)"
        " || ' ' || meta.fmt || ' scene' END"
    )
    return f"""
    WITH RECURSIVE {_duck_images_cte(20)},
    {_duck_mix64("px")},
    base AS (SELECT {_DUCK_IMG_ID} AS gid, i, w, h, fmt, j,
                    {_DUCK_IMG_BYTE} AS b
             FROM mx),
    allb AS (
      SELECT gid, i, w, h, fmt, j, b FROM base
      UNION ALL
      SELECT 'dup' || lpad(cast(i AS VARCHAR), 12, '0') AS gid, i, w, h,
             fmt, j,
             CASE WHEN j < 96 THEN xor(b, 68) ELSE b END AS b
      FROM base WHERE i % 5 = 0),
    blks AS (SELECT gid, {_DUCK_IMG_BLK} AS blk,
                    sum(b) AS s_blk, count(*) AS c_blk
             FROM allb GROUP BY gid, {_DUCK_IMG_BLK}),
    {_DUCK_PHASH_FROM_BLKS},
    meta AS (SELECT gid, any_value(i) AS i, any_value(w) AS w,
                    any_value(h) AS h, any_value(fmt) AS fmt
             FROM allb GROUP BY gid),
    pop AS (SELECT gid, {node} AS node FROM ph),
    pr AS (
      SELECT a.node AS u, b.node AS v
      FROM pop a JOIN ph pa ON a.gid = pa.gid
           JOIN ph pb ON bit_count(xor(pa.phash, pb.phash)) <= 3
           JOIN pop b ON b.gid = pb.gid
      WHERE a.gid < b.gid),
    ed AS (SELECT u, v FROM pr UNION SELECT v, u FROM pr),
    reach(n, m) AS (
      SELECT u, u FROM ed
      UNION
      SELECT r.n, e.v FROM reach r JOIN ed e ON e.u = r.m
    ),
    canon AS (SELECT n AS node, MIN(m) AS label FROM reach GROUP BY 1),
    verd AS (
      SELECT meta.gid AS gid, meta.fmt AS fmt,
             (COALESCE(canon.label, pop.node) <> pop.node) AS is_dup,
             (length({caption}) >= 40) AS caption_ok
      FROM meta JOIN pop ON meta.gid = pop.gid
      LEFT JOIN canon ON canon.node = pop.node)
    SELECT gid AS image_id, fmt, is_dup, caption_ok,
           ((NOT is_dup) AND caption_ok) AS keep
    FROM verd
    """


def q_image_sharpness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Laplacian blur gate per image: integer-exact 4-neighbor
    Laplacian energy over channel-0 interior pixels, the pre-GPU
    quality screen. Zero shuffle (one mapInPandas over the payload
    scan); the DuckDB oracle regenerates every pixel closed-form and
    recomputes the convolution via j-offset self-joins, so energy,
    6-digit mean, and the integer-cross-multiplied verdict all
    value-hash."""
    from cityfinder_spark.operators.images_ops import sharpness_stats

    n = max(200, spark.read.parquet(f"{sf_dir}/orders.parquet").count() // 20)
    return sharpness_stats(_media_table(spark, "images", n))


def q_image_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pixel-diversity (blank/flat-image) gate over the base payloads
    PLUS planted low-diversity variants (every 7th image masked to 4
    byte values): byte-histogram summary + the integer Renyi-2
    collision-mass verdict, no logarithms anywhere. The DuckDB oracle
    replays every histogram from the splitmix64 pixel stream."""
    from cityfinder_spark.operators.images_ops import (
        degrade_variants,
        diversity_stats,
    )

    n = max(200, spark.read.parquet(f"{sf_dir}/orders.parquet").count() // 20)
    base = _media_table(spark, "images", n)
    return diversity_stats(
        base.select("image_id", "bytes").unionByName(degrade_variants(base))
    )


def _o_image_diversity() -> str:
    from cityfinder_spark.operators.images_ops import FLAT_DEN, FLAT_NUM

    return f"""
    WITH {_duck_images_cte(20)},
    {_duck_mix64("px")},
    base AS (SELECT {_DUCK_IMG_ID} AS gid, i, fmt, {_DUCK_IMG_BYTE} AS b
             FROM mx),
    allb AS (
      SELECT gid, fmt, b FROM base
      UNION ALL
      SELECT 'low' || lpad(cast(i AS VARCHAR), 12, '0') AS gid, fmt,
             b & 192 AS b
      FROM base WHERE i % 7 = 0),
    hist AS (SELECT gid, any_value(fmt) AS fmt, b, count(*) AS c
             FROM allb GROUP BY gid, b),
    agg AS (SELECT gid, any_value(fmt) AS fmt, sum(c) AS n,
                   count(*) AS nd, max(c) AS mx, sum(c * c) AS coll
            FROM hist GROUP BY gid)
    SELECT gid AS image_id, fmt,
           cast(n AS BIGINT) AS n_pixels,
           cast(nd AS INT) AS n_distinct,
           cast(mx AS BIGINT) AS max_count,
           cast(coll AS BIGINT) AS coll_mass,
           coll * {FLAT_DEN} > n * n * {FLAT_NUM} AS is_flat
    FROM agg
    """


def q_image_quarantine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corrupt-payload quarantine gate: every 11th payload truncated
    to 10 bytes IN SQL (binary substring — no Python touches the
    corruption), then the per-row try-decode pass must quarantine
    exactly those rows (ok=false, null dims) and decode the rest.
    The oracle replays verdict, byte counts and shapes closed-form
    from the id grammar."""
    from cityfinder_spark.operators.images_ops import decode_quarantine

    n = max(200, spark.read.parquet(f"{sf_dir}/orders.parquet").count() // 20)
    imgs = _media_table(spark, "images", n).select(
        "image_id",
        F.when(
            F.expr("cast(substr(image_id, 4) as bigint) % 11 = 0"),
            F.expr("substring(bytes, 1, 10)"),
        )
        .otherwise(F.col("bytes"))
        .alias("bytes"),
    )
    return decode_quarantine(imgs)


def _o_image_quarantine() -> str:
    return f"""
    WITH {_duck_images_cte(20)}
    SELECT {_DUCK_IMG_ID} AS image_id,
           cast(CASE WHEN i % 11 = 0 THEN 10 ELSE 9 + 3 * w * h END
                AS BIGINT) AS n_bytes,
           i % 11 <> 0 AS ok,
           CASE WHEN i % 11 <> 0 THEN fmt END AS fmt,
           cast(CASE WHEN i % 11 <> 0 THEN w END AS INT) AS w,
           cast(CASE WHEN i % 11 <> 0 THEN h END AS INT) AS h
    FROM imgs
    """


def q_image_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """2x box-downsample + re-encode, then decode back: gates the full
    resample kernel end-to-end (decode -> 2x2 exact-integer box mean
    with uint8 truncation -> re-quantize lossy -> re-encode -> decode
    -> stats), all replayed closed-form in the DuckDB oracle."""
    from cityfinder_spark.operators.images_ops import decode_stats, resize_half

    n = max(200, spark.read.parquet(f"{sf_dir}/orders.parquet").count() // 20)
    return decode_stats(resize_half(_media_table(spark, "images", n))).select(
        "image_id", "fmt", "w", "h", "mean_pixel"
    )


def q_video_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frame-sample FVID payloads -> one row per kept frame; the kept
    (video_id, frame_idx) set is closed-form in the row id (n_frames =
    3 + id % 4, stride 2) and oracled exactly."""
    from cityfinder_spark.operators.images_ops import frame_sample

    n = max(100, spark.read.parquet(f"{sf_dir}/orders.parquet").count() // 50)
    return frame_sample(_media_table(spark, "videos", n), every=2).select(
        "video_id", "frame_idx"
    )


# ---------------- event-stream queries (batch twins) ----------------

def _events(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_views(spark, sf_dir, ("events",))
    return spread(spark.table("events"))


def q_events_windowed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling 1h window per event_type (streaming.windows; the same
    code runs on readStream — tested with availableNow)."""
    from cityfinder_spark.streaming.windows import windowed_event_counts

    return windowed_event_counts(_events(spark, sf_dir))


def q_events_asof(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join: every click attributed to the user's most recent
    at-or-before view (ties -> max event_id). One keyed exchange +
    ordered window sweep (operators/asof.py) — never the O(|L| x |R|)
    ranked theta-join the oracle runs. lag_us in exact integer
    microseconds, so the row set value-hashes with no FP anywhere."""
    from cityfinder_spark.operators.asof import asof_join

    ev = _events(spark, sf_dir)
    clicks = ev.where(F.col("event_type") == "click").select(
        "event_id", "user_id", "ts", "value"
    )
    views = ev.where(F.col("event_type") == "view").select(
        "event_id", "user_id", "ts", "value"
    )
    j = asof_join(
        clicks, views, right_cols=("event_id", "ts", "value"), prefix="v_"
    )
    return j.select(
        "event_id",
        "user_id",
        F.col("v_event_id").alias("view_id"),
        # events ts is TIMESTAMP_NTZ; the ntz->ltz cast applies the same
        # session-tz offset to both sides, so the difference is exact
        (
            F.unix_micros(F.col("ts").cast("timestamp"))
            - F.unix_micros(F.col("v_ts").cast("timestamp"))
        ).alias("lag_us"),
        F.col("v_value").alias("view_value"),
    )


def q_events_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session windows (30 min gap) per user via F.session_window;
    oracle is the classic gaps-and-islands SQL."""
    from cityfinder_spark.streaming.windows import sessionize

    return sessionize(_events(spark, sf_dir))


def q_events_props(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured JSON extraction + bucket aggregation."""
    from cityfinder_spark.streaming.windows import props_extract

    return props_extract(_events(spark, sf_dir))


# ------------- stateful streaming gates (run a REAL stream) -------------

_STREAM_SEQ = [0]  # unique memory-sink names across repeated calls


def _stage_id_ordered(
    spark: SparkSession, df: DataFrame, order_col: str, tag: str, n_files: int
) -> str:
    """Write df as n_files parquet files split by order_col ranges with
    ascending mtimes, so maxFilesPerTrigger=1 streams them as id-ordered
    micro-batches. Fixed per-tag temp dir, memoized per SparkContext
    (overwritten on rebuild — no /tmp accumulation)."""
    from cityfinder_spark.bcast import memo_value

    def build() -> str:
        import glob as _glob
        import hashlib
        import shutil
        import tempfile

        h = hashlib.sha1(tag.encode()).hexdigest()[:12]
        base = os.path.join(tempfile.gettempdir(), f"cf_stream_src_{h}")
        shutil.rmtree(base, ignore_errors=True)
        src = os.path.join(base, "src")
        os.makedirs(src)
        qs = df.approxQuantile(
            order_col, [i / n_files for i in range(1, n_files)], 0.0
        )
        bounds = [None, *qs, None]
        for i in range(n_files):
            part = df
            if bounds[i] is not None:
                part = part.where(F.col(order_col) > bounds[i])
            if bounds[i + 1] is not None:
                part = part.where(F.col(order_col) <= bounds[i + 1])
            stage = os.path.join(base, f"stage_{i}")
            part.coalesce(1).write.mode("overwrite").parquet(stage)
            (f,) = _glob.glob(os.path.join(stage, "part-*.parquet"))
            dst = os.path.join(src, f"{i:02d}.parquet")
            shutil.copy(f, dst)
            os.utime(dst, (1_000_000 + i, 1_000_000 + i))
        return src

    return memo_value(spark, ("stream-src", tag), build)


# Per-batch progress of the most recent stream gate run (populated by
# _run_stream_to_table from StreamingQuery.recentProgress). bench.py
# reads this to report STEADY-STATE per-batch throughput — batches
# after the first trigger, where one-time costs (state-store open,
# codegen, source listing) are amortized — alongside the cold-start
# wall time, so a state-handling regression can't hide inside fixed
# setup cost.
LAST_STREAM_PROGRESS: list[dict] = []


def _run_stream_to_table(
    spark: SparkSession, sdf: DataFrame, mode: str, shuffle_parts: int = 8
) -> DataFrame:
    """Drive a streaming DataFrame to completion with
    trigger(availableNow=True) into a memory sink; return the table.
    This is a REAL multi-micro-batch Structured Streaming run (the
    source is split into files and fed one per trigger), not a batch
    rewrite — the gate proves cross-batch state survives.

    Stateful-operator parallelism is pinned at stream start: every
    shuffle partition owns a state-store instance that each micro-batch
    must open, snapshot, and commit (a stream-stream join keeps FOUR
    per partition), so partition count is a per-batch fixed cost —
    size it to the micro-batch volume (10^4-row gate batches -> 8),
    not to the host's core count; at production volume this is the
    knob you RAISE (state stores shard across executors). Results are
    partitioning-independent; the conf is restored after the run.
    Measured on streaming_stream_join at sf0.1: 19.9s at 32 -> 5.0s
    at 8 (every other streaming gate got 1.2-1.8x too)."""
    _STREAM_SEQ[0] += 1
    name = f"cf_stream_gate_{_STREAM_SEQ[0]}"
    old_parts = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", str(shuffle_parts))
    try:
        q = (
            sdf.writeStream.format("memory")
            .queryName(name)
            .outputMode(mode)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old_parts)
    import json as _json

    LAST_STREAM_PROGRESS.clear()
    for p in q.recentProgress:
        LAST_STREAM_PROGRESS.append(
            p if isinstance(p, dict) else _json.loads(p.json)
        )
    if len(q.recentProgress) < 2:
        raise RuntimeError(
            f"stream gate expected multiple micro-batches, got "
            f"{len(q.recentProgress)} — maxFilesPerTrigger staging broke"
        )
    return spark.table(name)


def q_streaming_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.5 driver gate: cross-batch ingestion dedup as a REAL stream.
    documents is staged into 3 doc_id-ordered files and streamed one
    file per micro-batch through streaming_dedup_exact
    (applyInPandasWithState — state is one long per distinct key hash).
    With id-ordered arrival each key's first-seen id IS its global min,
    so the emission equals batch dedup_exact and shares its oracle;
    out-of-order arrival semantics (first-arrival canonical) are pinned
    separately in tests/test_streaming.py."""
    from cityfinder_spark.streaming.stateful import streaming_dedup_exact

    docs = _docs(spark, sf_dir).select("doc_id", "text")
    src = _stage_id_ordered(
        spark, docs, "doc_id", f"docs|{sf_dir}", n_files=3
    )
    schema = spark.read.parquet(src).schema
    stream_in = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    out = _run_stream_to_table(
        spark, streaming_dedup_exact(stream_in, key_expr="substr(text, 1, 80)"),
        mode="append",
    )
    return out.select("doc_id", "canonical_id", "is_dup")


def q_streaming_hot_cells(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.5 driver gate: the hot-cell skew monitor as a REAL stream.
    The geotagged points are staged into 3 pt_id-ordered files and
    streamed one per micro-batch through streaming_cell_counts
    (cell-keyed running counts, state bounded by the grid size, no
    watermark needed); update mode emits a row per touched cell per
    batch, the final emission per cell — max n_points, strictly
    increasing — must equal the batch `hot_cells` aggregate, so the
    key SHARES the hot_cells oracle. Only possible if per-cell counts
    survive the micro-batch boundary."""
    from cityfinder_spark.streaming.windows import streaming_cell_counts

    pts = _points(spark, sf_dir).select("pt_id", "lat", "lon")
    src = _stage_id_ordered(spark, pts, "pt_id", f"pts|{sf_dir}", n_files=3)
    schema = spark.read.parquet(src).schema
    stream_in = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    out = _run_stream_to_table(
        spark, streaming_cell_counts(stream_in, level=CELL_LEVEL), mode="update"
    )
    return (
        out.groupBy("cell_id")
        .agg(F.max("n_points").alias("n_points"))
        .where(F.col("n_points") >= HOT_THRESHOLD)
    )


def q_streaming_region_rings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.5 monitor -> geometry pipeline (round-5 key): the hot-cell
    monitor's STREAMING state becomes live boundary polygons. The
    same staged multi-batch point stream as streaming_hot_cells runs
    streaming_cell_counts (cell-keyed running counts, state bounded
    by the grid); the final per-cell counts — which provably equal
    the batch aggregate, that is streaming_hot_cells' own gate — feed
    region_rings_from_counts, the grid-bounded ring epilogue
    (operators/raster.py). No second corpus scan: counts are the
    stream state, geometry is derived from state. Shares the
    region_rings oracle; empty at sf0.001 (no hot cells), real rings
    at sf0.01."""
    from cityfinder_spark.operators.raster import region_rings_from_counts
    from cityfinder_spark.streaming.windows import streaming_cell_counts

    pts = _points(spark, sf_dir).select("pt_id", "lat", "lon")
    src = _stage_id_ordered(spark, pts, "pt_id", f"pts|{sf_dir}", n_files=3)
    schema = spark.read.parquet(src).schema
    stream_in = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    out = _run_stream_to_table(
        spark, streaming_cell_counts(stream_in, level=CELL_LEVEL), mode="update"
    )
    counts = out.groupBy("cell_id").agg(F.max("n_points").alias("n_points"))
    return region_rings_from_counts(
        counts, level=CELL_LEVEL, hot_threshold=HOT_THRESHOLD
    )


def q_streaming_distinct_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.5 driver gate: the HLL distinct sketch as a REAL stream.
    Orders are staged into 3 id-ordered files and streamed one per
    micro-batch; the register aggregation groupBy(grp, bucket).max(rho)
    runs as a streaming aggregation in update mode (state = register
    rows, bounded by |groups| x 2^p REGARDLESS of stream length — the
    sketch's whole point as streaming state). Registers merge with
    MAX, so the final emission per register equals the batch sketch
    bit-for-bit and the key SHARES the distinct_sketch oracle. Only
    possible if register state survives the micro-batch boundary."""
    from cityfinder_spark.operators.sketch import finish_sketch, hll_registers

    load_views(spark, sf_dir, ("orders",))
    src_df = spark.table("orders").select(
        "o_orderkey", "o_orderpriority", "o_custkey"
    )
    src = _stage_id_ordered(
        spark, src_df, "o_orderkey", f"orders-sketch|{sf_dir}", n_files=3
    )
    schema = spark.read.parquet(src).schema
    stream_in = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    regs = hll_registers(
        stream_in, "o_orderpriority", "o_custkey", p=8, hash_mode="splitmix"
    )
    out = _run_stream_to_table(spark, regs, mode="update")
    return finish_sketch(
        out, spark.table("orders"), "o_orderpriority", "o_custkey", p=8
    )


CMS_HH_THRESHOLD = 5


def q_count_min_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min sketch of shingle DOCUMENT FREQUENCY vs the exact
    count: (shingle, est_count, exact_count, overest). The DF question
    is the one word_shingles' max_df hot-shingle bound needs; exact DF
    at 10^12 docs shuffles the full distinct-key stream, the CMS
    answers it in depth x width longs (one map-side-combined exchange,
    counter state input-size-independent). overest >= 0 row-wise by
    the one-sided CMS guarantee; md5-affine hashing makes every
    counter and every min-probe DuckDB-replayable bit-for-bit."""
    from cityfinder_spark.operators.dedup import word_shingles
    from cityfinder_spark.operators.sketch import cms_vs_exact

    sh = word_shingles(_docs(spark, sf_dir), n=3)
    return cms_vs_exact(sh, "shingle")


def q_streaming_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.5 driver gate: CMS frequency counters as a REAL stream.
    Documents are staged into 3 id-ordered files and streamed one per
    micro-batch; per-doc shingle sets are built statelessly in the
    same arrow pass as batch word_shingles, and the counter
    aggregation groupBy(row_i, bucket).count runs as a streaming
    update-mode aggregation — state = the counter table, bounded at
    depth x width longs REGARDLESS of stream length. Counters are
    monotone sums, so the final emission per counter (max over
    update-mode emissions) equals the batch sketch bit-for-bit; the
    batch key set then probes the streamed counters and keeps
    est >= CMS_HH_THRESHOLD — the no-false-negative heavy-hitter
    superset. Only possible if counter state survives the micro-batch
    boundary."""
    from cityfinder_spark.operators.dedup import word_shingles
    from cityfinder_spark.operators.sketch import cms_counters, cms_probe

    docs = _docs(spark, sf_dir).select("doc_id", "text")
    src = _stage_id_ordered(spark, docs, "doc_id", f"docs-cms|{sf_dir}", n_files=3)
    schema = spark.read.parquet(src).schema
    stream_in = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    counters = cms_counters(word_shingles(stream_in, n=3), "shingle")
    out = _run_stream_to_table(spark, counters, mode="update")
    final = out.groupBy("row_i", "bucket").agg(F.max("cnt").alias("cnt"))
    keys = word_shingles(_docs(spark, sf_dir), n=3).select("shingle").distinct()
    est = cms_probe(final, keys, "shingle")
    return est.where(F.col("est_count") >= F.lit(CMS_HH_THRESHOLD))


def _stage_ranked(
    spark: SparkSession, df: DataFrame, okey, tag: str, n_files: int
) -> str:
    """Stage df into n_files parquet files split by EXACT row_number
    quantiles over `okey` (a Column), ascending mtimes. Unlike
    _stage_id_ordered (approxQuantile bounds), the batch of a row is a
    pure closed form — batch = floor((rank-1) * n_files / N) — so an
    oracle can recompute every row's micro-batch in SQL."""
    from pyspark.sql import Window

    from cityfinder_spark.bcast import memo_value

    def build() -> str:
        import glob as _glob
        import hashlib
        import shutil
        import tempfile

        h = hashlib.sha1(tag.encode()).hexdigest()[:12]
        base = os.path.join(tempfile.gettempdir(), f"cf_stream_rk_{h}")
        shutil.rmtree(base, ignore_errors=True)
        src = os.path.join(base, "src")
        os.makedirs(src)
        n = df.count()
        ranked = df.withColumn("__rn", F.row_number().over(Window.orderBy(okey)))
        for i in range(n_files):
            part = ranked.where(
                F.floor((F.col("__rn") - 1) * n_files / F.lit(n)) == i
            ).drop("__rn")
            stage = os.path.join(base, f"stage_{i}")
            part.coalesce(1).write.mode("overwrite").parquet(stage)
            (f,) = _glob.glob(os.path.join(stage, "part-*.parquet"))
            dst = os.path.join(src, f"{i:02d}.parquet")
            shutil.copy(f, dst)
            os.utime(dst, (1_000_000 + i, 1_000_000 + i))
        return src

    return memo_value(spark, ("stream-rk", tag), build)


# scrambled arrival key: md5 of the id decorrelates arrival order from
# event time so genuine late data exists; the sentinel sorts last
_LATE_SENTINEL_SQL = (
    "SELECT cast(1000000000000000 as bigint) AS event_id, "
    "TIMESTAMP '2024-12-31 00:00:00' AS ts, 'sentinel' AS event_type, "
    "cast(0.0 as double) AS value"
)
_LATE_N_FILES = 4
_LATE_DELAY = "4 hours"


def q_streaming_late_data(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.5 driver gate: WATERMARK LATE-DATA SEMANTICS as a real
    append-mode stream. Events are staged in md5-scrambled order (so
    ~half the rows arrive later than the watermark), plus a far-future
    sentinel in the last file so every real window finalizes. The
    memory sink's emissions are summed per (window, event_type) and
    hashed against a closed-form DuckDB replay of Structured
    Streaming's observed availableNow mechanics (Spark 4.x): the
    late filter drops post-partial-agg keys whose window end <=
    trunc_ms(max event time through micro-batch k-2) - delay (the
    filter lags the progress watermark by one commit — measured, and
    pinned by this gate), evicted keys re-emit when late rows slip the
    lag, and only windows past the final watermark emit at all. ~half
    the input being dropped IS the assertion: watermarks bound state
    at 10^12-row stream scale by discarding provably-late data."""
    from cityfinder_spark.streaming.windows import windowed_event_counts

    base = _events(spark, sf_dir).select("event_id", "ts", "event_type", "value")
    with_sent = base.unionByName(spark.sql(_LATE_SENTINEL_SQL))
    okey = F.concat(
        F.when(F.col("event_id") >= 10**15, F.lit("z")).otherwise(F.lit("a")),
        F.md5(F.col("event_id").cast("string")),
    )
    src = _stage_ranked(
        spark, with_sent, okey, f"late|{sf_dir}", _LATE_N_FILES
    )
    schema = spark.read.parquet(src).schema
    stream_in = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    out = _run_stream_to_table(
        spark,
        windowed_event_counts(stream_in, "1 hour", watermark=_LATE_DELAY),
        mode="append",
    )
    return out.groupBy("window_start", "event_type").agg(
        F.sum("n_events").alias("n_events")
    )


def _o_streaming_late_data() -> str:
    return f"""
    WITH evs AS (
      SELECT event_id, ts, event_type, value FROM events
      UNION ALL {_LATE_SENTINEL_SQL}),
    r AS (SELECT *, row_number() OVER (ORDER BY
            concat(CASE WHEN event_id >= 1000000000000000
                   THEN 'z' ELSE 'a' END,
                   md5(cast(event_id AS VARCHAR)))) AS rn,
            (SELECT count(*) FROM evs) AS n
          FROM evs),
    b AS (SELECT *, cast(floor((rn - 1) * {_LATE_N_FILES} / n) AS INT)
                    AS batch FROM r),
    bm AS (SELECT batch, max(ts) AS bmax FROM b GROUP BY batch),
    wm AS (SELECT batch, max(bmax) OVER (ORDER BY batch
             ROWS BETWEEN UNBOUNDED PRECEDING AND 2 PRECEDING) AS lagmax
           FROM bm),
    k AS (SELECT b.*,
            date_trunc('milliseconds', wm.lagmax)
              - INTERVAL 4 HOUR AS wflt,
            date_trunc('hour', b.ts) AS wstart,
            date_trunc('hour', b.ts) + INTERVAL 1 HOUR AS wend
          FROM b JOIN wm ON b.batch = wm.batch),
    kept AS (SELECT * FROM k WHERE wflt IS NULL OR wend > wflt),
    fin AS (SELECT date_trunc('milliseconds', max(ts))
                     - INTERVAL 4 HOUR AS wfinal FROM evs)
    SELECT cast(epoch(wstart) AS BIGINT) AS window_start, event_type,
           count(*) AS n_events
    FROM kept, fin WHERE wend <= wfinal
    GROUP BY wstart, event_type
    """


def q_running_user_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.5 driver gate: per-user running totals as a REAL stream.
    events is staged into 2 event_id-ordered halves (users overlap both
    halves), streamed one file per micro-batch through
    running_user_totals (update mode emits a row per user per batch);
    the FINAL emission per user — selected by max n_events, which is
    strictly increasing across a user's emissions — must equal the
    plain batch GROUP BY. Only possible if the per-user state survived
    the micro-batch boundary."""
    from cityfinder_spark.streaming.stateful import running_user_totals

    events = _events(spark, sf_dir).select("event_id", "user_id", "value")
    src = _stage_id_ordered(
        spark, events, "event_id", f"events|{sf_dir}", n_files=2
    )
    schema = spark.read.parquet(src).schema
    stream_in = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    out = _run_stream_to_table(
        spark, running_user_totals(stream_in), mode="update"
    )
    final = F.max(
        F.struct("n_events", "sum_value", "max_value")
    ).alias("f")
    return (
        out.groupBy("user_id")
        .agg(final)
        .select(
            "user_id",
            F.col("f.n_events").alias("n_events"),
            F.col("f.sum_value").alias("sum_value"),
            F.col("f.max_value").alias("max_value"),
        )
    )


_SSJOIN_ATTR_MIN = 240  # click attributed to views in the prior 4 hours
_SSJOIN_DELAY = "12 hours"  # conservative: >> cross-side staging skew


def q_streaming_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.5 driver gate: watermarked STREAM-STREAM interval join as a
    REAL two-source stream. Views and clicks are staged separately
    into 3 ts-ordered files each and streamed one file per source per
    micro-batch through view_click_interval_join (streaming/joins.py):
    both sides watermarked, closed time-range condition, so Spark's
    symmetric hash join buffers state it can EVICT. Matches span
    micro-batch boundaries (a view buffered from batch k joins a click
    arriving in batch k+1 — guaranteed here: each staged file spans
    ~10 days, the window is 4h, so every cross-file-adjacent pair
    crosses a batch). Inner-join emissions are exactly the matched
    pairs whatever the batching, so the gate hashes against the plain
    DuckDB interval join. The 12h watermark delay exceeds any skew
    between the two sides' independent tertile boundaries (same
    underlying ts distribution), so no row is ever late — late-drop
    mechanics are pinned separately by streaming_late_data."""
    from cityfinder_spark.streaming.joins import view_click_interval_join

    sides = _ssjoin_sides(spark, sf_dir)
    joined = view_click_interval_join(
        sides["view"],
        sides["click"],
        attr_minutes=_SSJOIN_ATTR_MIN,
        delay=_SSJOIN_DELAY,
    )
    return _run_stream_to_table(spark, joined, mode="append")


def _ssjoin_sides(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    """Views/clicks staged into 3 ts-ordered files each (shared by the
    inner and leftOuter stream-join gates — same memoized staging)."""
    ev = _events(spark, sf_dir)
    sides = {}
    for kind in ("view", "click"):
        side = (
            ev.where(F.col("event_type") == kind)
            .select("event_id", "user_id", "ts")
            .withColumn("ord", F.unix_micros(F.col("ts").cast("timestamp")))
        )
        src = _stage_id_ordered(
            spark, side, "ord", f"ssjoin-{kind}|{sf_dir}", n_files=3
        )
        schema = spark.read.parquet(src).schema
        sides[kind] = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
            .drop("ord")
        )
    return sides


def q_streaming_stream_join_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.5 LEFT-OUTER stream-stream join (round-5 key) — the
    production attribution shape: every click emits, matched pairs
    immediately (identical to the inner gate), UNMATCHED clicks as
    NULL-extended rows when the watermark EVICTS them from join state
    (no matching view can still arrive once the global watermark
    passes click_ts). The availableNow trigger runs a terminal
    no-data micro-batch, so the emitted null set is closed-form: the
    unmatched clicks with ts < min(max view ts, max click ts) - 12h —
    exactly what the DuckDB oracle replays (the streaming_late_data
    stance: the oracle models the eviction mechanics, not just the
    algebra). Clicks above that final watermark are still buffered at
    shutdown (their window is open) and correctly do NOT emit."""
    from cityfinder_spark.streaming.joins import view_click_interval_join

    sides = _ssjoin_sides(spark, sf_dir)
    joined = view_click_interval_join(
        sides["view"],
        sides["click"],
        attr_minutes=_SSJOIN_ATTR_MIN,
        delay=_SSJOIN_DELAY,
        how="leftOuter",
    )
    return _run_stream_to_table(spark, joined, mode="append")


def _o_streaming_stream_join_outer() -> str:
    return f"""
    WITH c AS (SELECT event_id, user_id, ts FROM events
               WHERE event_type = 'click'),
    v AS (SELECT event_id, user_id, ts FROM events
          WHERE event_type = 'view'),
    m AS (
      SELECT c.event_id AS click_id, v.event_id AS view_id, c.user_id,
             epoch_us(c.ts) - epoch_us(v.ts) AS lag_us
      FROM c JOIN v
        ON v.user_id = c.user_id AND c.ts >= v.ts
       AND c.ts <= v.ts + INTERVAL {_SSJOIN_ATTR_MIN} MINUTE),
    wm AS (SELECT least((SELECT max(ts) FROM v), (SELECT max(ts) FROM c))
                  - INTERVAL {_SSJOIN_DELAY} AS w)
    SELECT click_id, view_id, user_id, lag_us FROM m
    UNION ALL
    SELECT c.event_id AS click_id, CAST(NULL AS BIGINT) AS view_id,
           c.user_id, CAST(NULL AS BIGINT) AS lag_us
    FROM c, wm
    WHERE c.ts < wm.w
      AND NOT EXISTS (SELECT 1 FROM m WHERE m.click_id = c.event_id)
    """


def _o_streaming_stream_join() -> str:
    return f"""
    SELECT c.event_id AS click_id, v.event_id AS view_id, c.user_id,
           epoch_us(c.ts) - epoch_us(v.ts) AS lag_us
    FROM (SELECT event_id, user_id, ts FROM events
          WHERE event_type = 'click') c
    JOIN (SELECT event_id, user_id, ts FROM events
          WHERE event_type = 'view') v
      ON v.user_id = c.user_id AND c.ts >= v.ts
     AND c.ts <= v.ts + INTERVAL {_SSJOIN_ATTR_MIN} MINUTE
    """


def q_streaming_knn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.5 driver gate: the FLAGSHIP kNN join on a real multi-batch
    stream (the Distributed Stream kNN Join shape): the contract's
    geotagged points are staged into 3 pt_id-ordered files and
    streamed one per micro-batch through the same nearest_city_join
    the batch flagship runs — broadcast CityIndex + scalar pandas UDF
    are streaming-compatible as-is, stateless per row, so ingestion
    enrichment needs no second code path (SURVEY §7.0's one-codebase
    stance). Emissions are batch-invariant and share the nearest_city
    oracle."""
    pts = _points(spark, sf_dir).select("pt_id", "caption", "lat", "lon")
    src = _stage_id_ordered(
        spark, pts, "pt_id", f"knn-pts|{sf_dir}", n_files=3
    )
    schema = spark.read.parquet(src).schema
    stream_in = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    enriched = nearest_city_join(
        stream_in, _cities(spark, sf_dir), cache_key=("cities", sf_dir)
    )
    out = _run_stream_to_table(spark, enriched, mode="append")
    return out.select(
        "pt_id", "caption", "city_id", "name", "country", "dist_km"
    )


def q_streaming_pq_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.5 driver gate: PQ compression at INGESTION TIME — the
    corpus embeddings staged into 3 id-ordered files and streamed one
    per micro-batch through the SAME pq_encode pass the batch key
    runs (broadcast codebook + stateless Arrow kernel are
    streaming-compatible as-is; the one-codebase stance of
    streaming_knn applied to the compression path). Emissions are
    batch-invariant, so the key shares the pq_encode oracle."""
    from cityfinder_spark.operators.pq import pq_encode

    CB = _pq_model(spark, sf_dir)
    base = _emb_base(spark, sf_dir).select("vec_id", "embedding")
    src = _stage_id_ordered(
        spark, base, "vec_id", f"pq-emb|{sf_dir}", n_files=3
    )
    schema = spark.read.parquet(src).schema
    stream_in = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    enc = pq_encode(stream_in, CB)
    out = _run_stream_to_table(spark, enc, mode="append")
    return out.select(
        "vec_id",
        F.expr("aggregate(codes, 0L, (a, x) -> a * 16 + x)").alias(
            "codes_packed"
        ),
        "recon_err",
    )


# ---------------- DuckDB oracles ----------------

def _o_nearest_city() -> str:
    hav = sc.haversine_rounded_sql("p.lat", "p.lon", "c.lat", "c.lon")
    return f"""
    WITH pts AS ({sc.points_from_orders_sql()}),
         cts AS ({sc.cities_from_customer_sql()}),
         ranked AS (
           SELECT p.pt_id, p.caption, c.city_id, c.name, c.country,
                  {hav} AS dist_km,
                  row_number() OVER (PARTITION BY p.pt_id
                                     ORDER BY {hav}, c.city_id) AS rn
           FROM pts p CROSS JOIN cts c)
    SELECT pt_id, caption, city_id, name, country, dist_km
    FROM ranked WHERE rn = 1
    """


def _o_nearest_city_topk() -> str:
    hav = sc.haversine_rounded_sql("p.lat", "p.lon", "c.lat", "c.lon")
    return f"""
    WITH pts AS ({sc.points_from_orders_sql()}),
         cts AS ({sc.cities_from_customer_sql()}),
         ranked AS (
           SELECT p.pt_id, c.city_id, c.name, c.country,
                  {hav} AS dist_km,
                  row_number() OVER (PARTITION BY p.pt_id
                                     ORDER BY {hav}, c.city_id) AS rank
           FROM pts p CROSS JOIN cts c)
    SELECT pt_id, city_id, name, country, dist_km, rank
    FROM ranked WHERE rank <= 3
    """


def _o_cell_assign() -> str:
    return f"""
    WITH pts AS ({sc.points_from_orders_sql()})
    SELECT pt_id, lat, lon, {sc.cell_sql("lat", "lon", CELL_LEVEL)} AS cell_id
    FROM pts
    """


def _o_hotspot_clusters() -> str:
    """Hot cells + 8-adjacency CC, fully closed-form: adjacency is
    |di| <= 1 and wrap-aware |dj| <= 1 on the decoded (i, j) grid
    coordinates (identical to ring_cells_col's pmod wrapping), the
    component label via the same reach/min recursive CTE as
    _o_dedup_resolve."""
    nlon = 2 << CELL_LEVEL
    base = f"(cell_id - {CELL_LEVEL} * {sc.LEVEL_STRIDE})"
    return f"""
    WITH RECURSIVE pts AS ({sc.points_from_orders_sql()}),
    hot AS (
      SELECT {sc.cell_sql("lat", "lon", CELL_LEVEL)} AS cell_id,
             count(*) AS n_points
      FROM pts GROUP BY 1 HAVING count(*) >= {HOT_THRESHOLD}),
    d AS (
      SELECT cell_id,
             cast({base} // {nlon} AS bigint) AS i,
             cast({base} % {nlon} AS bigint) AS j
      FROM hot),
    ed AS (
      SELECT a.cell_id AS u, b.cell_id AS v
      FROM d a JOIN d b
        ON a.cell_id <> b.cell_id
       AND abs(a.i - b.i) <= 1
       AND least(abs(a.j - b.j), {nlon} - abs(a.j - b.j)) <= 1),
    reach(n, m) AS (
      SELECT u, u FROM ed
      UNION
      SELECT r.n, e.v FROM reach r JOIN ed e ON e.u = r.m),
    canon AS (SELECT n AS cell_id, MIN(m) AS label FROM reach GROUP BY 1)
    SELECT h.cell_id,
           COALESCE(c.label, h.cell_id) AS cluster_id,
           h.n_points
    FROM hot h LEFT JOIN canon c USING (cell_id)
    """


def _o_hot_cells() -> str:
    return f"""
    WITH pts AS ({sc.points_from_orders_sql()})
    SELECT {sc.cell_sql("lat", "lon", CELL_LEVEL)} AS cell_id,
           count(*) AS n_points
    FROM pts
    GROUP BY 1 HAVING count(*) >= {HOT_THRESHOLD}
    """


def _o_zorder_key() -> str:
    n = 1 << 16

    def spread(x: str) -> str:
        for sh, mask in ((8, 0x00FF00FF), (4, 0x0F0F0F0F), (2, 0x33333333), (1, 0x55555555)):
            x = f"(({x} | ({x} << {sh})) & {mask})"
        return x

    yi = f"least(greatest(cast(floor((lat + 90.0) / 180.0 * {n}) as bigint), 0), {n - 1})"
    xi = f"(((cast(floor((lon + 180.0) / 360.0 * {n}) as bigint) % {n}) + {n}) % {n})"
    return f"""
    WITH pts AS ({sc.points_from_orders_sql()}),
    ij AS (SELECT pt_id, {xi} AS xi, {yi} AS yi FROM pts)
    SELECT pt_id, {spread('xi')} | ({spread('yi')} << 1) AS zorder
    FROM ij
    """


def _o_focal_stats() -> str:
    level, k = CELL_LEVEL, 1
    nlat, nlon = 1 << level, 2 << level
    stride = level * sc.LEVEL_STRIDE
    offs = ", ".join(
        f"({di}, {dj})" for di in range(-k, k + 1) for dj in range(-k, k + 1)
    )
    mean = sc.round6_sql(
        "f.focal_sum / ((least(d.i + {k}, {top}) - greatest(d.i - {k}, 0) + 1)"
        " * {cols}) ".format(k=k, top=nlat - 1, cols=2 * k + 1)
    )
    return f"""
    WITH pts AS ({sc.points_from_orders_sql()}),
    c AS (SELECT {sc.cell_sql("lat", "lon", level)} AS cell_id,
                 count(*) AS n_points
          FROM pts GROUP BY 1),
    d AS (SELECT cell_id, n_points,
                 cast(floor((cell_id - {stride}) / {nlon}) as bigint) AS i,
                 (cell_id - {stride}) % {nlon} AS j
          FROM c),
    offs AS (SELECT * FROM (VALUES {offs}) o(di, dj)),
    contrib AS (SELECT {stride} + (d.i + o.di) * {nlon}
                       + (((d.j + o.dj) % {nlon}) + {nlon}) % {nlon} AS center,
                       d.n_points AS nb_points
                FROM d CROSS JOIN offs o
                WHERE d.i + o.di BETWEEN 0 AND {nlat - 1}),
    f AS (SELECT center AS cell_id, cast(sum(nb_points) as bigint) AS focal_sum,
                 max(nb_points) AS focal_max,
                 count(*) AS n_occupied_nb
          FROM contrib GROUP BY 1)
    SELECT d.cell_id, d.n_points, f.focal_sum,
           {mean} AS focal_mean,
           f.focal_max, f.n_occupied_nb
    FROM d JOIN f USING (cell_id)
    """


def _o_name_lookup(fuzzy: bool = True) -> str:
    fuzzy_cte = """
         fuzzy AS (
           SELECT * FROM (
             SELECT q.q_id, q.q_name, q.q_country,
                    d.city_id, d.name, d.lat AS c_lat, d.lon AS c_lon,
                    'fuzzy' AS match_type,
                    cast(levenshtein(q.q_name, d.name) as int) AS edit_dist,
                    row_number() OVER (
                      PARTITION BY q.q_id
                      ORDER BY levenshtein(q.q_name, d.name), d.name, d.city_id
                    ) AS rn
             FROM q JOIN dim d ON q.q_country = d.country
             WHERE levenshtein(q.q_name, d.name) <= 2
               AND q.q_id NOT IN (SELECT q_id FROM exact)) t
           WHERE rn = 1),
    """
    miss_src = (
        "SELECT q_id FROM exact UNION ALL SELECT q_id FROM fuzzy"
        if fuzzy
        else "SELECT q_id FROM exact"
    )
    fuzzy_union = "UNION ALL SELECT q_id, q_name, q_country, city_id, name, c_lat, c_lon, match_type, edit_dist FROM fuzzy" if fuzzy else ""
    return f"""
    WITH dim AS ({sc.names_dim_sql()}),
         q0 AS ({sc.name_queries_sql()}),
         q AS (SELECT q_id, q_name, upper(q_country) AS q_country FROM q0),
         exact AS (
           SELECT * FROM (
             SELECT q.q_id, q.q_name, q.q_country,
                    d.city_id, d.name, d.lat AS c_lat, d.lon AS c_lon,
                    'exact' AS match_type, cast(0 as int) AS edit_dist,
                    row_number() OVER (PARTITION BY q.q_id ORDER BY d.city_id) AS rn
             FROM q JOIN dim d
               ON q.q_country = d.country AND q.q_name = d.name) t
           WHERE rn = 1),
         {fuzzy_cte if fuzzy else ""}
         misses AS (
           SELECT q_id, q_name, q_country,
                  cast(NULL as bigint) AS city_id, cast(NULL as string) AS name,
                  cast(NULL as double) AS c_lat, cast(NULL as double) AS c_lon,
                  cast(NULL as string) AS match_type, cast(NULL as int) AS edit_dist
           FROM q WHERE q_id NOT IN ({miss_src}))
    SELECT q_id, q_name, q_country, city_id, name, c_lat, c_lon, match_type, edit_dist FROM exact
    {fuzzy_union}
    UNION ALL SELECT * FROM misses
    """


def _o_postal_lookup() -> str:
    return f"""
    WITH dim0 AS ({sc.postal_dim_sql()}),
         dim AS (
           SELECT * FROM (
             SELECT *, row_number() OVER (
               PARTITION BY country_code, postal_code ORDER BY line_no DESC) AS rn
             FROM dim0) t WHERE rn = 1),
         q0 AS ({sc.postal_queries_sql()}),
         q AS (SELECT q_id, q_code, upper(q_country) AS q_country FROM q0)
    SELECT q.q_id, q.q_code, q.q_country,
           d.place_name AS name, d.lat AS c_lat, d.lon AS c_lon,
           cast(d.accuracy as int) AS accuracy
    FROM q LEFT JOIN dim d
      ON q.q_country = d.country_code AND q.q_code = d.postal_code
    """


def _o_postal_dedup() -> str:
    return f"""
    WITH dim0 AS ({sc.postal_dim_sql()})
    SELECT country_code, postal_code, place_name, lat, lon, accuracy, line_no
    FROM (
      SELECT *, row_number() OVER (
        PARTITION BY country_code, postal_code ORDER BY line_no DESC) AS rn
      FROM dim0) t WHERE rn = 1
    """


def _o_salted_agg() -> str:
    return """
    SELECT o_orderpriority, count(*) AS n_rows,
           round(sum(o_totalprice), 2) AS sum_total
    FROM orders GROUP BY 1
    """


def _o_raster_tiles() -> str:
    # mirrors the Column evaluation order of map_raster_tiles exactly
    return f"""
    WITH imgs AS ({sc.images_from_orders_sql()}),
         tiles AS (
           SELECT pt_id, lat, lon, w, h,
                  unnest(generate_series(0, cast(floor((w + 15) / cast(16 as double)) as bigint) - 1)) AS tx
           FROM imgs),
         tiles2 AS (
           SELECT pt_id, lat, lon, w, h, tx,
                  unnest(generate_series(0, cast(floor((h + 15) / cast(16 as double)) as bigint) - 1)) AS ty
           FROM tiles),
         centers AS (
           SELECT pt_id, tx, ty,
                  (lat + (ty * 16 + 8.0 - h / cast(2 as double)) * 0.001) AS tile_lat,
                  (lon + (tx * 16 + 8.0 - w / cast(2 as double)) * 0.001) AS tile_lon
           FROM tiles2)
    SELECT pt_id, tx, ty, tile_lat, tile_lon,
           {sc.cell_sql("tile_lat", "tile_lon", CELL_LEVEL)} AS cell_id
    FROM centers
    """


def _o_point_in_polygon() -> str:
    return f"""
    WITH verts AS ({sc.polygon_vertices_sql()}),
         edges AS (
           SELECT v1.polygon_id, v1.country,
                  v1.vlat AS y1, v1.vlon AS x1, v2.vlat AS y2, v2.vlon AS x2
           FROM verts v1 JOIN verts v2
             ON v1.polygon_id = v2.polygon_id AND v2.v = (v1.v + 1) % 6),
         pts AS ({sc.points_from_orders_sql()}),
         crossings AS (
           SELECT p.pt_id, e.polygon_id, e.country, count(*) AS ncross
           FROM pts p JOIN edges e
             ON ((e.y1 > p.lat) <> (e.y2 > p.lat))
            AND (p.lon < (e.x2 - e.x1) * (p.lat - e.y1) / (e.y2 - e.y1) + e.x1)
           GROUP BY 1, 2, 3)
    SELECT pt_id, polygon_id, country AS poly_country
    FROM crossings WHERE ncross % 2 = 1
    """


def _cover_ccw_sql(ay, ax, by, bx, cy, cx) -> str:
    """Orientation sign, operand order identical to cover._ccw."""
    return (
        f"(((({bx})-({ax}))*(({cy})-({ay})) - (({by})-({ay}))*(({cx})-({ax}))) > 0)"
    )


def _cover_segx_sql(py1, px1, py2, px2) -> str:
    """Proper crossing of cell border P1-P2 vs the polygon edge row
    (y1,x1)-(y2,x2) — replays cover._seg_cross."""
    a = _cover_ccw_sql("y1", "x1", "y2", "x2", py1, px1)
    b = _cover_ccw_sql("y1", "x1", "y2", "x2", py2, px2)
    c = _cover_ccw_sql(py1, px1, py2, px2, "y1", "x1")
    d = _cover_ccw_sql(py1, px1, py2, px2, "y2", "x2")
    return f"(({a}) <> ({b}) AND ({c}) <> ({d}))"


def _cover_corner_sql(cy, cx) -> str:
    """Even-odd crossing indicator for corner (cy,cx) vs the edge row
    — same arithmetic as cover._crosses and the PIP oracle."""
    return (
        f"CASE WHEN ((y1 > ({cy})) <> (y2 > ({cy})))"
        f" AND (({cx}) < (x2 - x1) * (({cy}) - y1) / (y2 - y1) + x1)"
        f" THEN 1 ELSE 0 END"
    )


def _o_region_cover() -> str:
    """Operation-for-operation DuckDB replay of operators/cover.py:
    bbox candidate cells per level, exact corner/vertex/edge-crossing
    classification, top-down emission with full-ancestor suppression.
    All cell bounds are exact binary doubles (180/2**level), so the
    FP predicates agree with Spark bit-for-bit."""
    from cityfinder_spark.operators.cover import COVER_MAX_LEVEL, COVER_MIN_LEVEL

    segx = " OR ".join(
        (
            _cover_segx_sql("lat0", "lon0", "lat0", "lon1"),
            _cover_segx_sql("lat1", "lon0", "lat1", "lon1"),
            _cover_segx_sql("lat0", "lon0", "lat1", "lon0"),
            _cover_segx_sql("lat0", "lon1", "lat1", "lon1"),
        )
    )
    return f"""
    WITH verts AS ({sc.polygon_vertices_sql()}),
    edges AS (
      SELECT v1.polygon_id, v1.vlat AS y1, v1.vlon AS x1,
             v2.vlat AS y2, v2.vlon AS x2
      FROM verts v1 JOIN verts v2
        ON v1.polygon_id = v2.polygon_id AND v2.v = (v1.v + 1) % 6),
    bbox AS (
      SELECT polygon_id, country, min(vlat) AS blat0, max(vlat) AS blat1,
             min(vlon) AS blon0, max(vlon) AS blon1
      FROM verts GROUP BY 1, 2),
    lv AS (
      SELECT b.*, l.level, 180.0 / (1 << l.level) AS s,
             cast(1 << l.level AS BIGINT) AS nlat,
             cast(2 << l.level AS BIGINT) AS nlon
      FROM bbox b CROSS JOIN (
        SELECT unnest(generate_series({COVER_MIN_LEVEL}, {COVER_MAX_LEVEL}))
               AS level) l),
    rng AS (
      SELECT *,
        least(greatest(cast(floor((blat0 + 90.0) / s) AS BIGINT), 0), nlat - 1) AS i0,
        least(greatest(cast(floor((blat1 + 90.0) / s) AS BIGINT), 0), nlat - 1) AS i1,
        least(greatest(cast(floor((blon0 + 180.0) / s) AS BIGINT), 0), nlon - 1) AS j0,
        least(greatest(cast(floor((blon1 + 180.0) / s) AS BIGINT), 0), nlon - 1) AS j1
      FROM lv),
    ci AS (SELECT r.*, unnest(generate_series(r.i0, r.i1)) AS i FROM rng r),
    cand AS (
      SELECT polygon_id, country, level, s, nlon, i,
             unnest(generate_series(j0, j1)) AS j
      FROM ci),
    cb AS (
      SELECT polygon_id, country, level, nlon, i, j,
             i * s - 90.0 AS lat0, (i + 1) * s - 90.0 AS lat1,
             j * s - 180.0 AS lon0, (j + 1) * s - 180.0 AS lon1
      FROM cand),
    cl AS (
      SELECT c.polygon_id, c.country, c.level, c.nlon, c.i, c.j,
             sum({_cover_corner_sql("lat0", "lon0")}) AS s00,
             sum({_cover_corner_sql("lat0", "lon1")}) AS s01,
             sum({_cover_corner_sql("lat1", "lon0")}) AS s10,
             sum({_cover_corner_sql("lat1", "lon1")}) AS s11,
             max(CASE WHEN y1 BETWEEN lat0 AND lat1
                       AND x1 BETWEEN lon0 AND lon1 THEN 1 ELSE 0 END) AS vin,
             max(CASE WHEN {segx} THEN 1 ELSE 0 END) AS ecross
      FROM cb c JOIN edges e USING (polygon_id)
      GROUP BY 1, 2, 3, 4, 5, 6),
    tagged AS (
      SELECT *, (s00 % 2) + (s01 % 2) + (s10 % 2) + (s11 % 2) AS nc
      FROM cl),
    cov AS (
      SELECT *, CASE WHEN nc = 4 AND vin = 0 AND ecross = 0 THEN 'full'
                     WHEN nc > 0 OR vin = 1 OR ecross = 1 THEN 'partial'
                END AS coverage
      FROM tagged),
    fullc AS (SELECT polygon_id, level, i, j FROM cov WHERE coverage = 'full'),
    emit AS (
      SELECT * FROM cov
      WHERE coverage = 'full'
         OR (coverage = 'partial' AND level = {COVER_MAX_LEVEL})),
    kept AS (
      SELECT k.* FROM emit k
      WHERE NOT EXISTS (
        SELECT 1 FROM fullc f
        WHERE f.polygon_id = k.polygon_id AND f.level < k.level
          AND f.i = (k.i >> (k.level - f.level))
          AND f.j = (k.j >> (k.level - f.level))))
    SELECT polygon_id, country, cast(level AS INTEGER) AS level,
           cast(level AS BIGINT) * {sc.LEVEL_STRIDE} + i * nlon + j AS cell_id,
           coverage
    FROM kept
    """


def _o_geo_rollup() -> str:
    """Composite replay: brute-force nearest city (rn=1) joined to the
    even-odd PIP tags, rolled up per polygon country with order-free
    aggregates only (counts + min/max of the ROUNDED distance)."""
    hav = sc.haversine_rounded_sql("p.lat", "p.lon", "c.lat", "c.lon")
    return f"""
    WITH pts AS ({sc.points_from_orders_sql()}),
         cts AS ({sc.cities_from_customer_sql()}),
         ranked AS (
           SELECT p.pt_id, c.city_id, {hav} AS dist_km,
                  row_number() OVER (PARTITION BY p.pt_id
                                     ORDER BY {hav}, c.city_id) AS rn
           FROM pts p CROSS JOIN cts c),
         near AS (SELECT pt_id, city_id, dist_km FROM ranked WHERE rn = 1),
         verts AS ({sc.polygon_vertices_sql()}),
         edges AS (
           SELECT v1.polygon_id, v1.country,
                  v1.vlat AS y1, v1.vlon AS x1, v2.vlat AS y2, v2.vlon AS x2
           FROM verts v1 JOIN verts v2
             ON v1.polygon_id = v2.polygon_id AND v2.v = (v1.v + 1) % 6),
         crossings AS (
           SELECT p.pt_id, e.polygon_id, e.country, count(*) AS ncross
           FROM pts p JOIN edges e
             ON ((e.y1 > p.lat) <> (e.y2 > p.lat))
            AND (p.lon < (e.x2 - e.x1) * (p.lat - e.y1) / (e.y2 - e.y1) + e.x1)
           GROUP BY 1, 2, 3),
         pip AS (SELECT pt_id, country AS poly_country
                 FROM crossings WHERE ncross % 2 = 1)
    SELECT g.poly_country, count(*) AS n_points,
           count(DISTINCT n.city_id) AS n_cities,
           min(n.dist_km) AS min_dist_km, max(n.dist_km) AS max_dist_km
    FROM near n JOIN pip g USING (pt_id)
    GROUP BY g.poly_country
    """


_DUCK_MD5_INT = "cast(concat('0x', substr(md5({x}), 1, 12)) as bigint)"

_SHINGLES_CTE = """
    w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
    idx AS (SELECT doc_id, ws, unnest(generate_series(1, len(ws) - 2)) AS i
            FROM w WHERE len(ws) >= 3),
    sh AS (SELECT DISTINCT doc_id,
                  ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] AS shingle
           FROM idx),
    sz AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY 1),
    inter AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS inter
              FROM sh a JOIN sh b USING (shingle)
              WHERE a.doc_id < b.doc_id GROUP BY 1, 2),
    jac AS (SELECT doc_a, doc_b,
                   (floor((inter / (sa.sz + sb.sz - inter)) * 1000000.0 + 0.5)
                    / 1000000.0) AS jaccard
            FROM inter
            JOIN sz sa ON sa.doc_id = doc_a
            JOIN sz sb ON sb.doc_id = doc_b)
"""


def _o_sample_rate() -> str:
    cases = " ".join(
        f"WHEN '{v}' THEN {int(r * 100000)}"
        for v, r in sorted(SAMPLE_RATES.items())
    )
    return f"""
    SELECT doc_id, source, lang FROM documents
    WHERE (doc_id * 48271) % 100000 <
          CASE source {cases} ELSE {int(SAMPLE_DEFAULT_RATE * 100000)} END
    """


def _o_sample_quota() -> str:
    return f"""
    SELECT doc_id, source FROM (
      SELECT doc_id, source,
             ROW_NUMBER() OVER (
               PARTITION BY source
               ORDER BY (doc_id * 48271) % 100000, doc_id) AS rn
      FROM documents) t
    WHERE rn <= {QUOTA_K}
    """


def _o_mixture_sample() -> str:
    """Same arithmetic, same order of operations as mixture_sample:
    (budget * w) / tok_total in IEEE double, least(1.0, .) , floor,
    then the MINSTD hash filter — every step exact, so the kept row
    set is identical."""
    cases = " ".join(
        f"WHEN '{v}' THEN {w!r}" for v, w in sorted(MIX_WEIGHTS.items())
    )
    return f"""
    WITH base AS (
      SELECT doc_id, source, len(string_split(text, ' ')) AS n_tok
      FROM documents),
    thr AS (
      SELECT source,
             floor(least(1.0,
                 {float(MIX_BUDGET)!r} *
                 CASE source {cases} ELSE {MIX_DEFAULT_W!r} END
                 / sum(n_tok)) * 100000) AS t
      FROM base GROUP BY source)
    SELECT b.doc_id, b.source, b.n_tok
    FROM base b JOIN thr USING (source)
    WHERE (b.doc_id * 48271) % 100000 < thr.t
    """


def _o_tokenize_ids() -> str:
    """Vocab CTE = the vocab_topk ranking; positions via DuckDB's
    aligned parallel unnest (generate_series zipped with the token
    list); OOV and the empty token both coalesce to id 0."""
    return f"""
    WITH tok AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS token
      FROM documents),
    c AS (
      SELECT token, count(*) AS n_occurrences
      FROM tok WHERE token <> '' GROUP BY token),
    v AS (
      SELECT cast(row_number() OVER
               (ORDER BY n_occurrences DESC, token ASC) AS INT) AS token_id,
             token
      FROM c ORDER BY n_occurrences DESC, token ASC LIMIT {VOCAB_K}),
    d AS (SELECT doc_id, string_split(text, ' ') AS l FROM documents),
    p AS (
      SELECT doc_id,
             unnest(generate_series(1, len(l))) AS ppos,
             unnest(l) AS token
      FROM d)
    SELECT p.doc_id, cast(ppos - 1 AS INT) AS pos,
           cast(coalesce(v.token_id, 0) AS INT) AS token_id
    FROM p LEFT JOIN v USING (token)
    """


def _o_bm25_search() -> str:
    """Same FP expression text and fixed summation order as bm25_topk:
    idf = ln(1 + ((n - df) + .5)/(df + .5)); per-term pivot via
    max(case); score = round6(((0 + s0) + s1) + s2)."""
    terms_in = ", ".join(f"'{t}'" for t in BM25_TERMS)
    k1, b = BM25_K1, BM25_B
    denom = (
        f"(tf + ({k1!r} * ({1.0 - b!r} + (({b!r} * dl) / avgdl))))"
    )
    s = f"((idf * tf) * {k1 + 1.0!r}) / {denom}"
    pivots = ", ".join(
        f"max(CASE WHEN t = '{t}' THEN s END) AS s{i}"
        for i, t in enumerate(BM25_TERMS)
    )
    total = "0.0"
    for i in range(len(BM25_TERMS)):
        total = f"({total} + coalesce(s{i}, 0.0))"
    return f"""
    WITH d AS (
      SELECT doc_id, text,
             cast(len(string_split(text, ' ')) AS double) AS dl
      FROM documents),
    stats AS (
      SELECT cast(count(*) AS double) AS n,
             sum(dl) / cast(count(*) AS double) AS avgdl
      FROM d),
    tok AS (
      SELECT doc_id, dl, unnest(string_split(text, ' ')) AS t FROM d),
    tf AS (
      SELECT doc_id, t, cast(count(*) AS double) AS tf, max(dl) AS dl
      FROM tok WHERE t IN ({terms_in}) GROUP BY doc_id, t),
    dfreq AS (SELECT t, cast(count(*) AS double) AS df FROM tf GROUP BY t),
    scored AS (
      SELECT tf.doc_id, tf.t,
             ln(1.0 + (((n - df) + 0.5) / (df + 0.5))) AS idf,
             tf.tf, tf.dl, stats.n, stats.avgdl, dfreq.df
      FROM tf JOIN dfreq USING (t) CROSS JOIN stats),
    sc2 AS (
      SELECT doc_id, t, {s} AS s
      FROM scored),
    piv AS (SELECT doc_id, {pivots} FROM sc2 GROUP BY doc_id),
    top AS (
      SELECT doc_id, {sc.round6_sql(total)} AS score
      FROM piv ORDER BY score DESC, doc_id ASC LIMIT {BM25_K})
    SELECT cast(row_number() OVER (ORDER BY score DESC, doc_id ASC) AS INT)
             AS "rank",
           doc_id, score
    FROM top
    """


def _o_vocab_topk() -> str:
    return f"""
    WITH tok AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS token
      FROM documents),
    c AS (
      SELECT token, count(*) AS n_occurrences,
             count(DISTINCT doc_id) AS doc_freq
      FROM tok WHERE token <> '' GROUP BY token)
    SELECT cast(row_number() OVER
                (ORDER BY n_occurrences DESC, token ASC) AS INT) AS "rank",
           token, n_occurrences, doc_freq
    FROM c
    ORDER BY n_occurrences DESC, token ASC
    LIMIT {VOCAB_K}
    """


def _o_dedup_resolve() -> str:
    return f"""
    WITH RECURSIVE {_minhash_pairs_ctes()},
    ed AS (SELECT doc_a AS u, doc_b AS v FROM pr
           UNION SELECT doc_b, doc_a FROM pr),
    reach(n, m) AS (
      SELECT u, u FROM ed
      UNION
      SELECT r.n, e.v FROM reach r JOIN ed e ON e.u = r.m
    ),
    canon AS (SELECT n AS doc_id, MIN(m) AS label FROM reach GROUP BY 1)
    SELECT d.doc_id,
           COALESCE(c.label, d.doc_id) AS canonical_id,
           (COALESCE(c.label, d.doc_id) <> d.doc_id) AS is_dup
    FROM documents d LEFT JOIN canon c USING (doc_id)
    """


def _cms_ctes() -> str:
    """Shared CTE chain ending in `cprobe` = (shingle, exact, est):
    the count-min counters and min-probes over the per-doc-distinct
    shingle stream, replaying the Spark md5-affine family exactly."""
    from cityfinder_spark.operators.sketch import CMS_P, CMS_WIDTH, cms_funcs

    funcs_values = ", ".join(f"({i}, {a}, {b})" for i, a, b in cms_funcs())
    x = _DUCK_MD5_INT.format(x="shingle")
    return f"""{_SHINGLES_CTE},
    cfuncs AS (SELECT * FROM (VALUES {funcs_values}) cf(i, a, b)),
    cx AS (SELECT {x} AS x FROM sh),
    ccnt AS (SELECT i, ((a * x + b) % {CMS_P}) % {CMS_WIDTH} AS bucket,
                    count(*) AS cnt
             FROM cx CROSS JOIN cfuncs GROUP BY 1, 2),
    ckeys AS (SELECT shingle, {x} AS x, count(*) AS exact
              FROM sh GROUP BY 1, 2),
    cprobe AS (SELECT k.shingle, k.exact, min(c.cnt) AS est
               FROM ckeys k CROSS JOIN cfuncs f
               JOIN ccnt c
                 ON c.i = f.i
                AND c.bucket = ((f.a * k.x + f.b) % {CMS_P}) % {CMS_WIDTH}
               GROUP BY 1, 2)"""


def _o_count_min_df() -> str:
    return f"""
    WITH {_cms_ctes()}
    SELECT shingle, est AS est_count, exact AS exact_count,
           est - exact AS overest
    FROM cprobe
    """


def _o_streaming_heavy_hitters() -> str:
    return f"""
    WITH {_cms_ctes()}
    SELECT shingle, est AS est_count
    FROM cprobe WHERE est >= {CMS_HH_THRESHOLD}
    """


def _o_cluster_split() -> str:
    from cityfinder_spark.operators.sampling import HASH_M, SPLIT_A

    val_hi = int(0.05 * HASH_M)
    test_hi = val_hi + int(0.05 * HASH_M)
    return f"""
    WITH RECURSIVE {_minhash_pairs_ctes()},
    ed AS (SELECT doc_a AS u, doc_b AS v FROM pr
           UNION SELECT doc_b, doc_a FROM pr),
    reach(n, m) AS (
      SELECT u, u FROM ed
      UNION
      SELECT r.n, e.v FROM reach r JOIN ed e ON e.u = r.m
    ),
    canon AS (SELECT n AS doc_id, MIN(m) AS label FROM reach GROUP BY 1),
    res AS (SELECT d.doc_id,
                   COALESCE(c.label, d.doc_id) AS canonical_id
            FROM documents d LEFT JOIN canon c USING (doc_id))
    SELECT doc_id, canonical_id,
           CASE WHEN (canonical_id * {SPLIT_A}) % {HASH_M} < {val_hi}
                THEN 'val'
                WHEN (canonical_id * {SPLIT_A}) % {HASH_M} < {test_hi}
                THEN 'test'
                ELSE 'train' END AS split
    FROM res
    """


def _o_dedup_exact() -> str:
    return """
    SELECT doc_id,
           min(doc_id) OVER (PARTITION BY substr(text, 1, 80)) AS canonical_id,
           doc_id <> min(doc_id) OVER (PARTITION BY substr(text, 1, 80)) AS is_dup
    FROM documents
    """


def _o_token_stats() -> str:
    return """
    SELECT doc_id,
           len(string_split(text, ' ')) AS n_tokens,
           length(text) AS n_chars,
           cast(floor((length(text) + 3) / 4.0) as bigint) AS bpe_est
    FROM documents
    """


def _o_decontaminate() -> str:
    return """
    WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
    idx AS (SELECT doc_id, ws, unnest(generate_series(1, len(ws) - 2)) AS i
            FROM w WHERE len(ws) >= 3),
    sh AS (SELECT DISTINCT doc_id,
                  ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] AS shingle
           FROM idx),
    sp AS (SELECT doc_id,
                  CASE WHEN (doc_id * 16807) % 100000 < 10000
                       THEN 'held' ELSE 'train' END AS split
           FROM documents),
    ev AS (SELECT DISTINCT shingle
           FROM sh JOIN sp USING (doc_id) WHERE split = 'held'),
    hits AS (SELECT sh.doc_id, count(*) AS n_shared
             FROM sh JOIN sp USING (doc_id)
             JOIN ev USING (shingle)
             WHERE sp.split = 'train'
             GROUP BY 1)
    SELECT s.doc_id,
           coalesce(n_shared, 0) AS n_shared,
           coalesce(n_shared, 0) > 0 AS contaminated
    FROM sp s LEFT JOIN hits USING (doc_id)
    WHERE s.split = 'train'
    """


def _o_bloom_decontaminate() -> str:
    from cityfinder_spark.operators.dedup import BLOOM_K, BLOOM_M

    h1 = _DUCK_MD5_INT.format(x="shingle")
    h2 = _DUCK_MD5_INT.format(x="'#' || shingle")
    return f"""
    WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
    idx AS (SELECT doc_id, ws, unnest(generate_series(1, len(ws) - 2)) AS i
            FROM w WHERE len(ws) >= 3),
    sh AS (SELECT DISTINCT doc_id,
                  ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] AS shingle
           FROM idx),
    sp AS (SELECT doc_id,
                  CASE WHEN (doc_id * 16807) % 100000 < 10000
                       THEN 'held' ELSE 'train' END AS split
           FROM documents),
    js AS (SELECT unnest(generate_series(0, {BLOOM_K - 1})) AS jj),
    ev AS (SELECT DISTINCT shingle
           FROM sh JOIN sp USING (doc_id) WHERE split = 'held'),
    evh AS (SELECT {h1} AS h1, {h2} AS h2 FROM ev),
    evpos AS (SELECT DISTINCT (h1 + jj * h2) % {BLOOM_M} AS pos
              FROM evh CROSS JOIN js),
    trh AS (SELECT sh.doc_id, sh.shingle, {h1} AS h1, {h2} AS h2
            FROM sh JOIN sp USING (doc_id) WHERE sp.split = 'train'),
    trpos AS (SELECT doc_id, shingle, (h1 + jj * h2) % {BLOOM_M} AS pos
              FROM trh CROSS JOIN js),
    hit AS (SELECT doc_id, shingle FROM trpos JOIN evpos USING (pos)
            GROUP BY doc_id, shingle HAVING count(*) = {BLOOM_K}),
    hits AS (SELECT doc_id, count(*) AS n_flagged FROM hit GROUP BY 1)
    SELECT s.doc_id,
           coalesce(n_flagged, 0) AS n_flagged,
           coalesce(n_flagged, 0) > 0 AS contaminated
    FROM sp s LEFT JOIN hits USING (doc_id)
    WHERE s.split = 'train'
    """


def _o_corpus_split() -> str:
    return """
    SELECT doc_id,
           CASE WHEN (doc_id * 16807) % 100000 < 5000 THEN 'val'
                WHEN (doc_id * 16807) % 100000 < 10000 THEN 'test'
                ELSE 'train' END AS split
    FROM documents
    """


def _o_length_outliers() -> str:
    zsq = 4  # z=2 in q_length_outliers
    zexpr = sc.round6_sql("cast(nxs AS DOUBLE) / sqrt(cast(den AS DOUBLE))")
    return f"""
    WITH t AS (SELECT doc_id, source,
                      cast(len(string_split(text, ' ')) AS HUGEINT) AS x
               FROM documents),
    m AS (SELECT source, cast(count(*) AS HUGEINT) AS n,
                 sum(x) AS s, sum(x * x) AS ss
          FROM t GROUP BY 1),
    j AS (SELECT doc_id, source, x,
                 n * x - s AS nxs, n * ss - s * s AS den
          FROM t JOIN m USING (source))
    SELECT doc_id, source, cast(x AS BIGINT) AS n_tokens,
           CASE WHEN den > 0 THEN {zexpr} ELSE 0.0 END AS z_score,
           nxs * nxs > {zsq} * den AS is_outlier
    FROM j
    """


def _o_text_quality() -> str:
    stops = ", ".join(f"'{s}'" for s in LANG_STOPWORDS["en"])
    return f"""
    WITH t AS (SELECT doc_id, string_split(text, ' ') AS w, length(text) AS lc
               FROM documents),
         s AS (SELECT doc_id,
                      len(w) AS n,
                      len(list_filter(w, x -> x IN ({stops}))) AS hits,
                      len(list_distinct(w)) AS uniq,
                      lc
               FROM t)
    SELECT doc_id,
           {sc.round6_sql("hits / n")} AS stopword_ratio,
           {sc.round6_sql("uniq / n")} AS uniq_ratio,
           {sc.round6_sql("(lc - (n - 1)) / n")} AS avg_word_len,
           {sc.round6_sql(
               "0.4 * (hits / n) + 0.3 * (uniq / n)"
               " + 0.3 * least(((lc - (n - 1)) / n) / 10.0, 1.0)"
           )} AS quality
    FROM s
    """


def _o_lang_id() -> str:
    score_cols = []
    for lang in sorted(LANG_STOPWORDS):
        stops = ", ".join(f"'{s}'" for s in LANG_STOPWORDS[lang])
        score_cols.append(
            f"len(list_filter(w, x -> x IN ({stops}))) AS score_{lang}"
        )
    langs = sorted(LANG_STOPWORDS)
    # earliest-max tie-break, same as the Spark fold (strict > replaces)
    cases = []
    for i, lang in enumerate(langs[:-1]):
        conds = " AND ".join(
            f"score_{lang} >= score_{other}" for other in langs[i + 1:]
        )
        cases.append(f"WHEN {conds} THEN '{lang}'")
    case_sql = "CASE " + " ".join(cases) + f" ELSE '{langs[-1]}' END"
    return f"""
    WITH t AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
         s AS (SELECT doc_id, {", ".join(score_cols)} FROM t)
    SELECT doc_id, {", ".join("score_" + l for l in langs)},
           {case_sql} AS lang_pred
    FROM s
    """


def _o_corpus_pipeline() -> str:
    en_stops = ", ".join(f"'{s}'" for s in LANG_STOPWORDS["en"])
    langs = sorted(LANG_STOPWORDS)
    score_cols = []
    for lang in langs:
        stops = ", ".join(f"'{s}'" for s in LANG_STOPWORDS[lang])
        score_cols.append(
            f"len(list_filter(w, x -> x IN ({stops}))) AS score_{lang}"
        )
    cases = []
    for i, lang in enumerate(langs[:-1]):
        conds = " AND ".join(
            f"score_{lang} >= score_{other}" for other in langs[i + 1:]
        )
        cases.append(f"WHEN {conds} THEN '{lang}'")
    case_sql = "CASE " + " ".join(cases) + f" ELSE '{langs[-1]}' END"
    quality = sc.round6_sql(
        "0.4 * (hits / n) + 0.3 * (uniq / n)"
        " + 0.3 * least(((lc - (n - 1)) / n) / 10.0, 1.0)"
    )
    return f"""
    WITH t AS (SELECT doc_id, source, text, string_split(text, ' ') AS w,
                      length(text) AS lc
               FROM documents),
    s AS (SELECT doc_id, source, text, lc, len(w) AS n,
                 len(list_filter(w, x -> x IN ({en_stops}))) AS hits,
                 len(list_distinct(w)) AS uniq,
                 {", ".join(score_cols)}
          FROM t),
    q AS (SELECT doc_id, source, text,
                 {quality} AS quality, {case_sql} AS lang_pred
          FROM s),
    d AS (SELECT *,
                 (doc_id <> min(doc_id) OVER (PARTITION BY substr(text, 1, 80)))
                   AS is_dup
          FROM q),
    k AS (SELECT * FROM d
          WHERE quality >= {CURATE_QUALITY_MIN} AND lang_pred = 'en'
            AND NOT is_dup
            AND (doc_id * 48271) % 100000 < {int(CURATE_RATE * 100000)})
    SELECT source, count(*) AS n_docs,
           cast(sum(len(string_split(text, ' '))) AS BIGINT) AS total_tokens,
           cast(sum(cast(floor((length(text) + 3) / 4.0) as bigint)) AS BIGINT)
             AS total_bpe
    FROM k GROUP BY source
    """


def _o_fingerprint() -> str:
    h = _DUCK_MD5_INT.format(x="substr(text, i, 8)")
    return f"""
    WITH idx AS (
      SELECT doc_id, text,
             unnest(generate_series(1, greatest(length(text) - 7, 1), 16)) AS i
      FROM documents)
    SELECT doc_id, min({h}) AS fingerprint
    FROM idx GROUP BY doc_id
    """


def _o_ngram_jaccard() -> str:
    return f"""
    WITH {_SHINGLES_CTE}
    SELECT doc_a, doc_b, jaccard FROM jac WHERE jaccard >= {JACCARD_T}
    """


def _minhash_pairs_ctes() -> str:
    """Shared CTE chain ending in `pr` = the verified MinHash-LSH pair
    set (used by the minhash_lsh oracle and the dedup_resolve oracle)."""
    funcs_values = ", ".join(f"({k}, {a}, {b})" for k, a, b in MINHASH_FUNCS)
    x = _DUCK_MD5_INT.format(x="shingle")
    return f"""{_SHINGLES_CTE},
    h AS (SELECT doc_id, {x} AS x FROM sh),
    funcs AS (SELECT * FROM (VALUES {funcs_values}) f(k, a, b)),
    sig AS (SELECT doc_id, k, min((a * x + b) % {MINHASH_P}) AS mh
            FROM h CROSS JOIN funcs GROUP BY 1, 2),
    bands AS (SELECT doc_id, cast(floor(k / 4.0) as int) AS band,
                     string_agg(cast(mh as string), ',' ORDER BY k) AS bsig
              FROM sig GROUP BY 1, 2),
    cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
             FROM bands a JOIN bands b USING (band, bsig)
             WHERE a.doc_id < b.doc_id),
    pr AS (SELECT j.doc_a, j.doc_b, j.jaccard
           FROM jac j JOIN cand USING (doc_a, doc_b)
           WHERE j.jaccard >= {JACCARD_T})"""


def _o_minhash_estimate() -> str:
    from cityfinder_spark.operators.dedup import MINHASH_M

    est = sc.round6_sql(f"agree / {float(MINHASH_M)}")
    return f"""
    WITH {_minhash_pairs_ctes()},
    ag AS (SELECT c.doc_a, c.doc_b,
                  sum(CASE WHEN sa.mh = sb.mh THEN 1 ELSE 0 END) AS agree
           FROM cand c
           JOIN sig sa ON sa.doc_id = c.doc_a
           JOIN sig sb ON sb.doc_id = c.doc_b AND sb.k = sa.k
           GROUP BY 1, 2)
    SELECT doc_a, doc_b, {est} AS est_jaccard
    FROM ag WHERE {est} >= {JACCARD_T}
    """


def _o_minhash_lsh() -> str:
    return f"""
    WITH {_minhash_pairs_ctes()}
    SELECT doc_a, doc_b, jaccard FROM pr
    """


def _o_simhash() -> str:
    bits_values = ", ".join(f"({b}, {1 << b}, {1 << (b + 1)})" for b in range(16))
    x = _DUCK_MD5_INT.format(x="tok")
    return f"""
    WITH toks AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok
                  FROM documents),
         h AS (SELECT doc_id, {x} AS x FROM toks),
         bits AS (SELECT * FROM (VALUES {bits_values}) bt(b, lo, hi)),
         bal AS (SELECT doc_id, b, lo,
                        sum(CASE WHEN (x % hi) >= lo THEN 1 ELSE -1 END) AS bal
                 FROM h CROSS JOIN bits GROUP BY 1, 2, 3)
    SELECT doc_id,
           cast(sum(CASE WHEN bal > 0 THEN lo ELSE 0 END) AS BIGINT) AS simhash
    FROM bal GROUP BY 1
    """


_DUCK_EMB_CTE = """
    e AS (SELECT vec_id, list_transform(embedding, x -> cast(x as double)) AS v
          FROM embeddings),
    n AS (SELECT vec_id, v,
                 sqrt(list_sum(list_transform(v, x -> x * x))) AS nrm
          FROM e)
"""

_DUCK_DOT = (
    "list_sum(list_transform(generate_series(1, len(a.v)), i -> a.v[i] * b.v[i]))"
)


def _o_cosine_topk() -> str:
    return f"""
    WITH {_DUCK_EMB_CTE},
    pairs AS (
      SELECT a.vec_id AS vec_id, b.vec_id AS neighbor_id,
             {sc.round6_sql(f"{_DUCK_DOT} / (a.nrm * b.nrm)")} AS cos_sim
      FROM n a CROSS JOIN n b WHERE a.vec_id <> b.vec_id),
    ranked AS (
      SELECT *, row_number() OVER (
        PARTITION BY vec_id ORDER BY cos_sim DESC, neighbor_id ASC) AS rank
      FROM pairs)
    SELECT vec_id, neighbor_id, cos_sim, rank FROM ranked WHERE rank <= 5
    """


def _o_cosine_dedup() -> str:
    return f"""
    WITH {_DUCK_EMB_CTE}
    SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
           {sc.round6_sql(f"{_DUCK_DOT} / (a.nrm * b.nrm)")} AS cos_sim
    FROM n a CROSS JOIN n b
    WHERE a.vec_id < b.vec_id
      AND {sc.round6_sql(f"{_DUCK_DOT} / (a.nrm * b.nrm)")} >= {COS_DEDUP_T}
    """


_DUCK_LINES = """
      SELECT string_split(line, chr(9)) AS f
      FROM read_csv('{path}', delim=chr(1), header=false,
                    quote='', escape='', columns={{'line': 'VARCHAR'}})
"""


def _o_geonames_scan() -> str:
    """Whole-line read + the SAME split/filter sequence as the Spark
    scan (chr(1) never occurs, so each line is one column; string_split
    mirrors F.split exactly, including ['']-for-empty). lat/lon are
    parsed from identical text by both engines' correctly-rounded
    strtod, so raw doubles hash-match with no rounding."""
    lines = _DUCK_LINES.format(path=f"{_REF_TESTDATA}/allCountries.txt")
    return f"""
    WITH raw AS ({lines})
    SELECT try_cast(f[1] AS BIGINT) AS city_id, f[2] AS name,
           cast(len(string_split(f[4], ',')) AS INT) AS n_alt,
           try_cast(f[5] AS DOUBLE) AS lat,
           try_cast(f[6] AS DOUBLE) AS lon,
           f[9] AS country
    FROM raw
    WHERE len(f) >= 19 AND try_cast(f[5] AS DOUBLE) IS NOT NULL
      AND try_cast(f[6] AS DOUBLE) IS NOT NULL
    """


def _o_postal_scan() -> str:
    lines = _DUCK_LINES.format(path=f"{_REF_TESTDATA}/zipCodes.txt")
    return f"""
    WITH raw AS ({lines})
    SELECT f[1] AS country_code, f[2] AS postal_code, f[3] AS place_name,
           f[4] AS admin_name1, f[5] AS admin_code1,
           f[6] AS admin_name2, f[7] AS admin_code2,
           f[8] AS admin_name3, f[9] AS admin_code3,
           coalesce(try_cast(f[10] AS DOUBLE), 0.0) AS lat,
           coalesce(try_cast(f[11] AS DOUBLE), 0.0) AS lon,
           coalesce(try_cast(f[12] AS INT), 0) AS accuracy
    FROM raw
    """


# ---------------- media oracles: DuckDB splitmix64 replay ----------------
#
# The fake codec's payloads are pure functions of the row id: pixel j of
# image i is splitmix64(2*i + j) & 0xFF (codecs/fakeimage.py:_mix64,
# gen_pixels). splitmix64 is replayed bit-exactly in
# DuckDB with HUGEINT modular arithmetic (64x64-bit multiply decomposed
# into 32-bit halves so no intermediate exceeds 2^97), which makes every
# media stat with exact integer arithmetic independently recomputable —
# the oracle never sees the binary payloads at all.


def _duck_mix64(src: str) -> str:
    """CTE chain: splitmix64 over every row of `src` (must expose a
    HUGEINT column x0); terminal CTE `mx` = all columns of src + z."""

    def mul64(m: int) -> str:
        return (
            f"((z % 4294967296) * {m} + (((z // 4294967296) * {m})"
            f" % 4294967296) * 4294967296) % 18446744073709551616"
        )

    return f"""
    m1 AS (SELECT *, (x0 + 11400714819323198485) % 18446744073709551616 AS z
           FROM {src}),
    m2 AS (SELECT * EXCLUDE (z), xor(z, z // 1073741824) AS z FROM m1),
    m3 AS (SELECT * EXCLUDE (z), {mul64(13787848793156543929)} AS z FROM m2),
    m4 AS (SELECT * EXCLUDE (z), xor(z, z // 134217728) AS z FROM m3),
    m5 AS (SELECT * EXCLUDE (z), {mul64(10723151780598845931)} AS z FROM m4),
    mx AS (SELECT * EXCLUDE (z), xor(z, z // 2147483648) AS z FROM m5)
    """


def _duck_images_cte(divisor: int) -> str:
    """imgs CTE: one row per generated image (datagen/images.py:_row —
    w = 8+(i*13)%57, h = 8+(i*7)%57, fmt alternates), n = max(200,
    orders/divisor), plus the flat pixel CTE px with x0 = 2*i + j."""
    return f"""
    imgs AS (
      SELECT cast(i AS HUGEINT) AS i,
             8 + (i * 13) % 57 AS w, 8 + (i * 7) % 57 AS h,
             CASE WHEN i % 2 = 0 THEN 'png' ELSE 'jpeg' END AS fmt
      FROM generate_series(0, 999999) g(i)
      WHERE i < greatest(200, (SELECT count(*) FROM orders) // {divisor})),
    pj AS (SELECT *, unnest(generate_series(0, w * h * 3 - 1)) AS j FROM imgs),
    px AS (SELECT *, cast(2 * i + j AS HUGEINT) AS x0 FROM pj)
    """


# decoded byte value of pixel j: raw for png, low-2-bits-dropped for jpeg
_DUCK_IMG_BYTE = (
    "CASE WHEN fmt = 'png' THEN cast(z % 256 AS BIGINT)"
    " ELSE cast(z % 256 AS BIGINT) & 252 END"
)

_DUCK_IMG_ID = "'img' || lpad(cast(i AS VARCHAR), 12, '0')"

# 8x8 block index of pixel byte j in a (h, w, 3) image: the exact
# inverse of the boundary table ys[i] = (i*h)//8 used by phash64
# (codecs/fakeimage.py) — y = j // (3w), x = (j // 3) % w
_DUCK_IMG_BLK = (
    "least(7, (8 * (j // (3 * w)) + 7) // h) * 8"
    " + least(7, (8 * ((j // 3) % w) + 7) // w)"
)

# blocks CTE (gid, blk, s_blk, c_blk) -> one signed-BIGINT phash per
# gid; bit b set iff s_blk * c_tot > s_tot * c_blk (the integer-exact
# cross-multiplication phash64 uses — see codecs/fakeimage.py)
_DUCK_PHASH_FROM_BLKS = """
    tot AS (SELECT gid, sum(s_blk) AS s_tot, sum(c_blk) AS c_tot
            FROM blks GROUP BY gid),
    phu AS (
      SELECT blks.gid,
             sum(CASE WHEN s_blk * c_tot > s_tot * c_blk
                 THEN (cast(1 AS HUGEINT) << cast(blk AS INT))
                 ELSE 0 END) AS ph
      FROM blks JOIN tot ON blks.gid = tot.gid GROUP BY blks.gid),
    ph AS (
      SELECT gid,
             cast(CASE WHEN ph >= 9223372036854775808
                  THEN ph - 18446744073709551616 ELSE ph END
                  AS BIGINT) AS phash
      FROM phu)
"""


def _o_image_decode_stats() -> str:
    return f"""
    WITH {_duck_images_cte(20)},
    {_duck_mix64("px")},
    pxb AS (SELECT i, fmt, w, h, {_DUCK_IMG_BYTE} AS b,
                   {_DUCK_IMG_BLK} AS blk
            FROM mx),
    blks AS (SELECT i AS gid, any_value(fmt) AS fmt, any_value(w) AS w,
                    any_value(h) AS h, blk,
                    sum(b) AS s_blk, count(*) AS c_blk
             FROM pxb GROUP BY i, blk),
    {_DUCK_PHASH_FROM_BLKS},
    stats AS (SELECT gid AS i, any_value(fmt) AS fmt, any_value(w) AS w,
                     any_value(h) AS h,
                     cast(sum(s_blk) AS DOUBLE) / sum(c_blk) AS mean_pixel
              FROM blks GROUP BY gid)
    SELECT {_DUCK_IMG_ID} AS image_id, fmt,
           cast(w AS INT) AS w, cast(h AS INT) AS h, mean_pixel, phash
    FROM stats JOIN ph ON stats.i = ph.gid
    """


def _o_phash_near_dup() -> str:
    """Replays q_phash_near_dup closed-form: base population + the
    perturbed 'dup' population (XOR 68 into the first 96 decoded
    bytes of every 5th image — after lossy quantization, exactly as
    decode -> perturb -> re-encode produces), phash64 per image in
    SQL, then all-pairs popcount at max_dist=3 (the engine's banded
    join is exact by pigeonhole, so brute force is the right oracle).
    """
    return f"""
    WITH {_duck_images_cte(20)},
    {_duck_mix64("px")},
    base AS (SELECT {_DUCK_IMG_ID} AS gid, i, w, h, j,
                    {_DUCK_IMG_BYTE} AS b
             FROM mx),
    allb AS (
      SELECT gid, w, h, j, b FROM base
      UNION ALL
      SELECT 'dup' || lpad(cast(i AS VARCHAR), 12, '0') AS gid, w, h, j,
             CASE WHEN j < 96 THEN xor(b, 68) ELSE b END AS b
      FROM base WHERE i % 5 = 0),
    blks AS (SELECT gid, {_DUCK_IMG_BLK} AS blk,
                    sum(b) AS s_blk, count(*) AS c_blk
             FROM allb GROUP BY gid, {_DUCK_IMG_BLK}),
    {_DUCK_PHASH_FROM_BLKS}
    SELECT a.gid AS img_a, b.gid AS img_b,
           cast(bit_count(xor(a.phash, b.phash)) AS INT) AS hamming
    FROM ph a JOIN ph b ON a.gid < b.gid
    WHERE bit_count(xor(a.phash, b.phash)) <= 3
    """


def _o_image_sharpness() -> str:
    from cityfinder_spark.operators.images_ops import SHARP_LAP_T

    mean = sc.round6_sql("lap_energy / greatest(n_interior, 1)")
    return f"""
    WITH {_duck_images_cte(20)},
    {_duck_mix64("px")},
    pxv AS (SELECT i, w, h, j, {_DUCK_IMG_BYTE} AS b FROM mx),
    ctr AS (SELECT i, w, h, j, b FROM pxv
            WHERE j % 3 = 0
              AND (j // 3) % w BETWEEN 1 AND w - 2
              AND j // (3 * w) BETWEEN 1 AND h - 2),
    lap AS (SELECT c.i, 4 * c.b - l.b - r.b - u.b - d.b AS lp
            FROM ctr c
            JOIN pxv l ON l.i = c.i AND l.j = c.j - 3
            JOIN pxv r ON r.i = c.i AND r.j = c.j + 3
            JOIN pxv u ON u.i = c.i AND u.j = c.j - 3 * c.w
            JOIN pxv d ON d.i = c.i AND d.j = c.j + 3 * c.w),
    agg AS (SELECT i, count(*) AS n_interior,
                   cast(sum(lp * lp) AS BIGINT) AS lap_energy
            FROM lap GROUP BY 1)
    SELECT {_DUCK_IMG_ID} AS image_id, n_interior, lap_energy,
           {mean} AS sharpness,
           n_interior > 0 AND lap_energy >= {SHARP_LAP_T} * n_interior
             AS is_sharp
    FROM agg JOIN imgs USING (i)
    """


def _o_image_resize() -> str:
    """Replays resize_half + re-encode + decode_stats: crop to even
    dims, 2x2 box mean with uint8 truncation (= exact integer sum//4),
    re-quantize for jpeg, then mean over the resized pixels."""
    return f"""
    WITH {_duck_images_cte(20)},
    {_duck_mix64("px")},
    coords AS (
      SELECT i, fmt, w // 2 AS w2, h // 2 AS h2,
             (j // 3) % w AS x, j // (3 * w) AS y, j % 3 AS c,
             {_DUCK_IMG_BYTE} AS b
      FROM mx),
    blocks AS (
      SELECT i, fmt, w2, h2, y // 2 AS y2, x // 2 AS x2, c,
             sum(b) // 4 AS ds
      FROM coords WHERE y < 2 * h2 AND x < 2 * w2
      GROUP BY i, fmt, w2, h2, y // 2, x // 2, c)
    SELECT {_DUCK_IMG_ID} AS image_id, fmt,
           cast(w2 AS INT) AS w, cast(h2 AS INT) AS h,
           cast(sum(CASE WHEN fmt = 'png' THEN ds ELSE ds & 252 END) AS DOUBLE)
             / (w2 * h2 * 3) AS mean_pixel
    FROM blocks GROUP BY i, fmt, w2, h2
    """


def _o_image_pipeline() -> str:
    """Verdict replay (datagen is valid by construction, so the ok
    flags are all true and the oracle proves the engine AGREES): png
    psnr = 999 (byte-exact, inf capped); jpeg psnr from the exact
    quantization error (byte & 3), floor-rounded after the libm
    log10 on both sides."""
    return f"""
    WITH {_duck_images_cte(10)},
    {_duck_mix64("px")},
    errs AS (
      SELECT i, fmt,
             cast(sum((cast(z % 256 AS BIGINT) % 4)
                      * (cast(z % 256 AS BIGINT) % 4)) AS DOUBLE)
               / (w * h * 3) AS mse
      FROM mx GROUP BY i, fmt, w, h)
    SELECT {_DUCK_IMG_ID} AS image_id,
           CASE WHEN fmt = 'png' THEN 999.0
                ELSE {sc.round_sql("10.0 * log10(65025.0 / mse)", sc.ROUND_DIGITS)}
           END AS psnr_db,
           true AS psnr_ok, true AS caption_ok, true AS phash_ok
    FROM errs
    """


def _o_video_frame_sample() -> str:
    return """
    WITH vids AS (
      SELECT i, 3 + i % 4 AS nf
      FROM generate_series(0, 999999) g(i)
      WHERE i < greatest(100, (SELECT count(*) FROM orders) // 50)),
    frames AS (
      SELECT 'vid' || lpad(cast(i AS VARCHAR), 8, '0') AS video_id,
             unnest(generate_series(0, nf - 1, 2)) AS f
      FROM vids)
    SELECT video_id, cast(f AS INT) AS frame_idx FROM frames
    """


def _o_ann_lsh() -> str:
    """Exact DuckDB replay of lsh_bucket_topk(k=5) at its shipped
    defaults (n_planes=3, n_tables=16 — recall@5 >= 0.98 on the
    contract embeddings): the md5-derived ±1 sign family (parity of
    int(md5[:4],16) == parity of the 4th hex digit), per-table bucket
    signatures via the SAME left fold over dimensions as
    LSHIndex.signatures (list_sum is 0.0 + v1 + v2 + ... — identical
    IEEE add sequence), candidate pairs sharing any (table, bucket),
    exact rounded-cosine refinement and rank<=k. Dim is 64 on every
    driver sf (static oracle strings can't introspect)."""
    return f"""
    WITH {_DUCK_EMB_CTE},
    planes AS (
      SELECT t.t, p.p, t.t * 1000 + p.p AS pid
      FROM generate_series(0, 15) t(t) CROSS JOIN generate_series(0, 2) p(p)),
    signs AS (
      SELECT pid, t, p,
             list(CASE WHEN strpos('13579bdf',
                    substr(md5(concat('plane', pid, '_', i)), 4, 1)) > 0
                  THEN 1.0 ELSE -1.0 END ORDER BY i) AS sv
      FROM planes CROSS JOIN generate_series(1, 64) d(i)
      GROUP BY pid, t, p),
    proj AS (
      SELECT n.vec_id, s.t, s.p,
             list_sum(list_transform(generate_series(1, len(n.v)),
                                     i -> n.v[i] * s.sv[i])) AS pr
      FROM n CROSS JOIN signs s),
    sigs AS (
      SELECT vec_id, t,
             cast(sum(CASE WHEN pr > 0 THEN (1 << p) ELSE 0 END) AS int) AS bkt
      FROM proj GROUP BY vec_id, t),
    cand AS (
      SELECT DISTINCT s1.vec_id AS vec_id, s2.vec_id AS neighbor_id
      FROM sigs s1 JOIN sigs s2 ON s1.t = s2.t AND s1.bkt = s2.bkt
      WHERE s1.vec_id <> s2.vec_id),
    pairs AS (
      SELECT c.vec_id, c.neighbor_id,
             {sc.round6_sql(f"{_DUCK_DOT} / (a.nrm * b.nrm)")} AS cos_sim
      FROM cand c
      JOIN n a ON a.vec_id = c.vec_id
      JOIN n b ON b.vec_id = c.neighbor_id),
    ranked AS (
      SELECT *, row_number() OVER (
        PARTITION BY vec_id ORDER BY cos_sim DESC, neighbor_id ASC) AS rank
      FROM pairs)
    SELECT vec_id, neighbor_id, cos_sim, rank FROM ranked WHERE rank <= 5
    """


def _o_cosine_search() -> str:
    """Asymmetric brute-force replay: queries = vec_id % 5 = 0 (id
    renamed q_id), corpus = the rest; same fold/rounding/tie rules as
    _o_cosine_topk."""
    return f"""
    WITH {_DUCK_EMB_CTE},
    q AS (SELECT vec_id AS q_id, v, nrm FROM n WHERE vec_id % 5 = 0),
    b AS (SELECT vec_id, v, nrm FROM n WHERE vec_id % 5 <> 0),
    pairs AS (
      SELECT a.q_id, b.vec_id AS neighbor_id,
             {sc.round6_sql(f"{_DUCK_DOT} / (a.nrm * b.nrm)")} AS cos_sim
      FROM q a CROSS JOIN b),
    ranked AS (
      SELECT *, row_number() OVER (
        PARTITION BY q_id ORDER BY cos_sim DESC, neighbor_id ASC) AS rank
      FROM pairs)
    SELECT q_id, neighbor_id, cos_sim, rank FROM ranked WHERE rank <= 5
    """


def _o_ann_search() -> str:
    """Asymmetric LSH replay (lsh_search(k=5) at shipped defaults
    n_planes=3, n_tables=16): the same md5 sign family / left-fold
    signatures as _o_ann_lsh, computed for BOTH sides; candidates =
    (query, corpus) pairs sharing any (table, bucket); exact
    rounded-cosine refinement, rank<=5 per q_id."""
    return f"""
    WITH {_DUCK_EMB_CTE},
    planes AS (
      SELECT t.t, p.p, t.t * 1000 + p.p AS pid
      FROM generate_series(0, 15) t(t) CROSS JOIN generate_series(0, 2) p(p)),
    signs AS (
      SELECT pid, t, p,
             list(CASE WHEN strpos('13579bdf',
                    substr(md5(concat('plane', pid, '_', i)), 4, 1)) > 0
                  THEN 1.0 ELSE -1.0 END ORDER BY i) AS sv
      FROM planes CROSS JOIN generate_series(1, 64) d(i)
      GROUP BY pid, t, p),
    proj AS (
      SELECT n.vec_id, s.t, s.p,
             list_sum(list_transform(generate_series(1, len(n.v)),
                                     i -> n.v[i] * s.sv[i])) AS pr
      FROM n CROSS JOIN signs s),
    sigs AS (
      SELECT vec_id, t,
             cast(sum(CASE WHEN pr > 0 THEN (1 << p) ELSE 0 END) AS int) AS bkt
      FROM proj GROUP BY vec_id, t),
    cand AS (
      SELECT DISTINCT sq.vec_id AS q_id, sb.vec_id AS neighbor_id
      FROM sigs sq JOIN sigs sb ON sq.t = sb.t AND sq.bkt = sb.bkt
      WHERE sq.vec_id % 5 = 0 AND sb.vec_id % 5 <> 0),
    pairs AS (
      SELECT c.q_id, c.neighbor_id,
             {sc.round6_sql(f"{_DUCK_DOT} / (a.nrm * b.nrm)")} AS cos_sim
      FROM cand c
      JOIN n a ON a.vec_id = c.q_id
      JOIN n b ON b.vec_id = c.neighbor_id),
    ranked AS (
      SELECT *, row_number() OVER (
        PARTITION BY q_id ORDER BY cos_sim DESC, neighbor_id ASC) AS rank
      FROM pairs)
    SELECT q_id, neighbor_id, cos_sim, rank FROM ranked WHERE rank <= 5
    """


def _o_ann_ivf() -> str:
    """Exact DuckDB replay of ivf_topk(k=5) at its shipped default
    (n_probe=8 — recall@5 >= 0.9 on the contract embeddings' 10
    lists): per-label centroids as the id-ascending left-fold mean
    (list(v ORDER BY vec_id) then per-dimension list_sum ==
    np.bincount's input-order accumulation), ROUNDED centroid cosine
    for both probe selection (top n_probe, ties label asc) and top-1
    list membership, exact rounded-cosine refinement and rank<=k."""
    return f"""
    WITH {_DUCK_EMB_CTE},
    memb AS (
      SELECT n.vec_id, n.v, n.nrm, emb.label
      FROM n JOIN embeddings emb ON emb.vec_id = n.vec_id),
    cents AS (
      SELECT label, list(v ORDER BY vec_id) AS vs,
             cast(count(*) AS double) AS cnt
      FROM memb GROUP BY label),
    cvec AS (
      SELECT label,
             list_transform(generate_series(1, 64),
                d -> list_sum(list_transform(vs, w -> w[d])) / cnt) AS cv
      FROM cents),
    cn AS (
      SELECT label, cv,
             sqrt(list_sum(list_transform(cv, x -> x * x))) AS cnrm
      FROM cvec),
    assign AS (
      SELECT m.vec_id, c.label AS list_id,
             {sc.round6_sql(
                 "list_sum(list_transform(generate_series(1, len(m.v)),"
                 " i -> m.v[i] * c.cv[i])) / (m.nrm * c.cnrm)"
             )} AS csim
      FROM memb m CROSS JOIN cn c),
    rankedp AS (
      SELECT *, row_number() OVER (
        PARTITION BY vec_id ORDER BY csim DESC, list_id ASC) AS pr
      FROM assign),
    probes AS (SELECT vec_id, list_id FROM rankedp WHERE pr <= 8),
    lists AS (SELECT vec_id AS neighbor_id, list_id FROM rankedp WHERE pr = 1),
    cand AS (
      SELECT p.vec_id, l.neighbor_id
      FROM probes p JOIN lists l USING (list_id)
      WHERE p.vec_id <> l.neighbor_id),
    pairs AS (
      SELECT c.vec_id, c.neighbor_id,
             {sc.round6_sql(f"{_DUCK_DOT} / (a.nrm * b.nrm)")} AS cos_sim
      FROM cand c
      JOIN n a ON a.vec_id = c.vec_id
      JOIN n b ON b.vec_id = c.neighbor_id),
    ranked AS (
      SELECT *, row_number() OVER (
        PARTITION BY vec_id ORDER BY cos_sim DESC, neighbor_id ASC) AS rank
      FROM pairs)
    SELECT vec_id, neighbor_id, cos_sim, rank FROM ranked WHERE rank <= 5
    """


def _o_ann_search_ivf() -> str:
    """Asymmetric IVF replay (ivf_search(k=5, n_probe=8)): centroids,
    id-ascending fold means, and top-1 inverted lists come from the
    CORPUS side only (vec_id % 5 <> 0); each QUERY row (vec_id % 5 = 0)
    probes its 8 nearest lists by rounded centroid cosine (ties label
    asc); exact rounded-cosine refinement, rank<=5 per q_id, no
    self-exclusion."""
    memb = """
    memb AS (
      SELECT n.vec_id, n.v, n.nrm, emb.label
      FROM n JOIN embeddings emb ON emb.vec_id = n.vec_id
      WHERE n.vec_id % 5 <> 0)"""
    return f"""
    WITH {_DUCK_EMB_CTE},
    {memb},
    {_ANN_SEARCH_IVF_TAIL}
    """


def _o_ann_search_trained() -> str:
    """ivf_search with the KMEANS-TRAINED coarse quantizer: the corpus
    rows' list labels are their kmeans_assign cluster (replayed via
    the fixed-point _o_kmeans_cte chain + the same rounded-cosine /
    ties-asc assignment convention as _o_kmeans_assign); everything
    downstream (member-mean list centroids, probes, refinement) is the
    shared _ANN_SEARCH_IVF_TAIL."""
    dot = (
        "list_sum(list_transform(generate_series(1, 64),"
        " i -> m.v[i] * c.cv[i]))"
    )
    return f"""
    WITH {_DUCK_EMB_CTE},
    {_o_kmeans_cte(KMEANS_K, KMEANS_ITER, 64)},
    cnK AS (
      SELECT cluster_id, cv,
             sqrt(list_sum(list_transform(cv, x -> x * x))) AS cnrm
      FROM c{KMEANS_ITER}),
    klab AS (
      SELECT m.vec_id, c.cluster_id, row_number() OVER (
        PARTITION BY m.vec_id
        ORDER BY {sc.round6_sql(f"{dot} / (m.nrm * c.cnrm)")} DESC,
                 c.cluster_id ASC) AS pr
      FROM n m CROSS JOIN cnK c),
    memb AS (
      SELECT n.vec_id, n.v, n.nrm, klab.cluster_id AS label
      FROM n JOIN klab ON klab.vec_id = n.vec_id AND klab.pr = 1
      WHERE n.vec_id % 5 <> 0),
    {_ANN_SEARCH_IVF_TAIL}
    """


_ANN_SEARCH_IVF_TAIL = f"""
    q AS (SELECT vec_id AS q_id, v, nrm FROM n WHERE vec_id % 5 = 0),
    cents AS (
      SELECT label, list(v ORDER BY vec_id) AS vs,
             cast(count(*) AS double) AS cnt
      FROM memb GROUP BY label),
    cvec AS (
      SELECT label,
             list_transform(generate_series(1, 64),
                d -> list_sum(list_transform(vs, w -> w[d])) / cnt) AS cv
      FROM cents),
    cn AS (
      SELECT label, cv,
             sqrt(list_sum(list_transform(cv, x -> x * x))) AS cnrm
      FROM cvec),
    assign_b AS (
      SELECT m.vec_id, c.label AS list_id,
             {sc.round6_sql(
                 "list_sum(list_transform(generate_series(1, len(m.v)),"
                 " i -> m.v[i] * c.cv[i])) / (m.nrm * c.cnrm)"
             )} AS csim
      FROM memb m CROSS JOIN cn c),
    lists AS (
      SELECT vec_id AS neighbor_id, list_id FROM (
        SELECT *, row_number() OVER (
          PARTITION BY vec_id ORDER BY csim DESC, list_id ASC) AS pr
        FROM assign_b) WHERE pr = 1),
    assign_q AS (
      SELECT qq.q_id, c.label AS list_id,
             {sc.round6_sql(
                 "list_sum(list_transform(generate_series(1, len(qq.v)),"
                 " i -> qq.v[i] * c.cv[i])) / (qq.nrm * c.cnrm)"
             )} AS csim
      FROM q qq CROSS JOIN cn c),
    probes AS (
      SELECT q_id, list_id FROM (
        SELECT *, row_number() OVER (
          PARTITION BY q_id ORDER BY csim DESC, list_id ASC) AS pr
        FROM assign_q) WHERE pr <= 8),
    cand AS (
      SELECT p.q_id, l.neighbor_id
      FROM probes p JOIN lists l USING (list_id)),
    pairs AS (
      SELECT c.q_id, c.neighbor_id,
             {sc.round6_sql(f"{_DUCK_DOT} / (a.nrm * b.nrm)")} AS cos_sim
      FROM cand c
      JOIN n a ON a.vec_id = c.q_id
      JOIN n b ON b.vec_id = c.neighbor_id),
    ranked AS (
      SELECT *, row_number() OVER (
        PARTITION BY q_id ORDER BY cos_sim DESC, neighbor_id ASC) AS rank
      FROM pairs)
    SELECT q_id, neighbor_id, cos_sim, rank FROM ranked WHERE rank <= 5
    """


def _o_kmeans_cte(k: int, n_iter: int, dim: int = 64, quant: int = 10**6) -> str:
    """Lloyd's k-means replayed as a CTE chain c0..c{n_iter}: init =
    vectors of the k lowest vec_ids; per iteration, assignment by
    ROUNDED exact-fold centroid cosine (ties cluster asc — identical
    convention to _o_ann_ivf's list assignment), update = fixed-point
    integer sums (floor(x*quant + 0.5) per component) divided once in
    double. Integer addition is order-independent, so this single-
    threaded replay equals the engine's distributed partial-sum combine
    EXACTLY — the design that makes an iterative distributed algorithm
    hash-checkable (operators/kmeans.py docstring). Empty clusters keep
    the previous centroid with n_points 0."""
    dot = (
        f"list_sum(list_transform(generate_series(1, {dim}),"
        " i -> m.v[i] * c.cv[i]))"
    )
    parts = [
        f"""c0 AS (
      SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cluster_id,
             v AS cv, cast(0 AS bigint) AS n_points
      FROM n ORDER BY vec_id LIMIT {k})"""
    ]
    for i in range(n_iter):
        parts.append(
            f"""cn{i} AS (
      SELECT cluster_id, cv,
             sqrt(list_sum(list_transform(cv, x -> x * x))) AS cnrm
      FROM c{i})"""
        )
        parts.append(
            f"""a{i} AS (
      SELECT m.vec_id, m.v, c.cluster_id, row_number() OVER (
        PARTITION BY m.vec_id
        ORDER BY {sc.round6_sql(f"{dot} / (m.nrm * c.cnrm)")} DESC,
                 c.cluster_id ASC) AS pr
      FROM n m CROSS JOIN cn{i} c)"""
        )
        parts.extend((
            f"""qg{i} AS (
      SELECT cluster_id, count(*) AS cnt, list(qv) AS qvs
      FROM (SELECT cluster_id,
                   list_transform(v,
                     x -> cast(floor(x * {quant}.0 + 0.5) AS bigint)) AS qv
            FROM a{i} WHERE pr = 1)
      GROUP BY cluster_id)""",
            f"""qs{i} AS (
      SELECT cluster_id, cnt,
             list_transform(generate_series(1, {dim}),
               d -> list_sum(list_transform(qvs, w -> w[d]))) AS s
      FROM qg{i})""",
        ))
        parts.append(
            f"""c{i + 1} AS (
      SELECT p.cluster_id,
             CASE WHEN q.cnt IS NULL THEN p.cv
                  ELSE list_transform(q.s, s -> cast(s AS double)
                         / ({quant}.0 * cast(q.cnt AS double))) END AS cv,
             cast(coalesce(q.cnt, 0) AS bigint) AS n_points
      FROM c{i} p LEFT JOIN qs{i} q USING (cluster_id))"""
        )
    return ",\n    ".join(parts)


def _o_pq_cte(
    m_sub: int = 4,
    k_codes: int = 16,
    n_iter: int = 2,
    dim: int = 64,
    quant: int = 10**6,
    src_sql: str | None = None,
) -> str:
    """PQ training replayed as CTE chains p0..p{n_iter} over the
    corpus (vec_id % 5 <> 0) side: per-subspace Lloyd's with L2
    assignment — squared distance in the exact list_sum fold order,
    rounded before the (dist asc, code asc) rank — and the same
    fixed-point integer update as _o_kmeans_cte, per (sub, code).
    Terminal relations: p{n_iter} (sub_id, code_id, cv, n_points) and
    sv (vec_id, sub_id, svv) for downstream encode/search CTEs."""
    dsub = dim // m_sub
    d2 = (
        f"list_sum(list_transform(generate_series(1, {dsub}),"
        " i -> (s.svv[i] - c.cv[i]) * (s.svv[i] - c.cv[i])))"
    )
    if src_sql is None:
        src_sql = (
            "SELECT vec_id,"
            " list_transform(embedding, x -> cast(x AS double)) AS v"
            " FROM embeddings WHERE vec_id % 5 <> 0"
        )
    parts = [
        f"""pb AS ({src_sql})""",
        f"""subs AS (SELECT unnest(generate_series(0, {m_sub - 1})) AS m)""",
        f"""sv AS (
      SELECT vec_id, subs.m AS sub_id,
             v[subs.m * {dsub} + 1 : subs.m * {dsub} + {dsub}] AS svv
      FROM pb CROSS JOIN subs)""",
        f"""p0 AS (
      SELECT sub_id,
             row_number() OVER (PARTITION BY sub_id ORDER BY vec_id) - 1
               AS code_id,
             svv AS cv, cast(0 AS bigint) AS n_points
      FROM sv
      QUALIFY row_number() OVER (PARTITION BY sub_id ORDER BY vec_id)
        <= {k_codes})""",
    ]
    for i in range(n_iter):
        parts.append(
            f"""pa{i} AS (
      SELECT s.vec_id, s.sub_id, s.svv, c.code_id, row_number() OVER (
        PARTITION BY s.vec_id, s.sub_id
        ORDER BY {sc.round6_sql(d2)} ASC, c.code_id ASC) AS pr
      FROM sv s JOIN p{i} c USING (sub_id))"""
        )
        parts.extend((
            f"""pg{i} AS (
      SELECT sub_id, code_id, count(*) AS cnt, list(qv) AS qvs
      FROM (SELECT sub_id, code_id,
                   list_transform(svv,
                     x -> cast(floor(x * {quant}.0 + 0.5) AS bigint)) AS qv
            FROM pa{i} WHERE pr = 1)
      GROUP BY sub_id, code_id)""",
            f"""ps{i} AS (
      SELECT sub_id, code_id, cnt,
             list_transform(generate_series(1, {dsub}),
               d -> list_sum(list_transform(qvs, w -> w[d]))) AS s
      FROM pg{i})""",
        ))
        parts.append(
            f"""p{i + 1} AS (
      SELECT p.sub_id, p.code_id,
             CASE WHEN q.cnt IS NULL THEN p.cv
                  ELSE list_transform(q.s, s -> cast(s AS double)
                         / ({quant}.0 * cast(q.cnt AS double))) END AS cv,
             cast(coalesce(q.cnt, 0) AS bigint) AS n_points
      FROM p{i} p LEFT JOIN ps{i} q USING (sub_id, code_id))"""
        )
    return ",\n    ".join(parts)


def _o_pq_enc_cte(n_iter: int = 2, dim: int = 64, m_sub: int = 4) -> str:
    """enc CTE on top of the pq chain: final assignment pa{n_iter}'s
    code per (vec, sub), codes list + reconstruction list in subspace
    order. The extra paF rank reuses the same rounded-L2 convention."""
    dsub = dim // m_sub
    d2 = (
        f"list_sum(list_transform(generate_series(1, {dsub}),"
        " i -> (s.svv[i] - c.cv[i]) * (s.svv[i] - c.cv[i])))"
    )
    return f"""paF AS (
      SELECT s.vec_id, s.sub_id, s.svv, c.code_id, c.cv,
             row_number() OVER (
        PARTITION BY s.vec_id, s.sub_id
        ORDER BY {sc.round6_sql(d2)} ASC, c.code_id ASC) AS pr
      FROM sv s JOIN p{n_iter} c USING (sub_id)),
    enc AS (
      SELECT vec_id, list(code_id ORDER BY sub_id) AS codes,
             flatten(list(cv ORDER BY sub_id)) AS r
      FROM paF WHERE pr = 1 GROUP BY vec_id)"""


def _o_pq_train() -> str:
    from cityfinder_spark.operators.pq import PQ_ITER, PQ_K, PQ_M

    dsub = 64 // PQ_M
    return f"""
    WITH {_o_pq_cte(PQ_M, PQ_K, PQ_ITER)}
    SELECT c.sub_id, c.code_id, gs.d AS pos,
           {sc.round6_sql("c.cv[gs.d]")} AS val, c.n_points
    FROM p{PQ_ITER} c CROSS JOIN generate_series(1, {dsub}) AS gs(d)
    """


def _o_pq_encode() -> str:
    from cityfinder_spark.operators.pq import PQ_ITER, PQ_K, PQ_M

    recon = (
        "list_sum(list_transform(generate_series(1, 64),"
        " i -> (b.v[i] - e.r[i]) * (b.v[i] - e.r[i])))"
    )
    # left-assoc: ((c0*16 + c1)*16 + c2)*16 + c3 == fold a*16+x
    pack = "codes[1]"
    for j in range(1, PQ_M):
        pack = f"({pack}) * 16 + codes[{j + 1}]"
    return f"""
    WITH {_o_pq_cte(PQ_M, PQ_K, PQ_ITER)},
    {_o_pq_enc_cte(PQ_ITER)}
    SELECT b.vec_id, cast({pack} AS BIGINT) AS codes_packed,
           {sc.round6_sql(recon)} AS recon_err
    FROM pb b JOIN enc e USING (vec_id)
    """


def _o_pq_search() -> str:
    from cityfinder_spark.operators.pq import PQ_ITER, PQ_K, PQ_M

    dsub = 64 // PQ_M
    td = (
        f"list_sum(list_transform(generate_series(1, {dsub}),"
        " i -> (q.svq[i] - c.cv[i]) * (q.svq[i] - c.cv[i])))"
    )
    adc = "0 + t0.td + t1.td + t2.td + t3.td"
    # codes pre-extracted to scalar columns (encc) so every td join is
    # a plain-column hash join — list extraction inside the join
    # condition degrades DuckDB to a nested loop
    joins = "\n      ".join(
        f"JOIN td t{m} ON t{m}.q_id = q.q_id AND t{m}.sub_id = {m}"
        f" AND t{m}.code_id = e.c{m}"
        for m in range(PQ_M)
    )
    return f"""
    WITH {_o_pq_cte(PQ_M, PQ_K, PQ_ITER)},
    {_o_pq_enc_cte(PQ_ITER)},
    qe AS (SELECT vec_id AS q_id,
                  list_transform(embedding, x -> cast(x AS double)) AS v
           FROM embeddings WHERE vec_id % 5 = 0),
    qsv AS (SELECT q_id, subs.m AS sub_id,
                   v[subs.m * {dsub} + 1 : subs.m * {dsub} + {dsub}] AS svq
            FROM qe CROSS JOIN subs),
    td AS (SELECT q.q_id, q.sub_id, c.code_id, {td} AS td
           FROM qsv q JOIN p{PQ_ITER} c USING (sub_id)),
    qset AS (SELECT DISTINCT q_id FROM qe),
    encc AS (SELECT vec_id, {", ".join(f"codes[{m + 1}] AS c{m}" for m in range(PQ_M))}
             FROM enc),
    adc AS (
      SELECT q.q_id, e.vec_id AS neighbor_id,
             {sc.round6_sql(adc)} AS adc_dist
      FROM encc e CROSS JOIN qset q
      {joins}),
    rk AS (SELECT q_id, neighbor_id, adc_dist, row_number() OVER (
             PARTITION BY q_id
             ORDER BY adc_dist ASC, neighbor_id ASC) AS rank
           FROM adc)
    SELECT q_id, neighbor_id, adc_dist, cast(rank AS INT) AS rank
    FROM rk WHERE rank <= {PQ_SEARCH_K}
    """


def _o_kmeans_train(k: int, n_iter: int, dim: int = 64) -> str:
    return f"""
    WITH {_DUCK_EMB_CTE},
    {_o_kmeans_cte(k, n_iter, dim)}
    SELECT c.cluster_id, gs.d AS pos,
           {sc.round6_sql("c.cv[gs.d]")} AS val, c.n_points
    FROM c{n_iter} c CROSS JOIN generate_series(1, {dim}) AS gs(d)
    """


def _o_kmeans_assign(k: int, n_iter: int, dim: int = 64) -> str:
    dot = (
        f"list_sum(list_transform(generate_series(1, {dim}),"
        " i -> m.v[i] * c.cv[i]))"
    )
    return f"""
    WITH {_DUCK_EMB_CTE},
    {_o_kmeans_cte(k, n_iter, dim)},
    cnF AS (
      SELECT cluster_id, cv,
             sqrt(list_sum(list_transform(cv, x -> x * x))) AS cnrm
      FROM c{n_iter}),
    aF AS (
      SELECT m.vec_id, c.cluster_id, row_number() OVER (
        PARTITION BY m.vec_id
        ORDER BY {sc.round6_sql(f"{dot} / (m.nrm * c.cnrm)")} DESC,
                 c.cluster_id ASC) AS pr
      FROM n m CROSS JOIN cnF c)
    SELECT vec_id, cluster_id FROM aF WHERE pr = 1
    """


def _o_semdedup(k: int, n_iter: int, threshold: float, dim: int = 64) -> str:
    """Closed-form replay of the whole SemDeDup chain: the kmeans CTE
    (fixed-point Lloyd's), the rounded-cosine/ties-asc assignment (same
    text as _o_kmeans_assign), then the within-cluster pair scan — a
    self-join restricted to equal cluster_id, round6 cosine >= t,
    keeper = smallest matching earlier id."""
    dot = (
        f"list_sum(list_transform(generate_series(1, {dim}),"
        " i -> m.v[i] * c.cv[i]))"
    )
    pair_cos = sc.round6_sql(f"{_DUCK_DOT} / (a.nrm * b.nrm)")
    return f"""
    WITH {_DUCK_EMB_CTE},
    {_o_kmeans_cte(k, n_iter, dim)},
    cnF AS (
      SELECT cluster_id, cv,
             sqrt(list_sum(list_transform(cv, x -> x * x))) AS cnrm
      FROM c{n_iter}),
    aF AS (
      SELECT m.vec_id, c.cluster_id, row_number() OVER (
        PARTITION BY m.vec_id
        ORDER BY {sc.round6_sql(f"{dot} / (m.nrm * c.cnrm)")} DESC,
                 c.cluster_id ASC) AS pr
      FROM n m CROSS JOIN cnF c),
    asg AS (SELECT vec_id, cluster_id FROM aF WHERE pr = 1),
    p AS (
      SELECT b.vec_id AS vec_id, sb.cluster_id AS cluster_id,
             a.vec_id AS keeper_id, {pair_cos} AS cos_sim,
             row_number() OVER (PARTITION BY b.vec_id
                                ORDER BY a.vec_id ASC) AS prr
      FROM n a
      JOIN asg sa ON sa.vec_id = a.vec_id
      JOIN asg sb ON sb.cluster_id = sa.cluster_id
      JOIN n b ON b.vec_id = sb.vec_id AND a.vec_id < b.vec_id
      WHERE {pair_cos} >= {threshold})
    SELECT vec_id, cluster_id, keeper_id, cos_sim FROM p WHERE prr = 1
    """


def _o_events_windowed() -> str:
    return """
    SELECT cast(epoch(date_trunc('hour', ts)) as bigint) AS window_start,
           event_type, count(*) AS n_events,
           round(sum(value), 2) AS sum_value
    FROM events GROUP BY 1, 2
    """


def _o_events_asof() -> str:
    """Ranked theta-join replay of the as-of semantics (fine at oracle
    scale; the engine runs the windowed sweep instead): best view per
    click = max (ts, event_id) among same-user views with ts <= click
    ts; clicks with no prior view keep NULL columns."""
    return """
    WITH clicks AS (
      SELECT event_id, user_id, ts FROM events WHERE event_type = 'click'),
    views AS (
      SELECT event_id, user_id, ts, value FROM events
      WHERE event_type = 'view'),
    pairs AS (
      SELECT c.event_id AS click_id, v.event_id AS view_id,
             epoch_us(c.ts) - epoch_us(v.ts) AS lag_us, v.value AS vv,
             row_number() OVER (PARTITION BY c.event_id
                                ORDER BY v.ts DESC, v.event_id DESC) AS rn
      FROM clicks c JOIN views v
        ON v.user_id = c.user_id AND v.ts <= c.ts)
    SELECT c.event_id, c.user_id, p.view_id, p.lag_us,
           p.vv AS view_value
    FROM clicks c
    LEFT JOIN (SELECT * FROM pairs WHERE rn = 1) p
      ON p.click_id = c.event_id
    """


def _o_events_sessionize() -> str:
    # gaps-and-islands; >= matches session_window's exclusive end
    # (windows [a,a+gap) and [b,b+gap) merge iff b < a+gap).
    # floor(epoch(...)) matches Spark unix_timestamp's truncation.
    return """
    WITH o AS (
      SELECT user_id, ts, value,
             CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts)
                       >= INTERVAL 30 MINUTE THEN 1 ELSE 0 END AS flag
      FROM events),
    s AS (
      SELECT *, sum(flag) OVER (PARTITION BY user_id ORDER BY ts
                                ROWS UNBOUNDED PRECEDING) AS sid
      FROM o)
    SELECT user_id,
           cast(floor(epoch(min(ts))) as bigint) AS session_start,
           count(*) AS n_events, round(sum(value), 2) AS sum_value
    FROM s GROUP BY user_id, sid
    """


def _o_events_props() -> str:
    return """
    SELECT cast(json_extract_string(props, '$.k') as int) % 10 AS k_bucket,
           event_type, count(*) AS n_events
    FROM events
    WHERE json_extract_string(props, '$.k') IS NOT NULL
    GROUP BY 1, 2
    """


def _o_running_user_totals() -> str:
    # the stream's final per-user emission must equal the plain batch
    # GROUP BY (sum rounded at emission, like the windowed oracles)
    return """
    SELECT user_id, count(*) AS n_events,
           round(sum(value), 2) AS sum_value,
           max(value) AS max_value
    FROM events GROUP BY user_id
    """


def _o_bucketed_join() -> str:
    return """
    SELECT doc_id, lang, cast(length(text) as bigint) AS text_len
    FROM documents
    """


def _o_partitioned_read() -> str:
    lat_min, lat_max, lon_min, lon_max = _REGION_BOX
    return f"""
    WITH pts AS ({sc.points_from_orders_sql()})
    SELECT pt_id, lat, lon, caption FROM pts
    WHERE lat BETWEEN {lat_min} AND {lat_max}
      AND (lon BETWEEN {lon_min} AND 180.0
           OR lon BETWEEN -180.0 AND {lon_max})
    """


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {
        "nearest_city": q_nearest_city,
        "nearest_city_topk": q_nearest_city_topk,
        "cell_assign": q_cell_assign,
        "hot_cells": q_hot_cells,
        "kanon_cells": q_kanon_cells,
        "focal_stats": q_focal_stats,
        "getis_ord": q_getis_ord,
        "zorder_key": q_zorder_key,
        "geohash_key": q_geohash_key,
        "hotspot_clusters": q_hotspot_clusters,
        "nearest_city_adaptive": q_nearest_city_adaptive,
        "salted_agg": q_salted_agg,
        "name_lookup": q_name_lookup,
        "name_lookup_exact": q_name_lookup_exact,
        "postal_lookup": q_postal_lookup,
        "postal_dedup": q_postal_dedup,
        "raster_tiles": q_raster_tiles,
        "point_in_polygon": q_point_in_polygon,
        "geo_rollup": q_geo_rollup,
        "idw_interpolate": q_idw_interpolate,
        "knn_classify": q_knn_classify,
        "hex_assign": q_hex_assign,
        "hex_hot_cells": q_hex_hot_cells,
        "region_cover": q_region_cover,
        "cover_read": q_cover_read,
        "ocean_points": q_ocean_points,
        "streaming_cover_read": q_streaming_cover_read,
        "box_range_join": q_box_range_join,
        "cell_pyramid": q_cell_pyramid,
        "tile_render": q_tile_render,
        "distinct_sketch": q_distinct_sketch,
        "radius_join": q_radius_join,
        "trajectory_stats": q_trajectory_stats,
        "od_flows": q_od_flows,
        "geofence_events": q_geofence_events,
        "spacetime_cube": q_spacetime_cube,
        "distance_transform": q_distance_transform,
        "region_rings": q_region_rings,
        "streaming_region_rings": q_streaming_region_rings,
        "events_decay": q_events_decay,
        "trajectory_stays": q_trajectory_stays,
        "geonames_scan": q_geonames_scan,
        "postal_scan": q_postal_scan,
        "index_roundtrip": q_index_roundtrip,
        "index_roundtrip_postal": q_index_roundtrip_postal,
        "dedup_exact": q_dedup_exact,
        "token_stats": q_token_stats,
        "length_outliers": q_length_outliers,
        "corpus_split": q_corpus_split,
        "decontaminate": q_decontaminate,
        "split_overlap": q_split_overlap,
        "bloom_decontaminate": q_bloom_decontaminate,
        "text_quality": q_text_quality,
        "repetition_stats": q_repetition_stats,
        "token_percentiles": q_token_percentiles,
        "length_buckets": q_length_buckets,
        "vocab_topk": q_vocab_topk,
        "bm25_search": q_bm25_search,
        "lm_score": q_lm_score,
        "pii_redact": q_pii_redact,
        "importance_sample": q_importance_sample,
        "tokenize_ids": q_tokenize_ids,
        "quality_topk": q_quality_topk,
        "ngram_containment": q_ngram_containment,
        "substring_spans": q_substring_spans,
        "substring_dedup": q_substring_dedup,
        "substring_scrub": q_substring_scrub,
        "lang_id": q_lang_id,
        "doc_fingerprint": q_fingerprint,
        "ngram_jaccard": q_ngram_jaccard,
        "minhash_lsh": q_minhash_lsh,
        "minhash_estimate": q_minhash_estimate,
        "simhash": q_simhash,
        "sample_rate": q_sample_rate,
        "sample_quota": q_sample_quota,
        "mixture_sample": q_mixture_sample,
        "dedup_resolve": q_dedup_resolve,
        "cluster_split": q_cluster_split,
        "corpus_pipeline": q_corpus_pipeline,
        "cosine_topk": q_cosine_topk,
        "embedding_quantize": q_embedding_quantize,
        "cosine_topk_quantized": q_cosine_topk_quantized,
        "cosine_dedup": q_cosine_dedup,
        "ann_lsh": q_ann_lsh,
        "ann_ivf": q_ann_ivf,
        "cosine_search": q_cosine_search,
        "ann_search": q_ann_search,
        "ann_search_persisted": q_ann_search_persisted,
        "ann_search_ivf": q_ann_search_ivf,
        "ann_search_trained": q_ann_search_trained,
        "pq_train": q_pq_train,
        "pq_encode": q_pq_encode,
        "pq_search": q_pq_search,
        "ivfpq_search": q_ivfpq_search,
        "streaming_pq_encode": q_streaming_pq_encode,
        "kmeans_train": q_kmeans_train,
        "kmeans_assign": q_kmeans_assign,
        "semdedup": q_semdedup,
        "image_pipeline": q_image_pipeline,
        "image_decode_stats": q_image_decode_stats,
        "image_sharpness": q_image_sharpness,
        "phash_near_dup": q_phash_near_dup,
        "phash_dedup_resolve": q_phash_dedup_resolve,
        "geo_image_dedup": q_geo_image_dedup,
        "multimodal_curation": q_multimodal_curation,
        "image_resize": q_image_resize,
        "image_diversity": q_image_diversity,
        "image_quarantine": q_image_quarantine,
        "video_frame_sample": q_video_frame_sample,
        "events_windowed": q_events_windowed,
        "events_asof": q_events_asof,
        "events_sessionize": q_events_sessionize,
        "events_props": q_events_props,
        "nearest_city_tiled": q_nearest_city_tiled,
        "nearest_city_bigdim": q_nearest_city_bigdim,
        "partitioned_read": q_partitioned_read,
        "upsert_merge": q_upsert_merge,
        "zorder_read": q_zorder_read,
        "compaction_plan": q_compaction_plan,
        "compaction_apply": q_compaction_apply,
        "ivfpq_upsert": q_ivfpq_upsert,
        "ivfpq_persisted": q_ivfpq_persisted,
        "bucketed_join": q_bucketed_join,
        "resumable_rollup": q_resumable_rollup,
        "streaming_dedup_exact": q_streaming_dedup_exact,
        "streaming_hot_cells": q_streaming_hot_cells,
        "streaming_distinct_sketch": q_streaming_distinct_sketch,
        "count_min_df": q_count_min_df,
        "streaming_heavy_hitters": q_streaming_heavy_hitters,
        "streaming_late_data": q_streaming_late_data,
        "streaming_stream_join": q_streaming_stream_join,
        "streaming_stream_join_outer": q_streaming_stream_join_outer,
        "streaming_knn": q_streaming_knn,
        "running_user_totals": q_running_user_totals,
    }


def oracle_sql() -> dict[str, str]:
    return {
        "nearest_city": _o_nearest_city(),
        "nearest_city_topk": _o_nearest_city_topk(),
        "cell_assign": _o_cell_assign(),
        "hot_cells": _o_hot_cells(),
        "kanon_cells": _o_kanon_cells(),
        "focal_stats": _o_focal_stats(),
        "getis_ord": _o_getis_ord(),
        "zorder_key": _o_zorder_key(),
        "geohash_key": _o_geohash_key(),
        "hotspot_clusters": _o_hotspot_clusters(),
        "nearest_city_adaptive": _o_nearest_city(),
        "salted_agg": _o_salted_agg(),
        "name_lookup": _o_name_lookup(fuzzy=True),
        "name_lookup_exact": _o_name_lookup(fuzzy=False),
        "postal_lookup": _o_postal_lookup(),
        "postal_dedup": _o_postal_dedup(),
        "raster_tiles": _o_raster_tiles(),
        "point_in_polygon": _o_point_in_polygon(),
        "geo_rollup": _o_geo_rollup(),
        "idw_interpolate": _o_idw_interpolate(),
        "knn_classify": _o_knn_classify(),
        "hex_assign": _o_hex_assign(),
        "hex_hot_cells": _o_hex_hot_cells(),
        "region_cover": _o_region_cover(),
        "cover_read": _o_point_in_polygon(),
        "ocean_points": _o_ocean_points(),
        "streaming_cover_read": _o_point_in_polygon(),
        "box_range_join": _o_box_range_join(),
        "cell_pyramid": _o_cell_pyramid(),
        "tile_render": _o_tile_render(),
        "distinct_sketch": _o_distinct_sketch(),
        "radius_join": _o_radius_join(),
        "trajectory_stats": _o_trajectory_stats(),
        "od_flows": _o_od_flows(),
        "geofence_events": _o_geofence_events(),
        "spacetime_cube": _o_spacetime_cube(),
        "distance_transform": _o_distance_transform(),
        "region_rings": _o_region_rings(),
        "streaming_region_rings": _o_region_rings(),
        "events_decay": _o_events_decay(),
        "trajectory_stays": _o_trajectory_stays(),
        "geonames_scan": _o_geonames_scan(),
        "postal_scan": _o_postal_scan(),
        "index_roundtrip": _o_nearest_city(),
        "index_roundtrip_postal": _o_postal_lookup(),
        "dedup_exact": _o_dedup_exact(),
        "token_stats": _o_token_stats(),
        "length_outliers": _o_length_outliers(),
        "corpus_split": _o_corpus_split(),
        "decontaminate": _o_decontaminate(),
        "split_overlap": _o_split_overlap(),
        "bloom_decontaminate": _o_bloom_decontaminate(),
        "text_quality": _o_text_quality(),
        "repetition_stats": _o_repetition_stats(),
        "token_percentiles": _o_token_percentiles(),
        "length_buckets": _o_length_buckets(),
        "vocab_topk": _o_vocab_topk(),
        "bm25_search": _o_bm25_search(),
        "lm_score": _o_lm_score(),
        "pii_redact": _o_pii_redact(),
        "importance_sample": _o_importance_sample(),
        "tokenize_ids": _o_tokenize_ids(),
        "quality_topk": _o_quality_topk(),
        "lang_id": _o_lang_id(),
        "doc_fingerprint": _o_fingerprint(),
        "ngram_jaccard": _o_ngram_jaccard(),
        "ngram_containment": _o_ngram_containment(),
        "substring_spans": _o_substring_spans(),
        "substring_dedup": _o_substring_dedup(),
        "substring_scrub": _o_substring_scrub(),
        "minhash_lsh": _o_minhash_lsh(),
        "minhash_estimate": _o_minhash_estimate(),
        "simhash": _o_simhash(),
        "sample_rate": _o_sample_rate(),
        "sample_quota": _o_sample_quota(),
        "mixture_sample": _o_mixture_sample(),
        "dedup_resolve": _o_dedup_resolve(),
        "cluster_split": _o_cluster_split(),
        "corpus_pipeline": _o_corpus_pipeline(),
        "cosine_topk": _o_cosine_topk(),
        "embedding_quantize": _o_embedding_quantize(),
        "cosine_topk_quantized": _o_cosine_topk_quantized(),
        "cosine_dedup": _o_cosine_dedup(),
        "events_windowed": _o_events_windowed(),
        "events_asof": _o_events_asof(),
        "events_sessionize": _o_events_sessionize(),
        "events_props": _o_events_props(),
        "nearest_city_tiled": _o_nearest_city(),
        "nearest_city_bigdim": _o_nearest_city(),
        "partitioned_read": _o_partitioned_read(),
        "upsert_merge": _o_upsert_merge(),
        "zorder_read": _o_partitioned_read(),
        "compaction_plan": _o_compaction_plan(),
        "compaction_apply": _o_compaction_apply(),
        "ivfpq_upsert": _o_ivfpq_upsert(),
        "ivfpq_persisted": _o_ivfpq_persisted(),
        "bucketed_join": _o_bucketed_join(),
        "resumable_rollup": _o_resumable_rollup(),
        # streaming gates: REAL multi-micro-batch runs on the Spark
        # side; id-ordered arrival makes the final emissions equal the
        # batch semantics, so the batch SQL is an exact oracle
        "streaming_dedup_exact": _o_dedup_exact(),
        # the stream's final per-cell emissions must equal the batch
        # hot-cell aggregate — shared oracle
        "streaming_hot_cells": _o_hot_cells(),
        "streaming_distinct_sketch": _o_distinct_sketch(),
        "count_min_df": _o_count_min_df(),
        "streaming_heavy_hitters": _o_streaming_heavy_hitters(),
        "streaming_late_data": _o_streaming_late_data(),
        # inner stream-stream join emissions = the batch interval join
        # (no late rows by construction), so the plain SQL is exact
        "streaming_stream_join": _o_streaming_stream_join(),
        "streaming_stream_join_outer": _o_streaming_stream_join_outer(),
        # stateless enrichment: stream emissions = the batch flagship
        "streaming_knn": _o_nearest_city(),
        "running_user_totals": _o_running_user_totals(),
        # ann_lsh / ann_ivf are APPROXIMATE in recall but fully
        # deterministic in mechanism (md5 sign family, exact folds,
        # rounded probe choice) -> exactly oracle-able; recall@k vs
        # cosine_topk is additionally gated in tests/test_dedup_text.py
        "ann_lsh": _o_ann_lsh(),
        "ann_ivf": _o_ann_ivf(),
        "cosine_search": _o_cosine_search(),
        # asymmetric ANN: same exact-mechanism determinism as ann_lsh;
        # the persisted variant shares the oracle (write->read->search
        # must equal recompute->search)
        "ann_search": _o_ann_search(),
        "ann_search_persisted": _o_ann_search(),
        "ann_search_ivf": _o_ann_search_ivf(),
        "ann_search_trained": _o_ann_search_trained(),
        "pq_train": _o_pq_train(),
        "pq_encode": _o_pq_encode(),
        "pq_search": _o_pq_search(),
        "ivfpq_search": _o_ivfpq_search(),
        "streaming_pq_encode": _o_pq_encode(),
        "kmeans_train": _o_kmeans_train(KMEANS_K, KMEANS_ITER),
        "kmeans_assign": _o_kmeans_assign(KMEANS_K, KMEANS_ITER),
        "semdedup": _o_semdedup(KMEANS_K, KMEANS_ITER, SEMDEDUP_T),
        # media queries: DuckDB splitmix64 replay — the oracle
        # recomputes pixels/samples closed-form from row ids and never
        # touches the binary payloads (see _duck_mix64)
        "image_pipeline": _o_image_pipeline(),
        "image_decode_stats": _o_image_decode_stats(),
        "image_sharpness": _o_image_sharpness(),
        "image_diversity": _o_image_diversity(),
        "image_quarantine": _o_image_quarantine(),
        "phash_near_dup": _o_phash_near_dup(),
        "phash_dedup_resolve": _o_phash_dedup_resolve(),
        "geo_image_dedup": _o_geo_image_dedup(),
        "multimodal_curation": _o_multimodal_curation(),
        "image_resize": _o_image_resize(),
        "video_frame_sample": _o_video_frame_sample(),
    }


def entry(spark: SparkSession) -> DataFrame:
    """Flagship smoke query at sf0.001 (driver checks rows >= 0)."""
    return q_nearest_city(spark, "/root/testdata/sf0.001")
