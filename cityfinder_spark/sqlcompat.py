"""Portable SQL fragments evaluated identically by Spark SQL and DuckDB.

The driver's correctness gate runs each Spark query side-by-side with a
DuckDB oracle and hashes the values. Any formula used on both sides is
defined ONCE here as a SQL string built from IEEE-754 basic ops
(+ - * / floor cast least greatest %) so both engines produce
bit-identical doubles. Only libm calls (sin/cos/atan2) may differ by
ulps between JVM and C; every computed double that reaches an output is
therefore rounded (ROUND_DIGITS) on both sides, and orderings tie-break
on the rounded value then a unique id (the reference's mandated
distance-then-ID tie-break, SURVEY.md §7.3).
"""

from __future__ import annotations

EARTH_RADIUS_KM = 6371.0  # reference uses R=6371 (lib/city/city.go:70, s2.go:72)
ROUND_DIGITS = 4  # 0.1 m granularity on km distances

LEVEL_STRIDE = 18014398509481984  # 2**54 — level tag stride in cell ids


def round6_sql(expr: str) -> str:
    """Portable 6-digit half-up rounding from pure IEEE ops.

    Engine round() implementations disagree at exact .xxxxxx5
    boundaries (Spark: BigDecimal HALF_UP on the decimal expansion;
    DuckDB: scaled C rounding) — and ratios of small integers land on
    those boundaries routinely. floor(x*1e6 + 0.5)/1e6 is the same
    IEEE sequence in both engines, hence bit-identical."""
    return f"(floor(({expr}) * 1000000.0 + 0.5) / 1000000.0)"


def round_sql(expr: str, digits: int) -> str:
    """Floor-form half-up rounding at `digits` decimal places — the
    generic form of round6_sql (same cross-engine bit-identity
    rationale); pairs with colutils.round_digits_col."""
    scale = float(10 ** digits)
    return f"(floor(({expr}) * {scale} + 0.5) / {scale})"


def haversine_sql(lat1: str, lon1: str, lat2: str, lon2: str) -> str:
    """Great-circle km, atan2 form — matches the reference's formula
    (lib/city/city.go:69-81); identical text runs in Spark SQL + DuckDB."""
    a = (
        f"(pow(sin(radians(({lat2})-({lat1}))/2),2)"
        f" + cos(radians({lat1}))*cos(radians({lat2}))"
        f"*pow(sin(radians(({lon2})-({lon1}))/2),2))"
    )
    return (
        f"(2.0*{EARTH_RADIUS_KM}*atan2(sqrt({a}),"
        f" sqrt(greatest(0.0, 1.0-{a}))))"
    )


def haversine_rounded_sql(lat1: str, lon1: str, lat2: str, lon2: str) -> str:
    """Floor-form rounding (same IEEE sequence as round6_sql, at
    ROUND_DIGITS places) — matches geo.distance.haversine_rounded_col
    bit-for-bit and avoids engine round() boundary disagreements."""
    scale = 10 ** ROUND_DIGITS
    return (
        f"(floor({haversine_sql(lat1, lon1, lat2, lon2)} * {scale}.0 + 0.5)"
        f" / {scale}.0)"
    )


def cell_sql(lat: str, lon: str, level: int) -> str:
    """Hierarchical spatial cell id at `level` (S2/H3 analog).

    Grid: 2**level latitude bands x 2**(level+1) longitude columns
    (square cells in degrees: 180/2**level per side). The level is
    tagged into the id (level * 2**54 + i*nlon + j) so ids from
    different levels never collide (needed by adaptive cell split).
    Replaces s2.PointFromLatLng + ShapeIndex cell decomposition
    (reference lib/finder/coordinates/s2.go:39,45-46).
    """
    nlat = 1 << level
    nlon = 2 << level
    i = f"least(greatest(cast(floor((({lat})+90.0)/180.0*{nlat}) as bigint), 0), {nlat - 1})"
    j = f"(((cast(floor((({lon})+180.0)/360.0*{nlon}) as bigint) % {nlon}) + {nlon}) % {nlon})"
    return f"(cast({level} as bigint)*{LEVEL_STRIDE} + {i}*{nlon} + {j})"


# --- deterministic pseudo-geo derivations over the driver's TPC-H tables ---
# (FIXTURES.md §7: identical expression text in Spark and DuckDB so the
# synthetic coordinates agree bit-for-bit.)

# the one pair of lat/lon derivations every orders-based fixture uses
# (identical text in Spark and DuckDB). NB: division by cast(100 as
# double) — a bare `100.0` literal is DECIMAL in Spark SQL but DOUBLE
# in DuckDB; force IEEE doubles.
ORDER_LAT = "((((o_orderkey * 48271) % 17900) / cast(100 as double)) - 89.495)"
ORDER_LON = "((((o_orderkey * 69621) % 36000) / cast(100 as double)) - 179.995)"


def points_from_orders_sql(orders: str = "orders") -> str:
    """Fact side: one geotagged 'image' row per order. Lat avoids the
    exact poles; .495 offsets dodge exact cell-boundary values."""
    return f"""
    SELECT o_orderkey AS pt_id,
           {ORDER_LAT} AS lat,
           {ORDER_LON} AS lon,
           o_orderpriority AS caption
    FROM {orders}
    """


def traj_points_sql(orders: str = "orders") -> str:
    """Trajectory fixture: the same geotagged point per order, keyed
    by the customer it belongs to (o_custkey) — each customer's order
    sequence is their movement track."""
    return f"""
    SELECT o_custkey AS cust_id, o_orderkey AS pt_id,
           {ORDER_LAT} AS lat,
           {ORDER_LON} AS lon
    FROM {orders}
    """


def boxes_from_orders_sql(orders: str = "orders", modulus: int = 199) -> str:
    """Query rectangles: every `modulus`-th order becomes a lat/lon box
    centered on its point with half-extents 0.5..3.5 degrees derived
    from the key. Longitude bounds wrap into [-180, 180): lon_min >
    lon_max marks an antimeridian-crossing box (a few percent of the
    set, by construction). Latitude clamps at the poles. All arithmetic
    is integer-derived IEEE doubles with identical expression text in
    Spark and DuckDB, so the bounds agree bit-for-bit."""
    return f"""
    SELECT box_id,
           greatest(cast(-90 as double), lat - half_lat) AS lat_min,
           least(cast(90 as double), lat + half_lat) AS lat_max,
           (((lon - half_lon + 540.0) % 360.0) - 180.0) AS lon_min,
           (((lon + half_lon + 540.0) % 360.0) - 180.0) AS lon_max
    FROM (
      SELECT o_orderkey AS box_id,
             {ORDER_LAT} AS lat,
             {ORDER_LON} AS lon,
             ((o_orderkey % 7) * 50 + 50) / cast(100 as double) AS half_lat,
             ((o_orderkey % 5) * 75 + 50) / cast(100 as double) AS half_lon
      FROM {orders}
      WHERE o_orderkey % {modulus} = 0)
    """


def names_dim_sql(customer: str = "customer", nation: str = "nation") -> str:
    """Name dimension with built-in duplicate (country, name) pairs
    (c_custkey % 400) to pin first-match semantics (J2/J6)."""
    return f"""
    SELECT c_custkey AS city_id,
           'City#' || lpad(cast(c_custkey % 400 as string), 4, '0') AS name,
           ((((c_custkey * 40503) % 16900) / cast(100 as double)) - 84.495) AS lat,
           ((((c_custkey * 65413) % 35900) / cast(100 as double)) - 179.495) AS lon,
           n_name AS country
    FROM {customer} JOIN {nation} ON c_nationkey = n_nationkey
    """


def name_queries_sql(orders: str = "orders", customer: str = "customer", nation: str = "nation") -> str:
    """Lookup queries: exact / distance-1 / distance-2 / distance-3
    mutations of dimension names, country via the order's customer.
    Lowercased country exercises the uppercase-at-boundary rule (P5)."""
    base = "'City#' || lpad(cast(o_orderkey % 500 as string), 4, '0')"
    return f"""
    SELECT o_orderkey AS q_id,
           CASE
             WHEN o_orderkey % 4 = 0 THEN {base}
             WHEN o_orderkey % 4 = 1 THEN substr({base}, 1, 2) || substr({base}, 4)
             WHEN o_orderkey % 4 = 2 THEN 'zz' || substr({base}, 3)
             ELSE 'zzz' || substr({base}, 4)
           END AS q_name,
           lower(n_name) AS q_country
    FROM {orders}
    JOIN {customer} ON o_custkey = c_custkey
    JOIN {nation} ON c_nationkey = n_nationkey
    """


def postal_dim_sql(customer: str = "customer", nation: str = "nation") -> str:
    """Postal dimension with duplicate (country, code) pairs
    (c_custkey % 40 within ~60-customer nations) to pin the
    last-write-wins build dedup (J5)."""
    return f"""
    SELECT n_name AS country_code,
           lpad(cast(c_custkey % 40 as string), 3, '0') AS postal_code,
           c_name AS place_name,
           ((((c_custkey * 40503) % 16900) / cast(100 as double)) - 84.495) AS lat,
           ((((c_custkey * 65413) % 35900) / cast(100 as double)) - 179.495) AS lon,
           cast(c_custkey % 7 as int) AS accuracy,
           c_custkey AS line_no
    FROM {customer} JOIN {nation} ON c_nationkey = n_nationkey
    """


def postal_queries_sql(orders: str = "orders", customer: str = "customer", nation: str = "nation") -> str:
    """Postal queries; code space 0..49 vs dimension 0..39 -> ~20% miss."""
    return f"""
    SELECT o_orderkey AS q_id,
           lpad(cast(o_orderkey % 50 as string), 3, '0') AS q_code,
           lower(n_name) AS q_country
    FROM {orders}
    JOIN {customer} ON o_custkey = c_custkey
    JOIN {nation} ON c_nationkey = n_nationkey
    """


def pii_docs_sql(documents: str = "documents") -> str:
    """PII-bearing corpus: the documents table with deterministic
    planted identifiers (email always; phone on doc_id%3=0; ipv4 on
    doc_id%4=0) derived from the doc's own id — identical expression
    text in Spark and DuckDB, so both engines see byte-identical
    input text for the redaction gate."""
    return f"""
    SELECT doc_id,
           text || ' contact u' || cast(doc_id as string)
                || '@mail-' || cast(doc_id % 7 as string) || '.org now'
                || CASE WHEN doc_id % 3 = 0
                        THEN ' call '
                             || lpad(cast((doc_id * 7) % 1000 as string), 3, '0')
                             || '-'
                             || lpad(cast((doc_id * 13) % 1000 as string), 3, '0')
                             || '-'
                             || lpad(cast((doc_id * 31) % 10000 as string), 4, '0')
                        ELSE '' END
                || CASE WHEN doc_id % 4 = 0
                        THEN ' ip 10.' || cast(doc_id % 256 as string)
                             || '.0.' || cast((doc_id * 3) % 256 as string)
                        ELSE '' END AS text
    FROM {documents}
    """


def images_from_orders_sql(orders: str = "orders") -> str:
    """Image-shaped fact rows (geotag + raster dims) for tiling ops."""
    return f"""
    SELECT o_orderkey AS pt_id,
           ((((o_orderkey * 48271) % 17900) / cast(100 as double)) - 89.495) AS lat,
           ((((o_orderkey * 69621) % 36000) / cast(100 as double)) - 179.995) AS lon,
           cast(16 + (o_orderkey % 49) as int) AS w,
           cast(16 + ((o_orderkey * 3) % 49) as int) AS h
    FROM {orders}
    """


# hexagon vertex offsets (unit radius): cos/sin of k*60deg as exact
# literals so no libm enters the vertex coordinates on either engine.
HEX_COEFS_VALUES = (
    "(VALUES (0, cast(1.0 as double), cast(0.0 as double)),"
    " (1, cast(0.5 as double), cast(0.866 as double)),"
    " (2, cast(-0.5 as double), cast(0.866 as double)),"
    " (3, cast(-1.0 as double), cast(0.0 as double)),"
    " (4, cast(-0.5 as double), cast(-0.866 as double)),"
    " (5, cast(0.5 as double), cast(-0.866 as double))) AS c(v, latc, lonc)"
)


def polygon_vertices_sql(nation: str = "nation") -> str:
    """Deterministic hexagonal 'admin polygons', one per nation —
    identical text in Spark and DuckDB (FIXTURES.md §6)."""
    return f"""
    SELECT p.polygon_id, p.country, c.v,
           (p.clat + p.r * c.latc) AS vlat,
           (p.clon + p.r * c.lonc) AS vlon
    FROM (
      SELECT n_nationkey AS polygon_id, n_name AS country,
             (((n_nationkey * 37) % 120) - 60 + 0.5) AS clat,
             (((n_nationkey * 73) % 340) - 170 + 0.5) AS clon,
             (5.0 + (n_nationkey % 5)) AS r
      FROM {nation}) p
    CROSS JOIN {HEX_COEFS_VALUES}
    """


def cities_from_customer_sql(customer: str = "customer", nation: str = "nation") -> str:
    """Dimension side: one 'city' per customer; country from nation."""
    return f"""
    SELECT c_custkey AS city_id,
           c_name AS name,
           ((((c_custkey * 40503) % 16900) / cast(100 as double)) - 84.495) AS lat,
           ((((c_custkey * 65413) % 35900) / cast(100 as double)) - 179.495) AS lon,
           n_name AS country
    FROM {customer} JOIN {nation} ON c_nationkey = n_nationkey
    """
