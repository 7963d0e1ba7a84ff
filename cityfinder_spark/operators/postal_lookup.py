"""City-by-postal-code lookup.

Reimplements the reference's PostalCodeFinder
(lib/finder/postalCode/postalCode.go):
  * build: map insert per (country, code) — LAST write wins over file
    order (postalCode.go:26-34, J5) -> window on desc(line_no);
  * query: PostalCode[country][code] exact, nil on miss
    (postalCode.go:58-73, J4) -> broadcast left equi-join, NULLs on
    miss; result City synthesized from the entry (name = PlaceName,
    coords from entry; postalCode.go:64-69);
  * only the query's country code is uppercased at the boundary
    (routes.go:64, P5); the stored code is compared and de-duplicated
    as written, so a key stored only as `bc` is never found.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F


def dedup_postal(postal: DataFrame) -> DataFrame:
    """Last-write-wins per (country_code, postal_code) by line_no —
    the reference's map-overwrite build semantics (J5)."""
    w = Window.partitionBy("country_code", "postal_code").orderBy(
        F.desc("line_no")
    )
    return (
        postal.withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") == 1)
        .drop("__rn")
    )


def city_by_postal(
    queries: DataFrame,
    postal: DataFrame,
    *,
    id_col: str = "q_id",
    code_col: str = "q_code",
    country_col: str = "q_country",
    deduped: bool = False,
) -> DataFrame:
    """queries + (name, c_lat, c_lon, accuracy); NULLs on miss.

    postal: country_code, postal_code, place_name, lat, lon, accuracy,
    line_no (monotonic file order for last-write-wins).
    """
    dim = postal if deduped else dedup_postal(postal)
    dim = F.broadcast(
        dim.select(
            F.col("country_code"),
            F.col("postal_code"),
            F.col("place_name").alias("name"),
            F.col("lat").cast("double").alias("c_lat"),
            F.col("lon").cast("double").alias("c_lon"),
            F.col("accuracy").cast("int").alias("accuracy"),
        )
    )
    q = queries.select(
        F.col(id_col).alias("q_id"),
        F.col(code_col).alias("q_code"),
        F.upper(F.col(country_col)).alias("q_country"),
    )
    return q.join(
        dim,
        (q["q_country"] == dim["country_code"]) & (q["q_code"] == dim["postal_code"]),
        "left",
    ).select("q_id", "q_code", "q_country", "name", "c_lat", "c_lon", "accuracy")
