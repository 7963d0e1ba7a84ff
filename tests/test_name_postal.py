"""Reference semantics for name/postal lookups (FIXTURES.md §5):
alt-name hits, duplicate-(country,name) first match, fuzzy thresholds,
uppercase-at-boundary, last-write-wins postal dedup."""

from __future__ import annotations

import pandas as pd

from cityfinder_spark.operators.name_lookup import build_name_index, city_by_name
from cityfinder_spark.operators.postal_lookup import city_by_postal, dedup_postal


def _cities(spark):
    rows = [
        # city_id, name, alt_names, lat, lon, country
        (0, "Paris", ["Lutetia", "Paname"], 48.85, 2.35, "FR"),
        (1, "Paris", [], 33.66, -95.55, "US"),  # Paris, Texas
        (2, "Paris", [], 48.0, 2.0, "FR"),      # dup (FR, Paris) -> first match id 0
        (3, "London", ["Londinium"], 51.5, -0.12, "GB"),
        (4, "Berlin", [], 52.52, 13.40, "DE"),
    ]
    return spark.createDataFrame(
        pd.DataFrame(rows, columns=["city_id", "name", "alt_names", "lat", "lon", "country"])
    )


def _queries(spark, rows):
    return spark.createDataFrame(
        pd.DataFrame(rows, columns=["q_id", "q_name", "q_country"])
    )


def test_name_index_includes_alt_names(spark):
    idx = build_name_index(_cities(spark))
    names_fr0 = {
        r["indexed_name"] for r in idx.where("city_id = 0").collect()
    }
    assert names_fr0 == {"Paris", "Lutetia", "Paname"}  # name.go:43-53


def test_exact_first_match_and_alt_hit(spark):
    out = {
        r["q_id"]: r
        for r in city_by_name(
            _queries(
                spark,
                [
                    (0, "Paris", "fr"),     # dup -> lowest city_id (0), lowercase country
                    (1, "Paris", "US"),     # country partitions the index
                    (2, "Lutetia", "FR"),   # alt-name hit resolves to primary
                    (3, "Paris", "DE"),     # wrong country -> no exact
                ],
            ),
            _cities(spark),
            fuzzy=False,
        ).collect()
    }
    assert (out[0]["city_id"], out[0]["match_type"]) == (0, "exact")
    assert out[1]["city_id"] == 1
    assert (out[2]["city_id"], out[2]["name"]) == (0, "Paris")
    assert out[3]["city_id"] is None and out[3]["match_type"] is None


def test_fuzzy_thresholds(spark):
    out = {
        r["q_id"]: r
        for r in city_by_name(
            _queries(
                spark,
                [
                    (0, "Pariss", "FR"),   # dist 1 -> fuzzy
                    (1, "Lndn", "GB"),     # London dist 2? L-nd-n vs London: dist 2
                    (2, "Bxrlxn", "DE"),   # Berlin dist 2
                    (3, "Parisxyz", "FR"), # dist 3 -> miss (threshold=2, name.go:65)
                ],
            ),
            _cities(spark),
        ).collect()
    }
    assert (out[0]["match_type"], out[0]["edit_dist"], out[0]["city_id"]) == ("fuzzy", 1, 0)
    assert out[1]["match_type"] == "fuzzy" and out[1]["name"] == "London"
    assert out[2]["match_type"] == "fuzzy" and out[2]["name"] == "Berlin"
    assert out[3]["match_type"] is None and out[3]["city_id"] is None


def test_fuzzy_tiebreak_dist_then_name_then_id(spark):
    # two candidates at equal distance -> name asc wins, then city_id
    cities = spark.createDataFrame(
        pd.DataFrame(
            [
                (7, "Abd", [], 0.0, 0.0, "XX"),
                (3, "Abe", [], 1.0, 1.0, "XX"),
                (1, "Abf", [], 2.0, 2.0, "XX"),
            ],
            columns=["city_id", "name", "alt_names", "lat", "lon", "country"],
        )
    )
    out = city_by_name(_queries(spark, [(0, "Abz", "XX")]), cities).collect()[0]
    assert out["edit_dist"] == 1
    assert out["name"] == "Abd" and out["city_id"] == 7  # name asc before id


def _postal(spark):
    rows = [
        # country_code, postal_code, place_name, lat, lon, accuracy, line_no
        ("FR", "75001", "Paris 1er", 48.86, 2.34, 6, 0),
        ("FR", "75001", "Paris Louvre", 48.86, 2.33, 6, 1),  # last write wins
        ("US", "10001", "New York", 40.75, -73.99, 4, 2),
        ("DE", "10115", "Berlin Mitte", 52.53, 13.38, 6, 3),
        ("ca", "V5K", "Vancouver", 49.28, -123.04, 4, 4),  # lower case only
        ("GB", "SW1A", "London", 51.50, -0.14, 4, 5),
        ("GB", "SW1A", "Westminster", 51.50, -0.13, 4, 6),  # last GB write
        ("gb", "SW1A", "Whitehall", 51.50, -0.12, 4, 7),  # a different key
    ]
    return spark.createDataFrame(
        pd.DataFrame(
            rows,
            columns=[
                "country_code", "postal_code", "place_name",
                "lat", "lon", "accuracy", "line_no",
            ],
        )
    )


def test_postal_last_write_wins(spark):
    d = dedup_postal(_postal(spark)).where("postal_code = '75001'").collect()
    assert len(d) == 1 and d[0]["place_name"] == "Paris Louvre"  # postalCode.go:26-34


def test_postal_lookup_hit_miss_case(spark):
    q = spark.createDataFrame(
        pd.DataFrame(
            [
                (0, "75001", "fr"), (1, "10001", "US"), (2, "99999", "US"),
                (3, "V5K", "CA"), (4, "SW1A", "GB"), (5, "SW1A", "gb"),
            ],
            columns=["q_id", "q_code", "q_country"],
        )
    )
    rows = city_by_postal(q, _postal(spark)).collect()
    assert sorted(r["q_id"] for r in rows) == [0, 1, 2, 3, 4, 5]  # one row each
    out = {r["q_id"]: r for r in rows}
    assert out[0]["name"] == "Paris Louvre"  # lowercase country uppercased (routes.go:64)
    assert out[1]["name"] == "New York" and out[1]["accuracy"] == 4
    assert out[2]["name"] is None  # nil on miss (postalCode.go:62-63)
    # the stored code is matched as written: `ca` is not `CA`, and the
    # `gb` row neither answers a `GB` query nor displaces the last `GB` row
    assert out[3]["name"] is None
    assert out[4]["name"] == "Westminster"
    assert out[5]["name"] == "Westminster"


def test_name_lookup_strategies_equal(spark):
    """All three fuzzy physical strategies (symspell / scan / arrow)
    must produce identical rows — same candidates (SymSpell deletion
    neighborhoods are complete for Levenshtein <= d) and same
    (rank, edit distance, name) tie-break."""
    from cityfinder_spark import sqlcompat as sc
    from cityfinder_spark.colutils import spread
    from cityfinder_spark.contract import load_views
    from cityfinder_spark.operators.name_lookup import city_by_name

    load_views(spark, "/root/testdata/sf0.001", ("orders", "customer", "nation"))
    dim = spark.sql(sc.names_dim_sql())
    q = spread(spark.sql(sc.name_queries_sql()))
    outs = [
        sorted(map(tuple, city_by_name(q, dim, fuzzy_strategy=s).collect()))
        for s in ("symspell", "scan", "arrow")
    ]
    assert outs[0] == outs[1] == outs[2]
