"""Fixture parity on the reference's own GeoNames testdata samples
(1,000-row allCountries.txt / zipCodes.txt): the distributed analog of
cmd/server/main_test.go's randomized self-consistency suite —
querying at a known row's own key returns that row's data."""

from __future__ import annotations

import os

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from cityfinder_spark.operators.name_lookup import city_by_name
from cityfinder_spark.operators.nearest import nearest_city_join
from cityfinder_spark.operators.postal_lookup import city_by_postal
from cityfinder_spark.sources.geonames import (
    load_geonames_cities,
    load_postal_codes,
)

CITIES_TXT = "/root/reference/testdata/allCountries.txt"
ZIP_TXT = "/root/reference/testdata/zipCodes.txt"

needs_cities = pytest.mark.skipif(
    not os.path.exists(CITIES_TXT),
    reason=f"reference GeoNames sample {CITIES_TXT} not present",
)
needs_zip = pytest.mark.skipif(
    not os.path.exists(ZIP_TXT),
    reason=f"reference GeoNames sample {ZIP_TXT} not present",
)


@pytest.fixture(scope="module")
def geonames(spark):
    return load_geonames_cities(spark, CITIES_TXT).cache()


@pytest.fixture(scope="module")
def postal(spark):
    return load_postal_codes(spark, ZIP_TXT).cache()


@needs_cities
def test_cities_scan_schema_and_skip_semantics(geonames):
    rows = geonames.collect()
    assert 0 < len(rows) <= 1000
    for r in rows[:50]:
        assert -90 <= r["lat"] <= 90 and -180 <= r["lon"] <= 180
        assert isinstance(r["alt_names"], list)


@needs_zip
def test_postal_scan_zero_value_semantics(postal):
    assert postal.count() == 1000
    # numeric fields never null (zero-value fallback, zipCodes.go:42-44)
    assert postal.where(F.col("lat").isNull() | F.col("accuracy").isNull()).count() == 0


@needs_cities
def test_nearest_self_consistency(spark, geonames):
    """main_test.go:158-179: query at 20 known coordinates -> a city at
    distance 0 comes back (the row itself, or an exact co-located tie
    resolved by lowest city_id)."""
    sample = geonames.limit(200).collect()
    rng = np.random.default_rng(5)
    picks = rng.choice(len(sample), 20, replace=False)
    pts = spark.createDataFrame(
        pd.DataFrame(
            [(int(i), sample[i]["lat"], sample[i]["lon"]) for i in picks],
            columns=["pt_id", "lat", "lon"],
        )
    )
    got = {r["pt_id"]: r for r in nearest_city_join(pts, geonames).collect()}
    assert len(got) == 20
    for i in picks:
        assert got[int(i)]["dist_km"] == 0.0
        assert got[int(i)]["name"]


@needs_cities
def test_name_lookup_echoes_reference_rows(spark, geonames):
    """main_test.go:181-206 analog: exact lookup of 20 sampled
    (name, country) pairs returns a city with that name."""
    sample = geonames.limit(200).collect()
    rng = np.random.default_rng(6)
    picks = rng.choice(len(sample), 20, replace=False)
    q = spark.createDataFrame(
        pd.DataFrame(
            [(int(i), sample[i]["name"], sample[i]["country"]) for i in picks],
            columns=["q_id", "q_name", "q_country"],
        )
    )
    got = {r["q_id"]: r for r in city_by_name(q, geonames).collect()}
    for i in picks:
        r = got[int(i)]
        assert r["match_type"] == "exact"
        assert r["name"] is not None


@needs_zip
def test_postal_lookup_echoes_reference_rows(spark, postal):
    """main_test.go:208-233 analog: 20 sampled (country, code) pairs
    resolve to their place names (last-write-wins on duplicates)."""
    sample = postal.limit(400).collect()
    rng = np.random.default_rng(7)
    picks = rng.choice(len(sample), 20, replace=False)
    q = spark.createDataFrame(
        pd.DataFrame(
            [
                (int(i), sample[i]["postal_code"], sample[i]["country_code"])
                for i in picks
            ],
            columns=["q_id", "q_code", "q_country"],
        )
    )
    got = {r["q_id"]: r for r in city_by_postal(q, postal).collect()}
    for i in picks:
        assert got[int(i)]["name"] is not None
