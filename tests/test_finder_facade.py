"""CityFinder facade: the reference's three public entry points
(finder.go:47-64) over the distributed operators, exercised with the
golden fixtures of s2_test.go and the reference's own testdata."""

from __future__ import annotations

import os

import pytest

from cityfinder_spark.finder import CityFinder
from cityfinder_spark.sources.geonames import (
    load_geonames_cities,
    load_postal_codes,
)
from tests.test_nearest import THREE, _cities_df

CITIES_TXT = "/root/reference/testdata/allCountries.txt"
ZIP_TXT = "/root/reference/testdata/zipCodes.txt"

# the tests that sample the reference's own rows need both sample files
needs_samples = pytest.mark.skipif(
    not (os.path.exists(CITIES_TXT) and os.path.exists(ZIP_TXT)),
    reason=f"reference GeoNames samples {CITIES_TXT} / {ZIP_TXT} not present",
)


@pytest.fixture(scope="module")
def finder(spark):
    cities = load_geonames_cities(spark, CITIES_TXT)
    postal = load_postal_codes(spark, ZIP_TXT)
    return CityFinder(cities, postal)


@pytest.fixture(scope="module")
def three_city_finder(spark):
    # golden 3-city fixture (reference s2_test.go:12-16)
    return CityFinder(_cities_df(spark, THREE))


@needs_samples
def test_find_nearest_city(spark, finder):
    sample = finder.cities.limit(1).collect()[0]
    got = finder.find_nearest_city(sample["lat"], sample["lon"])
    assert got is not None and got["DistanceKm"] == 0.0
    assert got["Latitude"] == sample["lat"] and got["Longitude"] == sample["lon"]


def test_find_nearest_city_validates_range(three_city_finder):
    with pytest.raises(ValueError):
        three_city_finder.find_nearest_city(95.0, 0.0)  # routes.go:26-32 '400'


@needs_samples
def test_find_city_by_name_exact_and_fuzzy(finder):
    sample = finder.cities.limit(5).collect()[0]
    exact = finder.find_city_by_name(sample["name"], sample["country"])
    assert exact is not None and exact["MatchType"] == "exact"
    # distance-1 mutation -> fuzzy hit on a unique-enough name
    mutated = sample["name"][:-1] + ("x" if sample["name"][-1] != "x" else "y")
    fuzzy = finder.find_city_by_name(mutated, sample["country"])
    assert fuzzy is not None and fuzzy["EditDist"] <= 2


@needs_samples
def test_find_city_by_postal_code(finder):
    sample = finder.postal.limit(1).collect()[0]
    got = finder.find_city_by_postal_code(
        sample["postal_code"], sample["country_code"]
    )
    assert got is not None and got["Name"] is not None
    miss = finder.find_city_by_postal_code("zz-no-such-code", "ZZ")
    assert miss is None


@needs_samples
def test_save_load_index_roundtrip(spark, finder, tmp_path):
    """S5/S6/S7 parity: persist the index tables to Parquet, reload,
    and get identical answers from all three entry points."""
    path = str(tmp_path / "idx")
    finder.save_index(path)
    loaded = CityFinder.load_index(spark, path)
    assert loaded.level == finder.level and loaded.ring == finder.ring
    q = (40.73, -74.0)
    assert loaded.find_nearest_city(*q) == finder.find_nearest_city(*q)
    a = finder.find_city_by_name("london", "GB")
    b = loaded.find_city_by_name("london", "GB")
    assert a == b
    assert loaded.find_city_by_postal_code(
        "10001", "US"
    ) == finder.find_city_by_postal_code("10001", "US")
