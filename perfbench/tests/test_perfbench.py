"""Self-tests for the benchmark's own code (no Spark session needed).

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import os
import sys

import numpy as np
import pyarrow.parquet as pq
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [os.path.dirname(HERE), os.path.dirname(os.path.dirname(HERE))]

import gen  # noqa: E402
import oracle  # noqa: E402
from spans import Span, parse_metric, self_time_by_layer, self_times  # noqa: E402
import speed  # noqa: E402


def _same(a, b) -> bool:
    if isinstance(a, dict):
        return a.keys() == b.keys() and all(
            np.array_equal(a[k], b[k]) if a[k].dtype != object else list(a[k]) == list(b[k])
            for k in a
        )
    return a == b


@pytest.fixture(scope="module")
def cty():
    return gen.cities(3, 2_000)


@pytest.mark.parametrize(
    "make",
    [
        lambda s, c: gen.cities(s, 2_000),
        lambda s, c: gen.postal(s, c),
        lambda s, c: gen.dense_points(s, 500, c),
        lambda s, c: gen.sparse_points(s, 500),
        lambda s, c: gen.payload(s, 50, c),
        lambda s, c: gen.name_queries(s, 40, c),
        lambda s, c: gen.postal_queries(s, 40, gen.postal(s, c)),
        lambda s, c: gen.nearest_queries(s, 40, c),
    ],
    ids=["cities", "postal", "dense", "sparse", "payload", "names", "postal_q", "nearest_q"],
)
def test_generators_are_deterministic_per_seed(make, cty):
    assert _same(make(7, cty), make(7, cty))
    assert not _same(make(7, cty), make(8, cty))


def test_cities_are_clustered_with_repeated_names(cty):
    assert np.array_equal(cty["city_id"], np.arange(2_000))
    names = list(zip(cty["country"], cty["name"]))
    assert len(set(cty["name"])) < len(cty["name"])  # across countries
    assert len(set(names)) < len(names)  # within one country
    # the busiest 5-degree cell holds far more towns than uniform points give
    def busiest(lat, lon):
        return np.unique(np.floor(lat / 5) * 72 + np.floor(lon / 5), return_counts=True)[1].max()

    uniform = gen.sparse_points(3, 2_000)
    assert busiest(cty["lat"], cty["lon"]) > 5 * busiest(uniform["lat"], uniform["lon"])


def test_postal_has_duplicate_keys(cty):
    p = gen.postal(3, cty)
    keys = list(zip(np.char.upper(p["country_code"].astype(str)), p["postal_code"]))
    assert len(set(keys)) < len(keys)


def test_name_queries_cover_every_kind(cty):
    kinds = [k for k, _, _ in gen.name_queries(3, 8, cty)]
    assert set(kinds) == set(gen.NAME_KINDS)


def test_materialize_writes_even_files_once(tmp_path):
    path = str(tmp_path / "t")
    calls = []

    def make():
        calls.append(1)
        return gen.sparse_points(1, 1_001)

    assert gen.materialize(make, path, 4) == path
    files = sorted(f for f in os.listdir(path) if f.endswith(".parquet"))
    rows = [pq.read_metadata(os.path.join(path, f)).num_rows for f in files]
    assert len(files) == 4 and sum(rows) == 1_001 and max(rows) - min(rows) <= 1
    gen.materialize(make, path, 4)
    assert len(calls) == 1


# ---- oracle on a hand-checked fixture ----

FIX = {
    "city_id": np.array([1, 2, 3, 4], np.int64),
    "name": np.array(["Paris", "Lyon", "Paris", "Nice"], object),
    "lat": np.array([48.8566, 45.7640, 10.0, 0.0]),
    "lon": np.array([2.3522, 4.8357, 10.0, 1.0]),
    "country": np.array(["FR", "FR", "FR", "XX"], object),
}


def test_nearest_oracle_argmin_and_tie_break():
    # Orleans: 0.9536 deg south and 0.4429 deg west of Paris, i.e.
    # ~106.0 km and ~32.7 km, so ~111.0 km from Paris (1) vs ~300 from Lyon (2)
    pos, dist = oracle.nearest(FIX, np.array([47.9030]), np.array([1.9093]))
    assert pos[0] == 0 and dist[0] == pytest.approx(110.97, abs=0.05)
    # (0, 0.5) is equidistant from (0, 0)-like twins: ties go to the lower city_id
    twins = {k: v.copy() for k, v in FIX.items()}
    twins["lat"][2:] = 0.0
    twins["lon"][2:] = 1.0
    pos, _ = oracle.nearest(twins, np.array([0.0]), np.array([0.5]))
    assert twins["city_id"][pos[0]] == 3


def test_name_oracle_rules():
    o = oracle.NameOracle(FIX)
    assert o.lookup("Paris", "fr") == (0, "exact", 0)  # lowest city_id of the two
    assert o.lookup("Pariss", "FR") == (0, "fuzzy", 1)
    assert o.lookup("Lyn", "FR") == (1, "fuzzy", 1)
    assert o.lookup("Lxyn", "FR") == (1, "fuzzy", 2)
    assert o.lookup("Lqxyn", "FR") is None  # 3 edits
    assert o.lookup("Nice", "FR") is None  # other country only
    assert o.lookup("Nice", "XX") == (3, "exact", 0)


def test_name_oracle_fuzzy_tie_break_by_distance_then_name():
    cities = {
        "city_id": np.array([5, 6, 7], np.int64),
        "name": np.array(["Abd", "Abc", "Abcd"], object),
        "lat": np.zeros(3), "lon": np.zeros(3),
        "country": np.array(["AA", "AA", "AA"], object),
    }
    o = oracle.NameOracle(cities)
    assert o.lookup("Abx", "AA") == (1, "fuzzy", 1)  # Abc < Abd at distance 1
    assert o.lookup("Abcdx", "AA") == (2, "fuzzy", 1)


def test_postal_oracle_last_write_wins():
    p = {
        "country_code": np.array(["FR", "FR", "DE", "fr"], object),
        "postal_code": np.array(["75001", "75001", "75001", "75001"], object),
        "line_no": np.array([0, 1, 2, 3]),
    }
    o = oracle.PostalOracle(p)
    assert o.lookup("75001", "fr") == 1  # last upper-case row; the query is upper-cased
    assert o.lookup("75001", "DE") == 2
    assert o.lookup("99999", "FR") is None


def test_postal_oracle_never_finds_lower_case_stored_codes():
    p = {
        "country_code": np.array(["de", "DE", "it"], object),
        "postal_code": np.array(["10115", "20095", "00100"], object),
        "line_no": np.array([0, 1, 2]),
    }
    o = oracle.PostalOracle(p)
    assert o.lookup("10115", "de") is None  # stored as "de" only
    assert o.lookup("20095", "de") == 1
    assert o.lookup("00100", "IT") is None


def test_levenshtein():
    assert oracle.levenshtein("kitten", "sitting") == 3
    assert oracle.levenshtein("", "abc") == 3
    assert oracle.levenshtein("abc", "abc") == 0


def test_same_city_tolerates_rounding_only():
    want = {"Name": "Paris", "DistanceKm": 1.2345}
    assert oracle.same_city({"Name": "Paris", "DistanceKm": 1.2346}, want)
    assert not oracle.same_city({"Name": "Paris", "DistanceKm": 1.2348}, want)
    assert not oracle.same_city({"Name": "Lyon", "DistanceKm": 1.2345}, want)
    assert oracle.same_city(None, None) and not oracle.same_city(None, want)


# ---- span arithmetic ----


def test_self_time_subtracts_union_of_children():
    spans = [
        Span("bench.job", 0.0, 10.0, id=0),
        Span("nearest.plan", 1.0, 3.0, id=1, parent=0),
        Span("spark.action", 2.0, 5.0, id=2, parent=0),  # overlaps the first child
        Span("spark.action", 7.0, 8.0, id=3, parent=0),
        Span("nearest.inner", 7.5, 7.75, id=4, parent=3),
        Span("bench.job", 12.0, 13.0, id=5),
    ]
    assert self_times(spans) == pytest.approx([5.0, 2.0, 3.0, 0.75, 0.25, 1.0])
    layers = self_time_by_layer(spans)
    assert layers == pytest.approx({"bench": 6.0, "nearest": 2.25, "spark": 3.75})
    # self times add up to the roots' wall time plus the time siblings overlap
    assert sum(layers.values()) == pytest.approx(10.0 + 1.0 + 1.0)


def test_self_time_clips_children_to_parent_and_works_on_slices():
    spans = [Span("a.x", 0.0, 4.0, id=7), Span("b.y", 3.0, 6.0, id=8, parent=7)]
    assert self_times(spans) == pytest.approx([3.0, 3.0])


@pytest.mark.parametrize(
    "text, value",
    [
        ("100,000", 100_000),
        ("total (min, med, max (stageId: taskId))\n9.6 s (2.3 s, 2.4 s, 2.6 s (stage 0.0: task 1))", 9.6),
        ("total (min, med, max (stageId: taskId))\n781.8 KiB (195.5 KiB, 195.5 KiB, 195.5 KiB)", 781.8 * 1024),
        ("total (min, med, max (stageId: taskId))\n350 ms (1 ms, 2 ms, 3 ms)", 0.35),
        ("total (min, med, max (stageId: taskId))\n1.5 m (1 s, 2 s, 3 s)", 90.0),
        ("", 0.0),
    ],
)
def test_parse_metric(text, value):
    assert parse_metric(text) == pytest.approx(value)


# ---- speed reference ----


def test_adjust_removes_stolen_share():
    assert speed.adjust(2.0, 100, 0) == pytest.approx(2.0)
    # a quarter of the wanted CPU time was stolen: three quarters remain
    assert speed.adjust(2.0, 300, 100) == pytest.approx(1.5)
    assert speed.not_stolen(0, 0) == 1.0


def test_cpu_ticks_grow():
    busy0, steal0 = speed.cpu_ticks()
    sum(i * i for i in range(300_000))
    busy1, steal1 = speed.cpu_ticks()
    assert busy1 >= busy0 > 0 and steal1 >= steal0 >= 0
