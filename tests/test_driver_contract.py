"""Every queries() entry must match its oracle_sql() via DuckDB —
the same comparison the driver's correctness gate performs
(run at sf0.001 here for speed; tests/run_contract_check.py runs any sf).
"""

from __future__ import annotations

import os

import duckdb
import pytest

import __spark_entry__ as entrymod
from cityfinder_spark import contract as C
from tests.run_contract_check import TABLES, compare

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def duck():
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF_DIR}/{t}.parquet')"
        )
    return con


# keys whose query and oracle read one of the reference's GeoNames samples
_REF_SAMPLES = {
    "geonames_scan": f"{C._REF_TESTDATA}/allCountries.txt",
    "postal_scan": f"{C._REF_TESTDATA}/zipCodes.txt",
}


def _ids():
    out = []
    for name in sorted(entrymod.queries().keys()):
        path = _REF_SAMPLES.get(name)
        marks = ()
        if path is not None:
            marks = pytest.mark.skipif(
                not os.path.exists(path),
                reason=f"reference GeoNames sample {path} not present",
            )
        out.append(pytest.param(name, marks=marks))
    return out


@pytest.mark.parametrize("name", _ids())
def test_query_matches_oracle(spark, duck, name):
    fn = entrymod.queries()[name]
    spark_pdf = fn(spark, SF_DIR).toPandas()
    oracle = entrymod.oracle_sql().get(name)
    if oracle is None:
        assert len(spark_pdf) > 0, f"rows-only query {name} returned 0 rows"
        return
    duck_pdf = duck.execute(oracle).fetchdf()
    errs = compare(name, spark_pdf, duck_pdf)
    assert not errs, "\n".join(errs)


def test_entry_smoke(spark):
    df = entrymod.entry(spark)
    assert df.count() > 0


def test_contract_registry_consistency():
    """Every queries() key must have an oracle and a bench entry, and
    bench must not name dead keys — the net that keeps new operators
    from silently missing a gate or the round-over-round regression
    radar."""
    import importlib
    import sys

    sys.path.insert(0, "/root/repo")
    import bench as bench_mod

    importlib.reload(bench_mod)
    from cityfinder_spark import contract as C

    qs, os_ = set(C.queries()), set(C.oracle_sql())
    hl = set(bench_mod.HEADLINE)
    assert qs == os_, f"oracle drift: {qs ^ os_}"
    assert qs - hl == set(), f"keys missing from bench: {qs - hl}"
    assert hl - qs <= {"nearest_city_10m"}, f"dead bench keys: {hl - qs}"
    # every rows/sec fact table must be a real key's table
    assert set(bench_mod._FACT_TABLE) <= hl
