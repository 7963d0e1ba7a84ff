"""Seeded input generators for the benchmark.

Every generator is a pure function of (seed, size): the same arguments
give byte-identical tables. Tables are plain dicts of NumPy arrays so the
oracles can use them without Spark; `materialize` writes a table as
evenly sized Parquet files (at least one per core, so the scan splits
into equal tasks) and caches it by (name, seed, size).

The cities dimension is clustered like real settlements: metro centres
carry Zipf weights, so a few metros hold thousands of towns while most
hold a handful, and names repeat within and across countries.
"""

from __future__ import annotations

import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

N_COUNTRIES = 120
_SYLLABLES = (
    "ka ra to mi na lo be sa ri en an ul or vi de la mo ta ne si "
    "ber gen burg ville ton ham stad dorf polis grad"
).split()
_LETTERS = "abcdefghijklmnopqrstuvwxyz"


def _rng(seed: int, stream: str) -> np.random.Generator:
    # one independent stream per table, so adding a table never shifts
    # the values of another
    return np.random.default_rng([seed, sum(map(ord, stream)) * 7919 + len(stream)])


def _country_codes() -> np.ndarray:
    codes = [a + b for a in "ABCDEFGHIJKLMNOPQRSTUVWXYZ" for b in "ABCDEFGHIJKLMNOPQRSTUVWXYZ"]
    return np.array(codes[:N_COUNTRIES], dtype=object)


def _name_pool(rng: np.random.Generator, n: int) -> np.ndarray:
    """n distinct capitalised syllable names, 2-4 syllables each."""
    out: list[str] = []
    seen: set[str] = set()
    syl = np.array(_SYLLABLES, dtype=object)
    while len(out) < n:
        k = rng.integers(2, 5, size=n)
        picks = rng.integers(0, len(syl), size=(n, 4))
        for row, kk in zip(picks, k):
            s = "".join(syl[row[:kk]]).capitalize()
            if s not in seen:
                seen.add(s)
                out.append(s)
                if len(out) == n:
                    break
    return np.array(out, dtype=object)


def cities(seed: int, n: int) -> dict[str, np.ndarray]:
    """Clustered cities dimension: (city_id, name, lat, lon, country).

    n // 20 metro centres with Zipf(1.0) weights; towns scatter around
    their metro with a spread growing as the square root of its town
    count, so a big metro is both larger and denser. Countries
    are 15-degree tiles of the globe, so a metro's towns share a
    country. Names come from a pool of n // 3 with power-law reuse:
    common names repeat inside one country and across countries."""
    rng = _rng(seed, "cities")
    n_metro = max(1, n // 20)
    # centres mostly between 55S and 70N, where people live
    c_lat = np.degrees(np.arcsin(rng.uniform(-0.82, 0.94, n_metro)))
    c_lon = rng.uniform(-180.0, 180.0, n_metro)
    w = 1.0 / np.arange(1, n_metro + 1)
    per_metro = rng.multinomial(n, w / w.sum())
    metro = np.repeat(np.arange(n_metro), per_metro)
    spread = np.sqrt(per_metro / 20.0) * rng.uniform(0.56, 1.04, n_metro)
    spread = np.clip(spread, 0.1, 8.0)[metro]
    lat = np.clip(c_lat[metro] + rng.normal(0.0, 1.0, n) * spread, -89.9, 89.9)
    coslat = np.maximum(np.cos(np.radians(lat)), 0.05)
    lon = c_lon[metro] + rng.normal(0.0, 1.0, n) * spread / coslat
    lon = (lon + 180.0) % 360.0 - 180.0
    tile = (np.floor((c_lat + 90.0) / 15.0) * 24 + np.floor((c_lon + 180.0) / 15.0)).astype(np.int64)
    country = _country_codes()[(tile * 2654435761 % 2**31) % N_COUNTRIES][metro]
    pool = _name_pool(rng, max(1, n // 3))
    zipf_rank = np.minimum(rng.zipf(1.3, n) - 1, len(pool) - 1)
    name = pool[(zipf_rank + rng.integers(0, len(pool), n) * (rng.random(n) < 0.7)) % len(pool)]
    order = rng.permutation(n)  # ids are not spatially ordered
    return {
        "city_id": np.arange(n, dtype=np.int64),
        "name": name[order],
        "lat": np.round(lat[order], 6),
        "lon": np.round(lon[order], 6),
        "country": country[order],
    }


def postal(seed: int, cty: dict[str, np.ndarray]) -> dict[str, np.ndarray]:
    """Postal dimension over half the cities, ~10 % of rows repeating an
    earlier (country, postal_code) key with another place: the reference
    keeps the LAST row in file order (line_no) for such keys."""
    rng = _rng(seed, "postal")
    n = len(cty["city_id"])
    src = rng.choice(n, size=max(1, n // 2), replace=False)
    code = np.array([f"{c:05d}" for c in rng.integers(0, 100_000, len(src))], dtype=object)
    country = cty["country"][src]
    dup = rng.choice(len(src), size=max(1, len(src) // 10), replace=False)
    other = rng.choice(n, size=len(dup))
    country = np.concatenate([country, country[dup]])
    code = np.concatenate([code, code[dup]])
    place = np.concatenate([cty["name"][src], cty["name"][other]])
    lat = np.concatenate([cty["lat"][src], cty["lat"][other]])
    lon = np.concatenate([cty["lon"][src], cty["lon"][other]])
    m = len(code)
    # lower-case country codes on ~5 % of rows. GeoNames writes upper-case
    # ISO codes; the rate is this benchmark's choice, not measured data.
    # The reference keys on the code as written and upper-cases only the
    # query, so these rows are never found (oracle.PostalOracle).
    lower = rng.random(m) < 0.05
    country = np.where(lower, np.char.lower(country.astype(str)).astype(object), country)
    return {
        "country_code": country,
        "postal_code": code,
        "place_name": place,
        "lat": lat,
        "lon": lon,
        "accuracy": rng.integers(1, 7, m).astype(np.int32),
        "line_no": np.arange(m, dtype=np.int64),
    }


def dense_points(seed: int, n: int, cty: dict[str, np.ndarray]) -> dict[str, np.ndarray]:
    """Geotags near towns: a random city plus ~5 km of jitter, so point
    density follows city density (the hot metros get the most points)."""
    rng = _rng(seed, "dense")
    pick = rng.integers(0, len(cty["city_id"]), n)
    lat = np.clip(cty["lat"][pick] + rng.normal(0.0, 0.05, n), -89.99, 89.99)
    coslat = np.maximum(np.cos(np.radians(lat)), 0.05)
    lon = (cty["lon"][pick] + rng.normal(0.0, 0.05, n) / coslat + 180.0) % 360.0 - 180.0
    return {"pt_id": np.arange(n, dtype=np.int64), "lat": lat, "lon": lon}


def sparse_points(seed: int, n: int) -> dict[str, np.ndarray]:
    """Points uniform on the sphere: mostly ocean, some polar."""
    rng = _rng(seed, "sparse")
    lat = np.degrees(np.arcsin(rng.uniform(-1.0, 1.0, n)))
    lon = rng.uniform(-180.0, 180.0, n)
    return {"pt_id": np.arange(n, dtype=np.int64), "lat": lat, "lon": lon}


def payload(seed: int, n: int, cty: dict[str, np.ndarray]) -> dict[str, np.ndarray]:
    """Image+caption rows (image_id, bytes, w, h, fmt, caption, phash,
    lat, lon) geotagged near towns. `bytes` is incompressible random
    data of 1-8 KiB, so stored size tracks the payload, not the codec."""
    rng = _rng(seed, "payload")
    pts = dense_points(seed + 1, n, cty)
    sizes = rng.integers(1024, 8192, n)
    blob = rng.bytes(int(sizes.sum()))
    ends = np.cumsum(sizes)
    starts = ends - sizes
    data = np.empty(n, dtype=object)
    for i in range(n):
        data[i] = blob[starts[i]:ends[i]]
    w = rng.integers(8, 1024, n).astype(np.int32)
    h = rng.integers(8, 1024, n).astype(np.int32)
    fmt = np.where(rng.random(n) < 0.5, "png", "jpeg").astype(object)
    caption = np.array(
        [f"photo {i}: a {a}x{b} {f} scene" for i, a, b, f in zip(range(n), w, h, fmt)],
        dtype=object,
    )
    return {
        "image_id": np.array([f"img{i:010d}" for i in range(n)], dtype=object),
        "bytes": data,
        "w": w,
        "h": h,
        "fmt": fmt,
        "caption": caption,
        "phash": rng.integers(-(2**63), 2**63 - 1, n, dtype=np.int64),
        "lat": pts["lat"],
        "lon": pts["lon"],
    }


def _edit(rng: np.random.Generator, s: str, k: int) -> str:
    """k random single-character edits (substitute, insert or delete)."""
    for _ in range(k):
        op = int(rng.integers(0, 3))
        i = int(rng.integers(0, len(s) + (op == 1)))
        c = _LETTERS[int(rng.integers(0, 26))]
        if op == 0 and s:
            s = s[:i] + c + s[i + 1:]
        elif op == 1:
            s = s[:i] + c + s[i:]
        elif len(s) > 1:
            s = s[:i] + s[i + 1:]
    return s


NAME_KINDS = ("exact", "edit1", "edit2", "miss")


def name_queries(seed: int, n: int, cty: dict[str, np.ndarray]) -> list[tuple[str, str, str]]:
    """(kind, name, country) lookups, kinds cycling through NAME_KINDS.
    Countries are sometimes lower-case (the finder upper-cases them).
    A 'miss' is a long random string, far from every generated name."""
    rng = _rng(seed, "names")
    out = []
    for i in range(n):
        kind = NAME_KINDS[i % len(NAME_KINDS)]
        c = int(rng.integers(0, len(cty["city_id"])))
        country = str(cty["country"][c])
        if rng.random() < 0.2:
            country = country.lower()
        if kind == "miss":
            name = "".join(_LETTERS[int(j)] for j in rng.integers(0, 26, 14))
        else:
            name = _edit(rng, str(cty["name"][c]), NAME_KINDS.index(kind))
        out.append((kind, name, country))
    return out


def postal_queries(seed: int, n: int, pst: dict[str, np.ndarray]) -> list[tuple[str, str]]:
    """(code, country) lookups: 3 in 4 hit a stored key (duplicated keys
    included), the rest ask for a code that is not stored."""
    rng = _rng(seed, "postalq")
    out = []
    for _ in range(n):
        if rng.random() < 0.75:
            r = int(rng.integers(0, len(pst["postal_code"])))
            out.append((str(pst["postal_code"][r]), str(pst["country_code"][r]).upper()))
        else:
            out.append((f"X{int(rng.integers(0, 10**6)):06d}", "AA"))
    return out


def nearest_queries(seed: int, n: int, cty: dict[str, np.ndarray]) -> list[tuple[float, float]]:
    """(lat, lon) lookups: half near towns, half anywhere on the sphere."""
    d = dense_points(seed + 2, n, cty)
    s = sparse_points(seed + 3, n)
    near = np.arange(n) % 2 == 0
    lat = np.where(near, d["lat"], s["lat"])
    lon = np.where(near, d["lon"], s["lon"])
    return list(zip(lat.tolist(), lon.tolist()))


def materialize(make, path: str, n_files: int) -> str:
    """Write the table `make()` returns as n_files Parquet files of equal
    row count under `path`, unless an earlier call already did. The
    directory appears atomically, so a killed or concurrent run never
    sees a half-written input."""
    if os.path.exists(os.path.join(path, "_DONE")):
        return path
    table = make()
    tmp = f"{path}.tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    at = pa.table({k: list(v) if v.dtype == object else v for k, v in table.items()})
    bounds = np.linspace(0, at.num_rows, n_files + 1).astype(int)
    for k in range(n_files):
        pq.write_table(
            at.slice(bounds[k], bounds[k + 1] - bounds[k]),
            os.path.join(tmp, f"part-{k:05d}.parquet"),
            compression="snappy",
        )
    open(os.path.join(tmp, "_DONE"), "w").close()
    try:
        os.rename(tmp, path)
    except OSError:  # another run put the same table in place first
        shutil.rmtree(tmp, ignore_errors=True)
    return path
