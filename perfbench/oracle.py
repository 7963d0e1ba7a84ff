"""Independent answers for checking the engine's outputs.

Nearest city is a brute-force global argmin in NumPy: the distance is
the haversine of `geo.distance.haversine_np` rounded to
`sqlcompat.ROUND_DIGITS`, and ties go to the lowest `city_id`. Name and
postal lookups are plain Python dictionaries with the reference's
rules: an exact name resolves to the lowest `city_id`; otherwise the
closest name within two edits in the queried country wins (then the
smaller name, then the lowest `city_id`); a postal key repeated in the
file resolves to its last row. The reference keys its postal map on the
country code as the file writes it and upper-cases only the query's
code (routes.go:64), so a row stored under a lower-case code is never
found.
"""

from __future__ import annotations

import numpy as np

from cityfinder_spark.geo.distance import haversine_np
from cityfinder_spark.sqlcompat import ROUND_DIGITS

# the engine's kernel and haversine_np may round a distance that sits on
# a rounding edge to neighbouring 4th decimals (libm ulps)
DIST_TOL_KM = 1.5 * 10.0 ** -ROUND_DIGITS


def rounded(d: np.ndarray) -> np.ndarray:
    scale = 10.0 ** ROUND_DIGITS
    return np.floor(d * scale + 0.5) / scale


def nearest(cities: dict[str, np.ndarray], lat: np.ndarray, lon: np.ndarray,
            chunk: int = 16) -> tuple[np.ndarray, np.ndarray]:
    """(city position, rounded km) of the global nearest city per point.
    Positions index `cities`, whose city_id must ascend (then the first
    minimum is the lowest city_id)."""
    assert np.all(np.diff(cities["city_id"]) > 0)
    pos = np.empty(len(lat), np.int64)
    dist = np.empty(len(lat))
    for a in range(0, len(lat), chunk):
        d = rounded(haversine_np(
            lat[a:a + chunk, None], lon[a:a + chunk, None],
            cities["lat"][None, :], cities["lon"][None, :],
        ))
        pos[a:a + chunk] = np.argmin(d, axis=1)
        dist[a:a + chunk] = d[np.arange(len(d)), pos[a:a + chunk]]
    return pos, dist


def levenshtein(a: str, b: str) -> int:
    prev = list(range(len(b) + 1))
    for i, ca in enumerate(a, 1):
        cur = [i]
        for j, cb in enumerate(b, 1):
            cur.append(min(prev[j] + 1, cur[j - 1] + 1, prev[j - 1] + (ca != cb)))
        prev = cur
    return prev[-1]


class NameOracle:
    def __init__(self, cities: dict[str, np.ndarray], max_dist: int = 2):
        self.max_dist = max_dist
        self.first: dict[tuple[str, str], int] = {}
        for pos, (cid, name, country) in enumerate(
            zip(cities["city_id"], cities["name"], cities["country"])
        ):
            key = (str(country).upper(), str(name))
            if key not in self.first or cid < cities["city_id"][self.first[key]]:
                self.first[key] = pos
        self.by_country: dict[str, list[str]] = {}
        for country, name in self.first:
            self.by_country.setdefault(country, []).append(name)

    def lookup(self, name: str, country: str) -> tuple[int, str, int] | None:
        """(city position, match type, edit distance) or None."""
        country = country.upper()
        if (country, name) in self.first:
            return self.first[(country, name)], "exact", 0
        best = None
        for cand in self.by_country.get(country, ()):
            if abs(len(cand) - len(name)) > self.max_dist:
                continue
            d = levenshtein(name, cand)
            if d <= self.max_dist and (best is None or (d, cand) < best):
                best = (d, cand)
        if best is None:
            return None
        return self.first[(country, best[1])], "fuzzy", best[0]


class PostalOracle:
    def __init__(self, postal: dict[str, np.ndarray]):
        self.last: dict[tuple[str, str], int] = {}
        for row in np.argsort(postal["line_no"], kind="stable"):
            key = (str(postal["country_code"][row]), str(postal["postal_code"][row]))
            self.last[key] = int(row)

    def lookup(self, code: str, country: str) -> int | None:
        """The last row stored under (country as written, code); only
        the query's country is upper-cased."""
        return self.last.get((country.upper(), code))


def same_city(got: dict | None, want: dict | None) -> bool:
    """Field-wise equality of two answer dicts; floats compared with
    the rounding tolerance."""
    if got is None or want is None:
        return got is None and want is None
    for k, v in want.items():
        g = got.get(k)
        if isinstance(v, float):
            if g is None or abs(float(g) - v) > DIST_TOL_KM:
                return False
        elif g != v:
            return False
    return True
