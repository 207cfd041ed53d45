"""Seeded raw feeds for the five pipeline datasets, plus an independent
pandas reference of what the pipeline must store and serve.

Feed shapes follow FIXTURES.md sections 1-4:

- ``food_supply_gap``: Socrata JSON records with ``:``-prefixed metadata
  columns, display-style names and string values; duplicate keys (keep
  last), bad numerics and out-of-range percentages.
- ``census_acs``: Census rows keyed by variable code, with negative sentinels.
- ``ntas_2020``: Socrata JSON records with GeoJSON polygon strings; a few
  NTAs carry garbage geometry and never appear in the food feed.
- ``census_zctas_2020``: TIGER attributes with WKT polygons (CSV).
- ``zillow_zori``: the wide matrix, one column per month (CSV).

``write_feeds`` writes the initial load of all five and ``rounds`` upsert
slices of the three refreshed between boundary releases (food, ACS,
Zillow). Each slice mixes updated keys, new keys and, for the
year-partitioned food feed, a new year partition; most food updates hit the
latest year. The reference
(``Reference``) replays the same feeds with plain pandas: keep-last per key,
out-of-range and non-numeric values to NULL, sentinels to NULL.
"""

from __future__ import annotations

import json
import os
from dataclasses import dataclass, field

import numpy as np
import pandas as pd

_EXT = {
    "food_supply_gap": "json",
    "census_acs": "csv",
    "ntas_2020": "json",
    "census_zctas_2020": "csv",
    "zillow_zori": "csv",
}
_BOROS = ["Bronx", "Brooklyn", "Manhattan", "Queens", "Staten Island"]
_FIRST_YEAR = 2012
_MONTHS = pd.date_range("2023-01-31", periods=36, freq="ME").strftime("%Y-%m-%d").tolist()


@dataclass(frozen=True)
class Sizes:
    """Initial-load and per-round slice sizes. DESIGN.md gives the source of
    each figure, or says that it is a choice."""

    ntas: int = 262  # NYC's 2020 NTAs; the food feed has one row per NTA and year
    nta_garbage: int = 6
    food_years: int = 12
    zips: int = 183  # NYC's ZIPs: the reference's ZIP universe (ZctaTransformer)
    months: int = 36
    polygon_vertices: int = 24
    slice_updates: int = 18  # a tenth of the ZIPs, per dataset and round
    slice_new: int = 4


def _polygon(rng: np.random.Generator, n: int) -> list[list[float]]:
    cx, cy = rng.uniform(-74.3, -73.7), rng.uniform(40.5, 40.9)
    ang = np.sort(rng.uniform(0, 2 * np.pi, n))
    r = rng.uniform(0.002, 0.01, n)
    pts = [[round(cx + r[i] * np.cos(ang[i]), 6), round(cy + r[i] * np.sin(ang[i]), 6)] for i in range(n)]
    return pts + [pts[0]]


def _geojson(rng, n) -> str:
    return json.dumps({"type": "Polygon", "coordinates": [_polygon(rng, n)]}, separators=(",", ":"))


def _wkt(rng, n) -> str:
    return "POLYGON ((" + ", ".join(f"{x!r} {y!r}" for x, y in _polygon(rng, n)) + "))"


def _nta_code(i: int) -> str:
    return f"NT{i:04d}"


def _zip(i: int) -> str:
    return f"{10001 + i:05d}"


def _num(rng, lo, hi, bad_share: float) -> str:
    """A numeric string, or a non-numeric token with probability bad_share."""
    return "n/a" if rng.random() < bad_share else f"{rng.uniform(lo, hi):.2f}"


class _Gen:
    """Produces feed frames. Key spaces grow across rounds (new keys), and
    every frame is built from this one rng, so the feed sequence is a pure
    function of the seed."""

    def __init__(self, seed: int, sizes: Sizes):
        self.rng = np.random.default_rng([seed, 0xFEED])
        self.s = sizes
        self.next_food_code = sizes.ntas
        self.next_zip = sizes.zips
        self.latest_year = _FIRST_YEAR + sizes.food_years - 1
        self.arrival = 0

    # -- food supply gap (Socrata, year-partitioned) -----------------------
    def _food_row(self, year: int, code: int) -> dict:
        rng = self.rng
        self.arrival += 1
        pct = rng.uniform(-10, 130)  # ~25% outside [0, 100] -> NULL
        return {
            ":id": f"row-{self.arrival}",
            ":created_at": "2024-01-01T00:00:00.000Z",
            "Data Year": str(year),
            "NTA2020": _nta_code(code),
            "NTAName": f"Neighborhood {code}",
            "Boro": _BOROS[code % 5],
            "Supply Gap": _num(rng, 0, 5e6, 0.03),
            "Supply Gap Percent": "oops" if rng.random() < 0.02 else f"{pct:.1f}",
            "Gap Rank": str(int(rng.integers(1, 400))),
        }

    def food(self, initial: bool) -> pd.DataFrame:
        s, rng = self.s, self.rng
        rows = []
        if initial:
            for y in range(_FIRST_YEAR, self.latest_year + 1):
                rows += [self._food_row(y, c) for c in range(s.ntas)]
        else:
            # updates favour the latest year; new codes; a new year partition
            for c in rng.choice(self.next_food_code, s.slice_updates, replace=False):
                year = self.latest_year if rng.random() < 0.75 else int(
                    rng.integers(_FIRST_YEAR, self.latest_year))
                rows.append(self._food_row(year, int(c)))
            for c in range(self.next_food_code, self.next_food_code + s.slice_new):
                rows.append(self._food_row(self.latest_year, c))
            self.next_food_code += s.slice_new
            self.latest_year += 1
            for c in rng.choice(self.next_food_code, s.slice_new, replace=False):
                rows.append(self._food_row(self.latest_year, int(c)))
        # ~5% re-sent keys later in the same feed (keep-last dedup)
        for i in rng.choice(len(rows), max(1, len(rows) // 20), replace=False):
            r = rows[int(i)]
            rows.append(self._food_row(int(r["Data Year"]), int(r["NTA2020"][2:])))
        return pd.DataFrame(rows)

    # -- census ACS (sentinels) ------------------------------------------
    def acs(self, zips) -> pd.DataFrame:
        rng = self.rng
        out = []
        for z in zips:
            universe = int(rng.integers(200, 60_000))
            count = str(int(universe * rng.uniform(0.02, 0.45)))
            income = str(int(rng.integers(20_000, 250_000)))
            if rng.random() < 0.06:
                income = "-666666666"
            if rng.random() < 0.03:
                count = "-999999999"
            out.append({"B17001_002E": count, "B17001_001E": str(universe),
                        "B19013_001E": income, "zcta": _zip(z)})
        return pd.DataFrame(out)

    # -- NTA polygons (Socrata GeoJSON) -----------------------------------
    def ntas(self, codes, garbage=()) -> pd.DataFrame:
        rng = self.rng
        out = []
        for c in list(codes) + list(garbage):
            self.arrival += 1
            out.append({
                ":id": f"nta-{self.arrival}",
                "NTA2020": _nta_code(c),
                "NTAName": f"Neighborhood {c}",
                "BoroName": _BOROS[c % 5],
                "Shape_STAr": _num(rng, 1e5, 5e7, 0.02),
                "the_geom": "garbage-geometry" if c in garbage else _geojson(rng, self.s.polygon_vertices),
            })
        return pd.DataFrame(out)

    # -- ZCTA polygons (WKT) ----------------------------------------------
    def zctas(self, zips) -> pd.DataFrame:
        return pd.DataFrame(
            {"ZCTA5CE20": [_zip(z) for z in zips],
             "geometry": [_wkt(self.rng, self.s.polygon_vertices) for _ in zips]}
        )

    # -- Zillow wide matrix -----------------------------------------------
    def zillow(self, zips, months) -> pd.DataFrame:
        rng = self.rng
        base = rng.uniform(1_500, 5_000, len(zips))
        cols = {"RegionName": [_zip(z) for z in zips]}
        for j, m in enumerate(months):
            v = np.round(base * (1 + 0.003 * j) + rng.normal(0, 20, len(zips)), 2)
            v[rng.random(len(zips)) < 0.15] = np.nan  # missing months
            cols[m] = v
        df = pd.DataFrame(cols)
        df.loc[df.index[rng.random(len(df)) < 0.01], months] = np.nan  # all-null rows
        return df

    def initial(self) -> dict[str, pd.DataFrame]:
        s = self.s
        garbage = range(9_000, 9_000 + s.nta_garbage)  # outside every food code
        zips = range(s.zips)
        return {
            "food_supply_gap": self.food(initial=True),
            "census_acs": self.acs(zips),
            "ntas_2020": self.ntas(range(s.ntas), garbage),
            "census_zctas_2020": self.zctas(zips),
            "zillow_zori": self.zillow(zips, _MONTHS[-s.months:]),
        }

    def round_slice(self, r: int) -> dict[str, pd.DataFrame]:
        """One round for the datasets refreshed between boundary releases
        (the NTA and ZCTA boundaries are decennial): updated and new ZIPs."""
        s = self.s
        updated = self.rng.choice(self.next_zip, s.slice_updates, replace=False)
        zips = [int(z) for z in updated] + list(range(self.next_zip, self.next_zip + s.slice_new))
        self.next_zip += s.slice_new
        new_month = (pd.Timestamp(_MONTHS[-1]) + pd.offsets.MonthEnd(r + 1)).strftime("%Y-%m-%d")
        return {
            "food_supply_gap": self.food(initial=False),
            "census_acs": self.acs(zips),
            "zillow_zori": self.zillow(zips, _MONTHS[-2:] + [new_month]),
        }


def _write(df: pd.DataFrame, path: str) -> None:
    if path.endswith(".json"):
        df.to_json(path, orient="records", lines=True)
    else:
        df.to_csv(path, index=False)


@dataclass
class FeedSet:
    """Paths of the written feeds: ``initial[dataset]`` and
    ``rounds[r][dataset]``, with the raw row count of every file."""

    initial: dict[str, str] = field(default_factory=dict)
    rounds: list[dict[str, str]] = field(default_factory=list)
    rows: dict[str, int] = field(default_factory=dict)
    frames: dict[str, pd.DataFrame] = field(default_factory=dict, repr=False)


def write_feeds(out_dir: str, seed: int, rounds: int, sizes: Sizes = Sizes()) -> FeedSet:
    """Write the initial feeds and ``rounds`` slices under ``out_dir``."""
    gen = _Gen(seed, sizes)
    fs = FeedSet()

    def emit(tag: str, frames: dict[str, pd.DataFrame]) -> dict[str, str]:
        paths = {}
        for ds, df in frames.items():
            d = os.path.join(out_dir, tag)
            os.makedirs(d, exist_ok=True)
            p = os.path.join(d, f"{ds}.{_EXT[ds]}")
            _write(df, p)
            paths[ds] = p
            fs.rows[p] = len(df)
            fs.frames[p] = df
        return paths

    fs.initial = emit("initial", gen.initial())
    for r in range(rounds):
        fs.rounds.append(emit(f"round{r:03d}", gen.round_slice(r)))
    return fs


# ---------------------------------------------------------------------------
# pandas reference
# ---------------------------------------------------------------------------


def _to_num(s: pd.Series) -> pd.Series:
    return pd.to_numeric(s, errors="coerce")


def _keep_last(df: pd.DataFrame, keys: list[str]) -> pd.DataFrame:
    return df.drop_duplicates(subset=keys, keep="last")


def reference_transform(dataset: str, raw: pd.DataFrame) -> pd.DataFrame:
    """What one feed file should become after transform + validate, with
    pandas semantics: coercing casts, range/sentinel NULLing, keep-last."""
    if dataset == "food_supply_gap":
        pct = _to_num(raw["Supply Gap Percent"])
        out = pd.DataFrame({
            "year": _to_num(raw["Data Year"]).astype("int64"),
            "nta_code": raw["NTA2020"].str.strip(),
            "supply_gap_lbs": _to_num(raw["Supply Gap"]),
            "supply_gap_pct": pct.where(pct.between(0, 100)),
        })
        return _keep_last(out, ["year", "nta_code"])
    if dataset == "census_acs":
        num = {c: _to_num(raw[c]) for c in ("B17001_002E", "B17001_001E", "B19013_001E")}
        num = {c: v.where(v >= 0) for c, v in num.items()}  # sentinels -> NULL
        out = pd.DataFrame({
            "zip_code": raw["zcta"].str.strip(),
            "poverty_rate": (num["B17001_002E"] / num["B17001_001E"] * 100).round(2),
            "median_household_income": num["B19013_001E"],
            "year": 2023,
        })
        return _keep_last(out, ["zip_code", "year"])
    if dataset == "ntas_2020":
        return _keep_last(pd.DataFrame({"nta2020": raw["NTA2020"].str.strip()}), ["nta2020"])
    if dataset == "census_zctas_2020":
        return _keep_last(pd.DataFrame({"zip_code": raw["ZCTA5CE20"].str.strip()}), ["zip_code"])
    if dataset == "zillow_zori":
        months = [c for c in raw.columns if c != "RegionName"]
        long = raw.melt(id_vars=["RegionName"], value_vars=months, var_name="date", value_name="v")
        long["v"] = _to_num(long["v"])
        long = long.dropna(subset=["v"]).sort_values(["RegionName", "date"])
        latest = long.groupby("RegionName", as_index=False).last()
        return pd.DataFrame({"zip_code": latest["RegionName"].str.strip(), "rent_index": latest["v"]})
    raise KeyError(dataset)


_KEYS = {
    "food_supply_gap": ["year", "nta_code"],
    "census_acs": ["zip_code", "year"],
    "ntas_2020": ["nta2020"],
    "census_zctas_2020": ["zip_code"],
    "zillow_zori": ["zip_code"],
}


class Reference:
    """Replays feed files in ingest order; ``apply`` returns the expected
    stored row count of the dataset's table after that upsert, and
    ``doc_features`` the expected feature count of each serving document."""

    def __init__(self):
        self.tables: dict[str, pd.DataFrame] = {}

    def apply(self, dataset: str, raw: pd.DataFrame) -> int:
        new = reference_transform(dataset, raw)
        old = self.tables.get(dataset)
        merged = new if old is None else _keep_last(pd.concat([old, new]), _KEYS[dataset])
        self.tables[dataset] = merged.reset_index(drop=True)
        return len(merged)

    def doc_features(self) -> dict[str, int]:
        food = self.tables["food_supply_gap"]
        ntas = set(self.tables["ntas_2020"]["nta2020"])
        zctas = set(self.tables["census_zctas_2020"]["zip_code"])
        acs = self.tables["census_acs"]
        latest = food[food["year"] == food["year"].max()]
        acs_ok = acs[
            (acs["year"] == acs["year"].max())
            & acs["poverty_rate"].notna()
            & acs["median_household_income"].notna()
        ]
        return {
            "food_gaps": int(latest["nta_code"].isin(ntas).sum()),
            "poverty_by_zip": int(acs_ok["zip_code"].isin(zctas).sum()),
            "rent_by_zip": int(self.tables["zillow_zori"]["zip_code"].isin(zctas).sum()),
        }
