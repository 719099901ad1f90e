"""Location dictionary source (SURVEY.md §2 A6/E; fixture locations.json).

The reference loads ``{canonical: [variants]}`` once per process
(cleaner_v6.py:50-73), builds a first-wins reverse index of *normalized*
variants (cleaner_v6.py:149-154) and one longest-first alternation regex
(cleaner_v6.py:98-103). Spark-side equivalents:

- the reverse index → a broadcastable dim table / literal map expression
  (a dictionary is dimension DATA, tiny relative to any fact table — it is
  broadcast, never shuffled, at every scale factor);
- the alternation regex → a generated pattern whose *longest-first ordering
  is our codegen responsibility* (SURVEY.md §4) — the regex engine then keeps
  leftmost-first semantics in Spark (Java), DuckDB (RE2) and Python alike.

``LOCATIONS`` is the shipped 4-group / 17-variant fixture dictionary (data
from locations.json:1-27). Any ``{canonical: [variants]}`` mapping can be
passed to the builders instead.
"""

from __future__ import annotations

import json
import re
from functools import lru_cache

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.arabic import WORDCH, normalize_py

LOCATIONS: dict[str, list[str]] = {
    "Cairo Airport": [
        "مطار",
        "المطار",
        "مطار القاهرة",
        "airport",
        "سفرمطار",
        "استقبال مطار",
    ],
    "Pyramids of Giza": ["هرم", "الهرم", "اهرامات", "pyramids", "ابو الهول"],
    "Downtown Cairo": ["وسط البلد", "التحرير", "downtown", "ميدان التحرير"],
    "Helton Hotel": ["هيلتون", "فندق هيلتون"],
}


def load_locations_json(path: str) -> dict[str, list[str]]:
    """A6 (cleaner_v6.py:50-73): load {canonical: [variants]} from JSON.
    Missing or malformed files raise (the reference sys.exits; an engine
    raises and lets the caller decide)."""
    with open(path, encoding="utf-8") as f:
        data = json.load(f)
    if not isinstance(data, dict) or not all(
        isinstance(v, list) and all(isinstance(x, str) for x in v) for v in data.values()
    ):
        raise ValueError(f"malformed locations dictionary at {path}")
    return data


def build_variant_index(locations: dict[str, list[str]] | None = None) -> dict[str, str]:
    """First-wins reverse index {normalized_variant -> canonical}
    (cleaner_v6.py:149-154 semantics), in dictionary insertion order —
    the order also defines fuzzy-candidate iteration (tie-breaking).
    ``None`` means the built-in ``LOCATIONS``; an empty mapping is used as
    given and yields an empty index."""
    locations = LOCATIONS if locations is None else locations
    index: dict[str, str] = {}
    for canonical, variants in locations.items():
        for v in variants:
            nv = normalize_py(v)
            if nv and nv not in index:
                index[nv] = canonical
    return index


def tier2_pattern(index: dict[str, str] | None = None) -> str:
    """Boundary-guarded alternation of all normalized variants, sorted
    longest-first so longer names win (cleaner_v6.py:98-103). Boundaries are
    consuming WORDCH classes (see functions.arabic) with the variant itself
    as capture group 1 — identical in Java, RE2 and Python."""
    index = index if index is not None else build_variant_index()
    ordered = sorted(index.keys(), key=len, reverse=True)
    alt = "|".join(re.escape(v) for v in ordered)
    return f"(?:^|[^{WORDCH}])({alt})(?:$|[^{WORDCH}])"


@lru_cache(maxsize=1)
def _default_index() -> dict[str, str]:
    return build_variant_index()


def variant_map_expr(index: dict[str, str] | None = None) -> Column:
    """A {string: string} mapping, by default the reverse index, as one
    MAP column, the inlined stand-in for the reference's dict lookup
    (README.md:48). It is not an O(1) lookup: Spark finds a map key by
    scanning the keys, so each lookup costs time linear in the map's size
    (a bare ``element_at`` over 4M rows took 0.18 s with the built-in 17
    variants and 3.61 s with 2,000; ROADMAP item 3 plans a hashed
    lookup). For a dictionary too big to inline, use :func:`dim_table` +
    broadcast join instead.

    The map is ``from_json`` of one JSON string literal: a few py4j calls
    whatever the size (``F.lit`` of a list is one call per element, so
    ``map_from_arrays`` of two list literals cost 2×|variants| + 3).
    Distributed plans fold it to a literal map. Over a driver-local
    relation it is evaluated unfolded (``ConvertToLocalRelation`` runs
    before constant folding), yet a warm one-text /clean with a
    2,000-variant dictionary took 62-85 ms with it, against 288-292 ms
    with two list literals and 487 ms with a SQL ``map(...)`` (4 vCPUs);
    with the built-in dictionary the three forms were within noise."""
    index = index if index is not None else _default_index()
    return F.from_json(F.lit(json.dumps(index)), "map<string,string>")


def dim_table(spark: SparkSession, index: dict[str, str] | None = None) -> DataFrame:
    """(variant_norm, canonical) dim table for broadcast equi-joins —
    the scalable form of the reverse index for large dictionaries."""
    index = index if index is not None else _default_index()
    return spark.createDataFrame(
        [(k, v) for k, v in index.items()], ["variant_norm", "canonical"]
    )


# ── SQL mirrors for the DuckDB oracle ────────────────────────────────────────

def _sq(s: str) -> str:
    return s.replace("'", "''")


def sql_tier1_case(e: str, index: dict[str, str] | None = None) -> str:
    """CASE <norm> WHEN variant THEN canonical ... — tier-1 exact lookup."""
    index = index if index is not None else _default_index()
    whens = " ".join(f"WHEN '{_sq(k)}' THEN '{_sq(v)}'" for k, v in index.items())
    return f"(CASE {e} {whens} END)"


def sql_tier2_case(e: str, index: dict[str, str] | None = None) -> str:
    """Tier-2: first boundary-guarded variant contained in <norm> → canonical."""
    index = index if index is not None else _default_index()
    pat = tier2_pattern(index)
    extract = f"regexp_extract({e}, '{_sq(pat)}', 1)"
    whens = " ".join(f"WHEN '{_sq(k)}' THEN '{_sq(v)}'" for k, v in index.items())
    return f"(CASE {extract} {whens} END)"
