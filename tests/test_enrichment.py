"""with_nlp_enrichment's driver-local path (up to ENRICH_LOCAL_MAX_TEXTS
distinct texts, enriched by the shared LocalCleaner and broadcast-joined
back) against its distributed path, forced by setting the limit to 0."""

from __future__ import annotations

import pytest

from advanced_logistics_data_engineering_arabic_nlp_pipeline_spark.operators import extract
from advanced_logistics_data_engineering_arabic_nlp_pipeline_spark.plans.trips import GOLDEN_TEXTS
from tests.test_service import _near_misses

OUT = ["t", "locs", "End_Location_Clean", "Trip_Type"]


def _enriched(df, fuzzy: bool) -> list[tuple]:
    rows = extract.with_nlp_enrichment(df, "t", fuzzy=fuzzy).select(*OUT).collect()
    return sorted(((r[0], list(r[1]), r[2], r[3]) for r in rows), key=repr)


def _distributed(df, fuzzy: bool, monkeypatch) -> list[tuple]:
    with monkeypatch.context() as m:
        m.setitem(extract.ENRICH_LOCAL_MAX_TEXTS, fuzzy, 0)
        return _enriched(df, fuzzy)


def _plan(df, fuzzy: bool) -> str:
    return extract.with_nlp_enrichment(df, "t", fuzzy=fuzzy)._jdf.queryExecution().toString()


@pytest.mark.parametrize("fuzzy", [True, False])
def test_local_enrichment_matches_distributed(spark, monkeypatch, fuzzy):
    """The golden corpus, seeded near-miss spellings and None/''/blank/
    digits-only texts, each twice, and a non-string text column: the same
    (text, locs, End_Location_Clean, Trip_Type) on both paths."""
    texts = list(GOLDEN_TEXTS) + _near_misses(7, 120) + [None, "", "   ", "12345", "٠١٢٣"]
    df = spark.createDataFrame([(t,) for t in texts + texts], "t string")
    assert "HashAggregate" not in _plan(df, fuzzy)
    assert _enriched(df, fuzzy) == _distributed(df, fuzzy, monkeypatch)

    nums = spark.createDataFrame([(v,) for v in [12345, 7, 0, -3, None, 7]], "t bigint")
    got = _enriched(nums, fuzzy)
    assert got == _distributed(nums, fuzzy, monkeypatch)
    assert (12345, [], "Unknown", "Standard Transfer") in got


@pytest.mark.parametrize("fuzzy", [True, False])
def test_enrichment_limit_boundary(spark, monkeypatch, fuzzy):
    """Exactly the limit's number of distinct texts take the local path, one
    more takes the distributed one; both match the distributed answers."""
    monkeypatch.setitem(extract.ENRICH_LOCAL_MAX_TEXTS, fuzzy, 40)
    texts = list(dict.fromkeys(list(GOLDEN_TEXTS) + _near_misses(3, 40)))[:41]
    at_limit = spark.createDataFrame([(t,) for t in texts[:40]], "t string")
    over = spark.createDataFrame([(t,) for t in texts], "t string")
    assert "HashAggregate" not in _plan(at_limit, fuzzy)
    assert "HashAggregate" in _plan(over, fuzzy)
    assert _enriched(at_limit, fuzzy) == _distributed(at_limit, fuzzy, monkeypatch)
    assert _enriched(over, fuzzy) == _distributed(over, fuzzy, monkeypatch)
