"""with_nlp_enrichment's driver-local path (up to ENRICH_LOCAL_MAX_TEXTS
distinct texts, enriched by the shared LocalCleaner and applied back as
one map literal) against its distributed path, forced by setting the limit
to 0."""

from __future__ import annotations

import pytest

from advanced_logistics_data_engineering_arabic_nlp_pipeline_spark.operators import extract
from advanced_logistics_data_engineering_arabic_nlp_pipeline_spark.plans.trips import GOLDEN_TEXTS
from advanced_logistics_data_engineering_arabic_nlp_pipeline_spark.sources.dictionary import (
    build_variant_index,
)
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
    """The golden corpus, seeded near-miss spellings, texts around
    dictionary variants, the bare variants and None/''/blank/digits-only
    texts, each twice, and a non-string text column: the same (text, locs,
    End_Location_Clean, Trip_Type) on both paths."""
    variants = list(build_variant_index())
    around = [f"من {v} الى المطار" for v in variants[:12]] + ["مطارر ثم هيلتو", "xyz only"]
    bare = variants[:20] + ["xyz-no-match", "قريب من " + variants[0], "ذهاب وعودة الهرم"]
    texts = (
        list(GOLDEN_TEXTS) + _near_misses(7, 120) + around + bare
        + [None, "", "  ", "   ", "12345", "٠١٢٣"]
    )
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


def test_second_distributed_build_builds_no_nlp_expression(spark, monkeypatch):
    """The distributed paths read the shared cleaner's expressions: once it
    exists, building clean_texts_df or with_nlp_enrichment's fallback, with
    fuzzy on or off, builds none of the NLP block's expressions again (the
    fuzzy pandas UDF included)."""
    from advanced_logistics_data_engineering_arabic_nlp_pipeline_spark import service
    from advanced_logistics_data_engineering_arabic_nlp_pipeline_spark.operators import lookup

    df = spark.createDataFrame([(t,) for t in GOLDEN_TEXTS[:4]], "t string")
    service.clean_texts_df(df, "t", fuzzy=False)
    builders = (
        "extract_all_locations_expr", "end_location_clean_expr", "categorize_trip_type_expr",
        "token_forms", "staged_tokens_expr", "cascade_order_expr", "tier12_expr",
        "fuzzy_lookup_udf",
    )
    modules = (extract, lookup, service)
    # a listed name no module defines would be skipped below, and the test
    # would check less than it says
    assert [n for n in builders if not any(hasattr(m, n) for m in modules)] == []
    built = []
    for module in modules:
        for name in builders:
            if hasattr(module, name):
                def counted(*a, _fn=getattr(module, name), _name=name, **k):
                    built.append(_name)
                    return _fn(*a, **k)

                monkeypatch.setattr(module, name, counted)
    for fuzzy in (False, True):
        service.clean_texts_df(df, "t", fuzzy=fuzzy)
        monkeypatch.setitem(extract.ENRICH_LOCAL_MAX_TEXTS, fuzzy, 0)
        assert "HashAggregate" in _plan(df, fuzzy)
    assert built == []
