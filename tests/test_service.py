"""Service-surface tests (SURVEY.md §2 K): single/batch clean, run-cycle
over the landing source, stats."""

from __future__ import annotations

import random
import sys
import time
from concurrent.futures import ThreadPoolExecutor

import pytest

from advanced_logistics_data_engineering_arabic_nlp_pipeline_spark.plans.trips import GOLDEN_TEXTS
from advanced_logistics_data_engineering_arabic_nlp_pipeline_spark.service import (
    LOCAL_MAX_TEXTS,
    CleaningService,
    clean_texts_df,
)
from advanced_logistics_data_engineering_arabic_nlp_pipeline_spark.sources.dictionary import (
    LOCATIONS,
)


def test_clean_one_readme_golden(spark):
    svc = CleaningService(spark)
    out = svc.clean_one("تشغيل 12 ساعه مطارررر القاهره وعوده")
    assert out["main_location"] == "Cairo Airport"  # via fuzzy tier
    assert out["trip_type"] == "Airport Transfer"
    assert out["all_locations"] == ["Cairo Airport"]
    assert out["processing_ms"] > 0


def test_clean_batch_one_pass(spark):
    svc = CleaningService(spark)
    out = svc.clean_batch(
        ["الهرم + المطار و وسط البلد", "", None, "فاتورة ادارة", "12345"]
    )
    r = out["results"]
    # per-item timing parity with the reference's batch response shape
    # (amortized share of the single vectorized pass)
    assert all(item["processing_ms"] > 0 for item in r)
    assert abs(sum(item["processing_ms"] for item in r) - out["total_ms"]) < len(r)
    assert r[0]["all_locations"] == ["Pyramids of Giza", "Cairo Airport", "Downtown Cairo"]
    assert r[0]["trip_type"] == "Airport Transfer"
    assert r[1]["main_location"] == "Undefined"
    assert r[2]["main_location"] == "Undefined"
    assert r[3]["trip_type"] == "Admin/Management"
    assert r[4]["main_location"] == "Unknown"


def test_clean_without_fuzzy_falls_back(spark):
    svc = CleaningService(spark, fuzzy_enabled=False)
    out = svc.clean_one("تشغيل 12 ساعه مطارررر القاهره وعوده")
    # without tier-3 the squeezed misspelling can't resolve → title fallback
    assert out["main_location"] == "تشغيل 12"
    assert out["trip_type"] == "Airport Transfer"  # cascade still fires on regex


def test_run_cycle_and_stats(spark, tmp_path):
    svc = CleaningService(spark)
    pages = [
        [
            {"serialId": 1, "confirm_status": True, "end_location": "مطار القاهرة"},
            {"serialId": 2, "confirm_status": False, "end_location": "الهرم"},
        ],
        [{"serialId": 3, "confirm_status": True, "end_location": "هيلتون"}],
    ]

    def fetch(page: int):
        return pages[page] if page < len(pages) else []

    out = svc.run_cycle(fetch, str(tmp_path / "cycle"))
    assert out["records"] == 2  # confirm_status gate dropped serialId 2
    assert out["landed"] == 3
    assert svc.stats()["status"] == "completed"


def test_config_from_env_and_from_env_service(spark, tmp_path):
    """The reference's documented ops knobs (api.py:106-134): FUZZY_ENABLED,
    FUZZY_CUTOFF, LOCATIONS_PATH drive service construction."""
    import json

    from advanced_logistics_data_engineering_arabic_nlp_pipeline_spark.service import config_from_env

    loc_path = tmp_path / "locations.json"
    loc_path.write_text(
        json.dumps({"TestPlace": ["مكان الاختبار"]}), encoding="utf-8"
    )
    env = {
        "FUZZY_ENABLED": "False",
        "FUZZY_CUTOFF": "90",
        "LOCATIONS_PATH": str(loc_path),
    }
    cfg = config_from_env(env)
    assert cfg["fuzzy_enabled"] is False
    assert cfg["fuzzy_cutoff"] == 90
    assert cfg["locations"] == {"TestPlace": ["مكان الاختبار"]}

    svc = CleaningService.from_env(spark, env)
    assert svc.fuzzy_enabled is False and svc.fuzzy_cutoff == 90
    out = svc.clean_one("مكان الاختبار")
    assert out["main_location"] == "TestPlace"

    # defaults: unset env → built-in dictionary, fuzzy on at cutoff 82
    svc2 = CleaningService.from_env(spark, {})
    assert svc2.fuzzy_enabled is True and svc2.fuzzy_cutoff == 82


def test_api_endpoint_functions_reference_shapes(spark, tmp_path):
    """The framework-free endpoint functions must return the reference's
    pydantic response field sets exactly (api.py:162-198)."""
    from advanced_logistics_data_engineering_arabic_nlp_pipeline_spark import api

    svc = CleaningService(spark)

    h = api.health_endpoint(svc)
    assert set(h) == {"status", "cleaner", "version", "time"}
    assert h["status"] == "ok" and h["cleaner"] == "ready"
    assert set(api.health_endpoint(None)) == {"status", "cleaner", "version", "time"}
    assert api.health_endpoint(None)["status"] == "degraded"

    one = api.clean_endpoint(svc, "رحلة الاهرام والمتحف المصرى")
    assert set(one) == {
        "original", "main_location", "all_locations", "trip_type", "processing_ms",
    }

    batch = api.clean_batch_endpoint(svc, ["الاهرام", "المطار"], fuzzy=False)
    assert set(batch) == {"results", "total", "processing_ms"}
    assert batch["total"] == 2

    def fetch(page: int):
        return (
            [{"serialId": 1, "confirm_status": True, "end_location": "الاهرام"}]
            if page == 0
            else []
        )

    cyc = api.run_cycle_endpoint(svc, fetch, str(tmp_path / "cycle"))
    assert set(cyc) == {
        "status", "records", "started_at", "finished_at", "duration_s",
    }
    assert cyc["status"] == "completed" and cyc["records"] == 1

    st = api.stats_endpoint(svc)
    assert set(st) == {"last_run_at", "records_saved", "status"}
    assert st["records_saved"] == 1 and st["last_run_at"] is not None

    # fastapi absent in this container: create_app must raise cleanly
    if not api.HAS_FASTAPI:
        import pytest as _pytest

        with _pytest.raises(ImportError, match="fastapi"):
            api.create_app(svc)


def test_clean_batch_join_path_leaves_no_cached_blocks(spark, monkeypatch, tmp_path):
    """ADVICE r4: on the broadcast-join path the cascade's cut-point caches
    used to outlive the request in a long-lived service. clean_batch's
    terminal collect must now unpersist them — zero persisted RDDs after
    the call (force the join path via MAPPING_LITERAL_MAX=0)."""
    from advanced_logistics_data_engineering_arabic_nlp_pipeline_spark.operators import lookup
    from advanced_logistics_data_engineering_arabic_nlp_pipeline_spark.service import CleaningService

    # other suite tests may hold session-lifetime blocks (e.g. RDD
    # localCheckpoints, which clearCache doesn't touch) — assert OUR
    # requests add nothing, via a storage snapshot diff
    def storage_ids():
        return {x.id() for x in spark.sparkContext._jsc.sc().getRDDStorageInfo()}

    before = storage_ids()
    monkeypatch.setattr(lookup, "MAPPING_LITERAL_MAX", 0)
    svc = CleaningService(spark)
    out = svc.clean_batch(["من الهرم الى المطار", "مطارر", None])
    assert len(out["results"]) == 3
    assert storage_ids() <= before

    # a small batch is now cleaned in the driver and never reaches the join
    # path; a batch above the local size limit and run_cycle still thread
    # caches_out through it
    big = [f"من الهرم الى المطار {i}" for i in range(LOCAL_MAX_TEXTS)] + ["مطارر", None]
    out = svc.clean_batch(big)
    assert len(out["results"]) == len(big)
    assert out["results"][-2]["main_location"] == "Cairo Airport"
    assert storage_ids() <= before

    def fetch(page: int):
        rows = [{"serialId": 1, "confirm_status": True, "end_location": "مطارر القاهره"}]
        return rows if page == 0 else []

    cyc = svc.run_cycle(fetch, str(tmp_path / "cycle"))
    assert cyc["records"] == 1
    assert storage_ids() <= before

    # literal path too (resolve_tokens_fuzzy unpersists internally — that
    # unpersist was also a no-op pre-r5 because the cache handle pointed at
    # a derived join plan, not the cached frame)
    monkeypatch.setattr(lookup, "MAPPING_LITERAL_MAX", 512)
    out = svc.clean_batch(["من الهرم الى المطار"])
    assert len(out["results"]) == 1
    assert storage_ids() <= before


def test_api_fuzzy_default_defers_to_service_config(spark):
    """Round-5 review regression: a /clean request that doesn't send a
    'fuzzy' field must NOT override the service's FUZZY_ENABLED config —
    the endpoint passes fuzzy=None through, and the service resolves it
    from its own configuration."""
    from advanced_logistics_data_engineering_arabic_nlp_pipeline_spark import api

    class Probe:
        def __init__(self):
            self.seen = []

        def clean_one(self, text, fuzzy=None):
            self.seen.append(fuzzy)
            return {"ok": True}

        def clean_batch(self, texts, fuzzy=None):
            self.seen.append(fuzzy)
            return {"results": [{}] * len(texts), "total_ms": 0.0}

    svc = Probe()
    api.clean_endpoint(svc, "x")
    api.clean_batch_endpoint(svc, ["x"])
    assert svc.seen == [None, None]
    api.clean_endpoint(svc, "x", fuzzy=False)
    assert svc.seen[-1] is False


# ── driver-local evaluation of small requests ───────────────────────────────

def _near_misses(seed: int, n: int) -> list[str]:
    """Seeded misspelt trip texts: a dictionary variant with one typist's
    edit (doubled, dropped or swapped letter, alef/ta-marbuta/tatweel
    forms), an optional operational prefix and filler words around it."""
    rng = random.Random(seed)
    variants = [v for vs in LOCATIONS.values() for v in vs]
    out = []
    for _ in range(n):
        w = rng.choice(variants)
        if len(w) >= 3:
            i = rng.randrange(1, len(w) - 1)
            w = rng.choice([
                w[:i] + w[i] + w[i:],
                w[:i] + w[i + 1:],
                w[: i - 1] + w[i] + w[i - 1] + w[i + 1:],
                w.replace("ا", "أ", 1),
                w[:i] + "ـ" + w[i:],
                w[:-1] + "ه" if w.endswith("ة") else w + "ه",
            ])
        parts = [rng.choice(["", "تشغيل", "توصيل", "رايح", "near"]), w]
        if rng.random() < 0.4:
            parts += [rng.choice(["و", "+", "،"]), rng.choice(variants)]
        if rng.random() < 0.3:
            parts.append(rng.choice(["وعوده", "ذهاب وعودة", "12 ساعه"]))
        out.append(" ".join(p for p in parts if p))
    return out


def _answers(out: dict) -> list[tuple]:
    return [
        (r["original"], r["main_location"], r["all_locations"], r["trip_type"])
        for r in out["results"]
    ]


def _reference(spark, svc: CleaningService, texts, fuzzy: bool) -> dict:
    """clean_texts_df over a createDataFrame of ``texts`` (the distributed
    path), keyed by text."""
    caches: list = []
    df = spark.createDataFrame([(t,) for t in dict.fromkeys(texts)], "text string")
    rows = clean_texts_df(
        df, "text", fuzzy, svc.index, cutoff=svc.fuzzy_cutoff, caches_out=caches
    ).collect()
    for c in caches:
        c.unpersist(blocking=True)
    return {
        r["text"]: (r["text"], r["main_location"], list(r["all_locations"]), r["trip_type"])
        for r in rows
    }


def _jobs(spark, fn, tag: str):
    """(fn's result, the Spark jobs it ran). A control job in a second
    group follows it: status events arrive in order, so once the control
    job is listed every job ``fn`` ran is listed too."""
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    group = f"test-service-{tag}-{time.monotonic_ns()}"
    sc.setJobGroup(group, tag)
    try:
        out = fn()
    finally:
        sc.setJobGroup(group + "-control", "control")
        sc.parallelize([1], 1).count()
        deadline = time.monotonic() + 30
        while not tracker.getJobIdsForGroup(group + "-control") and time.monotonic() < deadline:
            time.sleep(0.02)
        sc.setLocalProperty("spark.jobGroup.id", None)
    return out, len(tracker.getJobIdsForGroup(group))


def test_local_path_matches_clean_texts_df(spark):
    """Requests up to LOCAL_MAX_TEXTS are cleaned in the driver; every
    answer must equal the distributed clean_texts_df over createDataFrame:
    the golden corpus, seeded near-miss spellings, None/''/digits-only,
    the empty batch, a batch of exactly the limit (local) and one of the
    limit plus one (distributed)."""
    svc = CleaningService(spark)
    edge = [None, "", "   ", "12345", "٠١٢٣", "x"]
    messy = _near_misses(7, 120)
    at_limit = (list(GOLDEN_TEXTS) + edge + messy + _near_misses(11, LOCAL_MAX_TEXTS))[
        :LOCAL_MAX_TEXTS
    ]
    over = at_limit + ["رايح مطاار القاهره"]
    ref = _reference(spark, svc, over, fuzzy=True)

    assert svc.clean_batch([])["results"] == []
    with pytest.raises(TypeError):
        svc.clean_batch(["الهرم", 5])
    for batch in (list(GOLDEN_TEXTS), edge, messy, at_limit, over):
        got = _answers(svc.clean_batch(batch))
        assert got == [ref[t] for t in batch]
    for t in list(GOLDEN_TEXTS[:4]) + edge[:4] + messy[:4]:
        one = svc.clean_one(t)
        assert (one["original"], one["main_location"], one["all_locations"], one["trip_type"]) == ref[t]

    # tiers 1-2 only (fuzzy off) take the same local path
    ref12 = _reference(spark, svc, list(GOLDEN_TEXTS) + messy, fuzzy=False)
    got = _answers(svc.clean_batch(list(GOLDEN_TEXTS) + messy, fuzzy=False))
    assert got == [ref12[t] for t in list(GOLDEN_TEXTS) + messy]


def test_small_requests_run_no_spark_job(spark):
    """/clean and a small /clean/batch run no Spark job at all (fuzzy on:
    the tier-3 misses are scored in the driver); a batch above the limit
    takes the distributed path and does."""
    svc = CleaningService(spark)
    out, jobs = _jobs(spark, lambda: svc.clean_one("تشغيل 12 ساعه مطارررر القاهره وعوده"), "one")
    assert out["main_location"] == "Cairo Airport"
    assert jobs == 0
    out, jobs = _jobs(spark, lambda: svc.clean_batch(list(GOLDEN_TEXTS[:8]) + [None, ""]), "batch")
    assert len(out["results"]) == 10
    assert jobs == 0
    _, jobs = _jobs(spark, lambda: svc.clean_batch(["الهرم"] * (LOCAL_MAX_TEXTS + 1)), "big")
    assert jobs > 0


def test_concurrent_requests_match_serial_answers(spark):
    """8 threads issuing mixed /clean and /clean/batch calls on one
    CleaningService get exactly the serial answers and leave no persisted
    RDDs behind."""
    from advanced_logistics_data_engineering_arabic_nlp_pipeline_spark import api

    def storage_ids():
        return {x.id() for x in spark.sparkContext._jsc.sc().getRDDStorageInfo()}

    before = storage_ids()
    svc = CleaningService(spark)
    pool = list(GOLDEN_TEXTS) + _near_misses(5, 40) + [None, "", "12345"]
    rng = random.Random(13)
    reqs = [
        ("clean", [rng.choice(pool)]) if rng.random() < 0.5
        else ("batch", rng.sample(pool, rng.randint(2, 8)))
        for _ in range(32)
    ]

    def call(req):
        kind, texts = req
        if kind == "clean":
            r = api.clean_endpoint(svc, texts[0])
            return [(r["original"], r["main_location"], r["all_locations"], r["trip_type"])]
        return _answers({"results": api.clean_batch_endpoint(svc, texts)["results"]})

    serial = [call(r) for r in reqs]
    # more threads than cores, switching often, to widen any race window
    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)
    try:
        with ThreadPoolExecutor(max_workers=8) as ex:
            concurrent = list(ex.map(call, reqs, timeout=600))
    finally:
        sys.setswitchinterval(interval)
    assert concurrent == serial
    assert storage_ids() <= before


@pytest.mark.parametrize("fuzzy_enabled", [True, False])
def test_local_path_follows_swapped_settings(spark, fuzzy_enabled):
    """The driver-local expressions are built once per dictionary and
    cutoff; swapping a service's dictionary afterwards must still take
    effect."""
    svc = CleaningService(spark, fuzzy_enabled=fuzzy_enabled)
    assert svc.clean_one("مكان الاختبار")["main_location"] == "مكان الاختبار"
    from advanced_logistics_data_engineering_arabic_nlp_pipeline_spark.sources.dictionary import (
        build_variant_index,
    )

    svc.index = build_variant_index({"TestPlace": ["مكان الاختبار"]})
    assert svc.clean_one("مكان الاختبار")["main_location"] == "TestPlace"

    # the driver-local cleaner is shared per (dictionary, cutoff), not per
    # service
    from advanced_logistics_data_engineering_arabic_nlp_pipeline_spark.operators.extract import (
        local_cleaner,
    )

    other = CleaningService(spark)
    assert local_cleaner(svc.index, svc.fuzzy_cutoff) is not local_cleaner(
        other.index, other.fuzzy_cutoff
    )
