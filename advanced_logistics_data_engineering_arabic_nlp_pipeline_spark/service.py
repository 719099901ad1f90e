"""Service surface (SURVEY.md §2 K; api.py:162-382 behavior).

The reference exposes the cleaner through FastAPI endpoints: /clean (single),
/clean/batch (sequential list-comp — its own docstring claims "vectorised",
api.py:12, but it loops), /run-cycle (broken import as shipped, api.py:334),
/stats and /health. This module is the engine-side equivalent: the HTTP
framing is out of engine scope, but every endpoint's computation is here,
with /clean/batch actually one pass over the batch and /run-cycle actually
working (landing source + enrichment instead of the broken import).

/clean and /clean/batch requests of up to
``operators.extract.LOCAL_MAX_TEXTS`` (4,096) texts run in the driver with
no Spark job, like the reference's in-process cleaner
(cleaner_v6.py:37,180), through the same shared ``extract.local_cleaner``
that enriches each trips report's distinct texts: the texts become a
driver-local relation, tiers 1-2 run as the engine's Column expressions
(Catalyst's ``ConvertToLocalRelation`` folds them into the local data),
and the few tier-3 misses are scored in the driver by the same function
the fuzzy pandas UDF calls. No Python worker starts. The cascade order,
the per-string fuzzy rule and the hit assembly are shared with the
distributed path, so both give the same answers (pinned by
tests/test_service.py and tests/test_enrichment.py). A larger
batch is one distributed :func:`clean_texts_df` pass. The limit sits at
half the measured crossover. Best of two warm runs, fuzzy on, 4 vCPUs,
local against distributed: texts whose tokens are all unique (the worst
case for driver-side scoring) take 0.45 against 3.80 s at 256 texts,
1.54 against 3.51 s at 2,000, 3.00 against 4.52 s at 4,000 and 5.87
against 6.34 s at 8,000; messy texts with repeating tokens take 0.84
against 3.44 s at 2,000 and 2.41 against 5.04 s at 8,000. The local pass
is single-threaded and grows ~0.75 ms per all-unique text, while the
distributed pass is ~3.5 s of fixed cost.
"""

from __future__ import annotations

import os
import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from . import __version__
from .operators.extract import (
    LOCAL_MAX_TEXTS,
    categorize_trip_type_expr,
    end_location_clean_expr,
    extract_all_locations_expr,
    local_cleaner,
    with_all_locations_fuzzy,
)
from .sources import landing
from .sources.dictionary import build_variant_index, load_locations_json


def clean_texts_df(
    df: DataFrame,
    text_col: str = "text",
    fuzzy: bool = True,
    index: dict[str, str] | None = None,
    cutoff: float | None = None,
    caches_out: list | None = None,
) -> DataFrame:
    """F5 shared codepath (api.py:210-225 = Main.py:406-425): adds
    all_locations, main_location, trip_type for a text column.
    ``caches_out`` collects join-path cut-point caches for the caller to
    unpersist after its terminal action (large-mapping requests in a
    long-lived service must not leak cached blocks)."""
    index = index if index is not None else build_variant_index()
    if fuzzy:
        # id_col is documented as ignored (resolution keys on the text
        # itself) — pass the text column like with_nlp_enrichment does;
        # the old fabricated __rid monotonically_increasing_id column was
        # dead work in every request
        df = with_all_locations_fuzzy(
            df, text_col, text_col, "all_locations", index, cutoff=cutoff,
            caches_out=caches_out,
        )
    else:
        df = df.withColumn("all_locations", extract_all_locations_expr(F.col(text_col), index))
    t, locs = F.col(text_col), F.col("all_locations")
    df = df.withColumn("main_location", end_location_clean_expr(t, locs))
    return df.withColumn("trip_type", categorize_trip_type_expr(t, locs))


def config_from_env(env: dict[str, str] | None = None) -> dict:
    """The reference's documented ops knobs, read the same way it reads
    them at startup (api.py:106-134): ``FUZZY_ENABLED`` (``"true"``/
    ``"false"``, case-insensitive), ``FUZZY_CUTOFF`` (int score 0-100),
    ``LOCATIONS_PATH`` (path to a ``{canonical: [variants]}`` JSON; unset →
    the built-in dictionary)."""
    env = env if env is not None else dict(os.environ)
    locations_path = env.get("LOCATIONS_PATH")
    return {
        "fuzzy_enabled": env.get("FUZZY_ENABLED", "true").lower() == "true",
        "fuzzy_cutoff": int(env.get("FUZZY_CUTOFF", "82")),
        "locations": (
            load_locations_json(locations_path) if locations_path else None
        ),
    }


class CleaningService:
    """Driver-side service state (the reference's singleton cleaner +
    module-global stats, api.py:106-134, 354-359)."""

    def __init__(
        self,
        spark: SparkSession,
        locations: dict[str, list[str]] | None = None,
        fuzzy_enabled: bool = True,
        fuzzy_cutoff: float = 82,
    ) -> None:
        self.spark = spark
        self.fuzzy_enabled = fuzzy_enabled
        self.fuzzy_cutoff = fuzzy_cutoff
        self.index = build_variant_index(locations) if locations else build_variant_index()
        self._last_stats: dict = {"status": "idle", "records": 0}

    @classmethod
    def from_env(
        cls, spark: SparkSession, env: dict[str, str] | None = None
    ) -> "CleaningService":
        """Construct from the reference's env-var config surface
        (:func:`config_from_env`)."""
        cfg = config_from_env(env)
        return cls(
            spark,
            locations=cfg["locations"],
            fuzzy_enabled=cfg["fuzzy_enabled"],
            fuzzy_cutoff=cfg["fuzzy_cutoff"],
        )

    def health(self) -> dict:
        return {"status": "ok", "version": __version__, "fuzzy": self.fuzzy_enabled}

    def clean_one(self, text: str | None, fuzzy: bool | None = None) -> dict:
        t0 = time.perf_counter()
        row = self.clean_batch([text], fuzzy=fuzzy)["results"][0]
        row["processing_ms"] = round((time.perf_counter() - t0) * 1000, 3)
        return row

    def clean_batch(
        self, texts: list[str | None], fuzzy: bool | None = None
    ) -> dict:
        """The whole batch in one pass, as the reference's /clean/batch
        claims but doesn't do (api.py:301-304). Up to ``LOCAL_MAX_TEXTS``
        texts the pass runs in the driver with no Spark job (the
        reference's in-process serving); a larger batch is one distributed
        DataFrame pass. Per-item ``processing_ms`` mirrors the reference's
        response shape (api.py:301-311); because the batch is one pass,
        the per-item figure is the amortized share of the pass, not a
        per-row wall clock (which doesn't exist in a set-oriented engine)."""
        t0 = time.perf_counter()
        # request bodies come from outside: both paths must reject what
        # createDataFrame's string schema rejects (the local path's JSON
        # parse would quietly stringify a number)
        bad = [t for t in texts if t is not None and not isinstance(t, str)]
        if bad:
            raise TypeError(f"texts must be str or None, got {type(bad[0]).__name__}")
        use_fuzzy = self.fuzzy_enabled if fuzzy is None else fuzzy
        if len(texts) <= LOCAL_MAX_TEXTS:
            cleaner = local_cleaner(self.index, self.fuzzy_cutoff)
            collected = cleaner.clean(self.spark, texts, use_fuzzy)
        else:
            collected = self._clean_distributed(texts, use_fuzzy)
        total_ms = round((time.perf_counter() - t0) * 1000, 3)
        per_item_ms = round(total_ms / max(len(collected), 1), 3)
        results = [
            {
                "original": r["text"],
                "main_location": r["main_location"],
                "all_locations": list(r["all_locations"]),
                "trip_type": r["trip_type"],
                "processing_ms": per_item_ms,
            }
            for r in collected
        ]
        return {"results": results, "total_ms": total_ms}

    def _clean_distributed(self, texts: list[str | None], fuzzy: bool) -> list:
        df = self.spark.createDataFrame(
            [(i, t) for i, t in enumerate(texts)], "idx int, text string"
        )
        caches: list = []
        out = clean_texts_df(
            df, "text", fuzzy, self.index, cutoff=self.fuzzy_cutoff,
            caches_out=caches,
        ).orderBy("idx")
        collected = out.collect()
        # collect() is the terminal action: any join-path cut-point caches
        # are dead weight now — a long-lived service must not accumulate
        # cached blocks per large-mapping request (ADVICE r4)
        for c in caches:
            c.unpersist(blocking=True)
        return collected

    def run_cycle(self, fetch_page: landing.PageFetcher, landing_dir: str) -> dict:
        """One fetch→land→enrich cycle (K4, fixed): land new pages, read the
        landing dir, run the cleaning pipeline, record stats."""
        t0 = time.perf_counter()
        landed = landing.land_pages(fetch_page, landing_dir)
        df = landing.read_landing(
            self.spark, landing_dir, "serialId bigint, confirm_status boolean, end_location string"
        ).filter(F.col("confirm_status").eqNullSafe(True))
        caches: list = []
        enriched = clean_texts_df(
            df, "end_location", self.fuzzy_enabled, self.index,
            cutoff=self.fuzzy_cutoff, caches_out=caches,
        )
        records = enriched.count()
        for c in caches:
            c.unpersist(blocking=True)
        from datetime import datetime, timezone

        self._last_stats = {
            "status": "completed",
            "records": records,
            "landed": landed,
            "duration_ms": round((time.perf_counter() - t0) * 1000, 3),
            "finished_at": datetime.now(timezone.utc).isoformat(),
        }
        return dict(self._last_stats)

    def stats(self) -> dict:
        return dict(self._last_stats)
