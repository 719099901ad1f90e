"""Service surface (SURVEY.md §2 K; api.py:162-382 behavior).

The reference exposes the cleaner through FastAPI endpoints: /clean (single),
/clean/batch (sequential list-comp — its own docstring claims "vectorised",
api.py:12, but it loops), /run-cycle (broken import as shipped, api.py:334),
/stats and /health. This module is the engine-side equivalent: the HTTP
framing is out of engine scope, but every endpoint's computation is here,
with /clean/batch actually one pass over the batch and /run-cycle actually
working (landing source + enrichment instead of the broken import).

/clean and /clean/batch requests of up to
``operators.extract.LOCAL_MAX_TEXTS`` (4,096) distinct texts run in the
driver with no Spark job, like the reference's in-process cleaner
(cleaner_v6.py:37,180), through the same shared ``extract.local_cleaner``
that enriches each trips report's distinct texts: the texts become a
driver-local relation, tiers 1-2 run as the engine's Column expressions
(Catalyst's ``ConvertToLocalRelation`` folds them into the local data),
and the few tier-3 misses are scored in the driver by the same function
the fuzzy pandas UDF calls. No Python worker starts. With fuzzy on a
request is two driver-local plans (per-token cascade inputs, then hits
and trip type), with fuzzy off one; a warm request's time is their plan
analysis and ~80 py4j round trips, whatever the dictionary's size
(pinned by tests/test_service.py), not Spark jobs. The token forms,
cascade inputs, miss forms and order, the per-string fuzzy rule and the
hit assembly are shared with the distributed path, so both give the same
answers (pinned by tests/test_service.py and tests/test_enrichment.py).
A batch of more distinct texts is one distributed pass over its
distinct texts (``LocalCleaner.clean``, which makes the choice). Best of
two warm runs, fuzzy on, 4 vCPUs, local against distributed, measured by
hand (the distributed figures are the range of two later runs of today's
pass, which no longer joins back or sorts): texts whose tokens are all
unique (the worst case for driver-side scoring) take 0.15 against
0.84-0.91 s at 256 texts, 0.53 against 0.75-0.85 s at 1,000, 0.73
against 0.74-0.91 s at 2,000, 1.52 against 0.65-1.02 s at 4,000 and 3.16
against 0.79-1.32 s at 8,000; messy texts cycling through 300 distinct
ones take 0.15 against 0.50-0.64 s at 2,000 and 0.15 against 0.47-0.69 s
at 8,000. The local pass is single-threaded and grows ~0.4 ms per
all-unique text, while the distributed pass costs under 1 s, mostly
fixed. Interleaved in the later runs, the local pass took 0.68 s against
0.62 s at 3,000 all-unique texts: the two meet near 2,500-3,000, so the
limit sits above the crossover until a benchmark workload re-derives it.
"""

from __future__ import annotations

import os
import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from . import __version__
from .operators.extract import TEXT, local_cleaner
from .sources import landing
from .sources.dictionary import build_variant_index, load_locations_json


def clean_texts_df(
    df: DataFrame,
    text_col: str = "text",
    fuzzy: bool = True,
    index: dict[str, str] | None = None,
    cutoff: float | None = None,
) -> DataFrame:
    """F5 shared codepath (api.py:210-225 = Main.py:406-425): adds
    all_locations, main_location, trip_type for a text column, read from
    the shared cleaner (``extract.local_cleaner``), so no NLP expression is
    built per call. The plan is lazy: building it runs no Spark job. With
    fuzzy on, the block runs once per distinct text, its misses scored by
    one pandas UDF, and joins back (``LocalCleaner.enrich_distinct``);
    with fuzzy off it is one projection chain per row. Nothing is cached,
    so a long-lived caller has nothing to clean up after its action."""
    cleaner = local_cleaner(index, cutoff)
    if fuzzy:
        return cleaner.enrich_distinct(df, text_col, True)
    return cleaner.enrich(df.withColumn(TEXT, F.col(text_col)), False).drop(TEXT)


def config_from_env(env: dict[str, str] | None = None) -> dict:
    """The reference's documented ops knobs, read the same way it reads
    them at startup (api.py:106-134): ``FUZZY_ENABLED`` (``"true"``/
    ``"false"``, case-insensitive), ``FUZZY_CUTOFF`` (int score 0-100),
    ``LOCATIONS_PATH`` (path to a ``{canonical: [variants]}`` JSON; unset →
    the built-in dictionary; an empty ``{}`` file is an empty dictionary)."""
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
        self.index = build_variant_index(locations)
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
        claims but doesn't do (api.py:301-304), through
        ``LocalCleaner.clean``: up to ``extract.LOCAL_MAX_TEXTS`` distinct
        texts the pass runs in the driver with no Spark job (the
        reference's in-process serving); more distinct texts are one
        distributed pass over the distinct texts. Per-item ``processing_ms`` mirrors the reference's
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
        cleaner = local_cleaner(self.index, self.fuzzy_cutoff)
        collected = cleaner.clean(self.spark, texts, use_fuzzy)
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

    def run_cycle(self, fetch_page: landing.PageFetcher, landing_dir: str) -> dict:
        """One fetch→land→enrich cycle (K4, fixed): land new pages, read the
        landing dir, run the cleaning pipeline, record stats."""
        t0 = time.perf_counter()
        landed = landing.land_pages(fetch_page, landing_dir)
        df = landing.read_landing(
            self.spark, landing_dir, "serialId bigint, confirm_status boolean, end_location string"
        ).filter(F.col("confirm_status").eqNullSafe(True))
        records = clean_texts_df(
            df, "end_location", self.fuzzy_enabled, self.index,
            cutoff=self.fuzzy_cutoff,
        ).count()
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
