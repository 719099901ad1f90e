"""Semantic extraction & classification (SURVEY.md §2 F1-F4).

Behavioral contract (cleaner_v6.py:223-320, Main.py:406-425), preserved
verbatim — including the reference's dead branch where any airport-regex hit
categorizes as 'Airport Transfer' unconditionally (cleaner_v6.py:284-288):
category parity requires keeping that quirk.

The NLP block (locs + clean location + trip type) is built once per
(dictionary, cutoff): :func:`local_cleaner` returns the shared
:class:`LocalCleaner`, which holds the block's Column expressions over one
private text column (``TEXT``), the token cascade's included. Two paths
read them:

- :meth:`LocalCleaner.clean`, for texts already in the driver: the
  service's requests and ``with_nlp_enrichment``'s distinct texts (up to
  ``ENRICH_LOCAL_MAX_TEXTS``). Up to ``LOCAL_MAX_TEXTS`` distinct texts
  run in the driver with no Spark job: with fuzzy on two driver-local
  plans (per-token cascade inputs, then hits and trip type), with fuzzy
  off one. More distinct texts than that take one distributed
  :meth:`LocalCleaner.enrich` pass over the distinct texts;
- :meth:`LocalCleaner.enrich`, over a DataFrame of any size, as one lazy
  plan that runs no Spark job until its caller's action: that batch
  pass, and ``service.clean_texts_df`` and ``with_nlp_enrichment``'s
  fallback, both once per distinct text through
  :meth:`LocalCleaner.enrich_distinct` (``clean_texts_df`` with fuzzy
  off runs per row). Its location scan is either the tier-1/2
  expression (``extract_all_locations_expr``: zero-shuffle, whole-stage
  codegen, SQL-mirrorable, the oracle-checked path) or, with tier-3
  fuzzy, the per-token cascade with each row's misses scored by one
  pandas UDF (operators.lookup).

Both scans read each token's two forms from ``lookup.token_forms``. The
fuzzy scans, local and distributed, share one hits expression
(``LocalCleaner.hits``): the tokenization (``trip_tokens_expr``), the
token cascade and its scoring rule (``operators.lookup``) and the hit
assembly (``hits_expr``).
"""

from __future__ import annotations

import json

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.arabic import (
    is_admin,
    is_airport,
    is_nile,
    is_ops_only,
    is_round_trip,
    normalize_arabic,
    scrub_round_trip,
    title_first_two_words,
    tokenize_trip,
)
from ..session import per_gateway
from ..sources.dictionary import _default_index, variant_map_expr
from ..sources.local import local_frame

_DIGITS_ONLY = "^[0-9٠-٩]+$"

# The most distinct texts :meth:`LocalCleaner.clean` cleans in the driver:
# a /clean or /clean/batch request of up to this many distinct texts runs
# no Spark job, a larger one is one distributed pass over its distinct
# texts. Set at half the crossover with the service's distributed path as
# it was then; that pass now meets the driver near 2,500-3,000 all-unique
# texts, below this limit (service module docstring). A benchmark workload
# is to re-derive it.
LOCAL_MAX_TEXTS = 4096

# with_nlp_enrichment enriches in the driver up to this many distinct texts,
# by fuzzy setting; above, its distributed path wins. Set at about half the
# crossover measured against that path as it was then; with fuzzy on, the
# lazy distributed path now meets the driver at ~1,000-2,000 texts
# (with_nlp_enrichment docstring). A benchmark workload is to re-derive
# both.
ENRICH_LOCAL_MAX_TEXTS = {True: 2048, False: 1024}

# The private text column every shared NLP expression reads
TEXT = "__txt"


def extract_all_locations_expr(
    text: Column, index: dict[str, str] | None = None, m: Column | None = None
) -> Column:
    """F2 (cleaner_v6.py:248-266): round-trip scrub → tokenize → per-token
    cascade → order-preserving distinct canonicals. Empty array for null/''.

    ``array_distinct`` keeps first-occurrence order, matching the
    reference's ``if loc not in locations: locations.append(loc)``.

    Each token's two forms (``lookup.token_forms``) are built in one
    ``transform`` and resolved in the next, so each is normalized exactly
    once — HOF lambdas are interpreted without subexpression elimination,
    so the naive per-tier formulation would re-normalize per tier. ``m`` is
    ``index``'s map (``variant_map_expr``) when the caller already holds
    it."""
    from .lookup import tier12_expr, token_forms

    m = m if m is not None else variant_map_expr(index)
    forms = F.transform(trip_tokens_expr(text), token_forms)
    resolved = F.transform(
        forms,
        lambda x: F.coalesce(tier12_expr(x["n"], index, m), tier12_expr(x["s"], index, m)),
    )
    return hits_expr(resolved)


def end_location_clean_expr(text: Column, locs: Column) -> Column:
    """F4's End_Location_Clean (Main.py:408-417): first detected location,
    else F1's guards/fallback (cleaner_v6.py:223-246). When the scan found
    anything, F1's first hit equals locs[0], so the fallback chain only
    engages on an empty scan."""
    raw = F.trim(text.cast("string"))
    return (
        F.when(F.size(locs) > 0, F.element_at(locs, 1))
        .when(text.isNull() | (raw == ""), F.lit("Undefined"))
        .when(raw.rlike(_DIGITS_ONLY) | (F.length(raw) < 2), F.lit("Unknown"))
        .otherwise(title_first_two_words(raw))
    )


def categorize_trip_type_expr(
    text: Column, locs: Column, norm: Column | None = None
) -> Column:
    """F3 cascade (cleaner_v6.py:268-320) as one ``when`` chain, order and
    dead-code semantics preserved:

    Undefined → Invalid Data → airport regex (always wins, :284-288) →
    admin (locs or regex) → 'Airport' in locs → round-trip regex on RAW →
    Nile (locs or keywords) → Special Operations (locs, or ops-only regex) →
    Multi-Destination (≥2 locs) → Standard Transfer.

    Pass a precomputed ``norm`` column when calling in a pipeline: CASE
    branches evaluate lazily, so an inline normalize would be recomputed
    once per reached regex condition."""
    raw = F.trim(text.cast("string"))
    if norm is None:
        norm = normalize_arabic(text)
    return (
        F.when(text.isNull() | (raw == ""), F.lit("Undefined"))
        .when(F.array_contains(locs, "Invalid Data"), F.lit("Invalid Data"))
        .when(is_airport(norm), F.lit("Airport Transfer"))
        .when(F.array_contains(locs, "Admin/Management"), F.lit("Admin/Management"))
        .when(is_admin(norm), F.lit("Admin/Management"))
        .when(F.array_contains(locs, "Airport"), F.lit("Airport Transfer"))
        .when(is_round_trip(raw), F.lit("Round Trip"))
        .when(F.array_contains(locs, "Nile Cruise") | is_nile(norm), F.lit("Nile Cruise"))
        .when(F.array_contains(locs, "Special Operations"), F.lit("Special Operations"))
        .when(is_ops_only(norm), F.lit("Special Operations"))
        .when(F.size(locs) >= 2, F.lit("Multi-Destination"))
        .otherwise(F.lit("Standard Transfer"))
    )


def with_nlp_enrichment(
    df: DataFrame,
    text_col: str,
    fuzzy: bool = False,
    index: dict[str, str] | None = None,
) -> DataFrame:
    """F4's full NLP block (locs + clean location + trip type, Main.py:406-425)
    resolved once per *distinct* text, then applied back — the reference's
    lru_cache insight (cleaner_v6.py:37, 180) applied to the whole enrichment,
    not just the dictionary lookup. Every output is a pure function of the
    text, so per-distinct resolution is semantics-preserving. Both paths
    read the shared cleaner (:func:`local_cleaner`), so neither builds an
    NLP expression.

    Local path: a probe, ``distinct().limit(limit + 1).collect()`` with
    ``limit = ENRICH_LOCAL_MAX_TEXTS[fuzzy]`` (2,048 fuzzy, 1,024 not),
    fetches the distinct texts (cast to string, the type every expression
    below reads them as). When there are at most ``limit`` of them,
    :meth:`LocalCleaner.clean` enriches them in the driver — no Python
    worker, no cached cut point, no further Spark job — and the
    (text → locs, clean location, trip type) answers become one JSON
    literal, parsed by ``from_json`` into a map (and the null text's
    struct, if the probe saw a null), which one projection looks the text
    up in. The plan this returns then holds no enrichment work and no
    join. Spark looks a key up in a map by scanning its keys, so a row
    costs time linear in the number of distinct texts: over 4,000,000
    rows (noop write, 4 vCPUs, measured by hand) the literal took 0.6 s
    against the broadcast join's 0.7 s at 32 texts, 2.2 vs 0.8 s at 256
    and 8.4 vs 0.9 s at 2,048.

    The probe is a Spark job run when this function is called, not when
    the returned plan runs: every caller (all of ``plans.trips``) pays it
    to build a plan, even one that is only explained. On the local path
    the result is a snapshot of the source at that moment; a text that
    appears in the source later gets null locs, clean location and trip
    type.

    Crossover, 4 vCPUs, build + noop write, best of 3 interleaved runs,
    local against distributed, each over N distinct texts of sf0.1
    events, measured by hand. Fuzzy on (the distributed side as one lazy
    plan), golden texts with a unique number appended 1,000: 0.80 vs
    1.05 s, 2,000: 0.94 vs 0.95 s, 4,096: 1.62 vs 1.15 s, 8,192: 3.0 vs
    0.99 s, 16,384: 4.7 vs 1.1 s; random 3-word texts 500: 0.42 vs 0.70 s,
    1,000: 0.58 vs 0.61 s, 2,000: 0.75 vs 0.67 s, 4,096: 1.2 vs 0.66 s,
    8,192: 2.4 vs 0.81 s. That crossover is ~1,000-2,000 texts, so the
    fuzzy limit (2,048) sits at or above it, not at half of it; no
    benchmark workload has yet decided it. Fuzzy off, golden + number
    1,000: 0.80 vs 1.15 s, 2,000: 0.91 vs 0.96 s, 4,096: 1.24 vs 1.05 s;
    random texts 1,000: 0.44 vs 0.61 s, 2,000: 0.81 vs 0.75 s. The probe
    took 0.10-0.20 s at every size.

    Above the limit, :meth:`LocalCleaner.enrich_distinct` runs the block
    over the distinct texts and joins it back, null-safe on the text,
    paying the probe as one extra distinct pass (0.26-0.36 s at sf0.1's
    100,000 distinct texts, where all of ``trips_fuzzy_stress`` takes
    4.6-5.2 s, measured by hand); no benchmark workload reaches this path.
    Past the probe the returned plan is lazy, with fuzzy on too: nothing
    runs until the caller's action, and neither path caches anything or
    leaves cleanup to the caller.
    Trip texts are short human-entered strings with heavy repetition, so
    the distinct side is orders of magnitude smaller than the fact side
    and AQE broadcast-converts the join-back; the regex-heavy NLP chain
    runs |distinct| times instead of |rows| times."""
    spark = df.sparkSession
    cleaner = local_cleaner(index)
    key = df[text_col].cast("string")
    limit = ENRICH_LOCAL_MAX_TEXTS[bool(fuzzy)]
    distinct = [r[0] for r in df.select(key.alias(TEXT)).distinct().limit(limit + 1).collect()]
    if len(distinct) <= limit:
        out = ("locs", "End_Location_Clean", "Trip_Type")
        found = {r[0]: dict(zip(out, r[1:])) for r in cleaner.clean(spark, distinct, fuzzy)}
        null = found.pop(None, None)
        fields = "locs: array<string>, End_Location_Clean: string, Trip_Type: string"
        # one JSON literal (variant_map_expr's mechanism): the map of the
        # non-null texts and the struct of the null text, if it was seen
        e = F.from_json(
            F.lit(json.dumps({"m": found, "n": null})),
            f"struct<m: map<string, struct<{fields}>>, n: struct<{fields}>>",
        )
        hit = F.when(key.isNull(), e["n"]).otherwise(F.try_element_at(e["m"], key))
        return df.select("*", *(hit[c].alias(c) for c in out))
    out = cleaner.enrich_distinct(df, text_col, fuzzy)
    return out.toDF(*df.columns, "locs", "End_Location_Clean", "Trip_Type")


def trip_tokens_expr(text: Column) -> Column:
    """The tokens F2 resolves: round-trip scrub → tokenize of the trimmed
    text; empty for null/''."""
    raw = F.trim(text.cast("string"))
    return F.when(
        text.isNull() | (raw == ""), F.array().cast("array<string>")
    ).otherwise(tokenize_trip(scrub_round_trip(raw)))


def hits_expr(resolved: Column) -> Column:
    """F2's location list from each token's canonical in text order (null
    = miss): misses dropped, order-preserving distinct."""
    return F.array_distinct(F.filter(resolved, lambda x: x.isNotNull()))


class LocalCleaner:
    """The NLP block (all_locations, main_location, trip_type) for one
    dictionary and cutoff. Its Column expressions (hundreds of py4j calls)
    are built once here, over the private text column ``TEXT``, the token
    cascade's from ``operators.lookup``'s builders: ``staged`` puts each
    text's tokens in ``__tk``, as structs of the cascade inputs and the
    two miss forms; ``fuzzy`` scores the misses with one pandas UDF into
    ``__fz``, and ``hits`` applies the cascade order to both. Two paths
    read them:

    - :meth:`clean`, for texts already in the driver. Up to
      ``LOCAL_MAX_TEXTS`` distinct texts it runs no Spark job: the texts
      become a driver-local relation (``sources.local``) and only Project
      steps run over it, so Catalyst evaluates all of it in the driver.
      With fuzzy on that is two plans, one ``collect()`` each: ``staged``
      returns each text's per-token cascade inputs and miss forms; the
      driver scores the misses (``lookup.scored``), and a second relation
      of per-token tier-1/2 and fuzzy results gets the cascade order, the
      hits, ``__norm``, main_location and trip_type. A warm request costs
      about 80 py4j round trips (the four plans before took ~180). More
      distinct texts take one distributed :meth:`enrich` pass over them;
    - :meth:`enrich`, over a DataFrame of any size, the same steps as
      one lazy projection chain, the misses scored by ``fuzzy``;
      :meth:`enrich_distinct` runs it once per distinct text.

    Holds no per-call state: get one from :func:`local_cleaner` and share
    it across threads."""

    def __init__(self, index: dict[str, str], cutoff: float) -> None:
        from .lookup import cascade_order_expr, fuzzy_lookup_udf, staged_tokens_expr

        t, locs = F.col(TEXT), F.col("all_locations")
        m = variant_map_expr(index)
        self.index, self.cutoff = index, cutoff
        self.staged = staged_tokens_expr(trip_tokens_expr(t), index, m).alias("__tk")
        scores = fuzzy_lookup_udf(index, cutoff)(F.col("__tk.__kn"), F.col("__tk.__ks"))
        self.fuzzy = scores.alias("__fz")
        self.hits = hits_expr(cascade_order_expr()).alias("all_locations")
        self.tier12 = extract_all_locations_expr(t, index, m).alias("all_locations")
        self.norm = normalize_arabic(t).alias("__norm")
        # 1:1 Generate barrier: locs/norm feed many lazily-evaluated CASE
        # branches (no subexpression elimination), so block CollapseProject
        # from inlining the resolution chain into each branch
        self.barrier = F.explode(F.array(F.struct(locs, self.norm))).alias("__b")
        self.block = [
            locs,
            end_location_clean_expr(t, locs).alias("main_location"),
            categorize_trip_type_expr(t, locs, norm=F.col("__norm")).alias("trip_type"),
        ]
        self.text = t.alias("text")

    def clean(self, spark, texts: list[str | None], fuzzy: bool) -> list:
        """(text, all_locations, main_location, trip_type) rows in input
        order. Each distinct text is cleaned once, and its row repeats for
        its repeats: up to ``LOCAL_MAX_TEXTS`` distinct texts in the
        driver, more in one distributed :meth:`enrich` pass over the
        distinct texts."""
        from .lookup import scored

        distinct = list(dict.fromkeys(texts))
        if len(distinct) > LOCAL_MAX_TEXTS:
            df = spark.createDataFrame([(t,) for t in distinct], f"{TEXT} string")
            df = self.enrich(df, fuzzy).withColumnRenamed(TEXT, "text")
        else:
            df = local_frame(spark, [{TEXT: t} for t in distinct], f"{TEXT} string")
            if fuzzy:
                staged = [r[0] for r in df.select(self.staged).collect()]
                df = scored(spark, TEXT, distinct, staged, self.index, self.cutoff)
                df = df.select(TEXT, self.hits, self.norm)
            else:
                df = df.select(TEXT, self.tier12, self.norm)
            df = df.select(self.text, *self.block)
        rows = dict(zip(distinct, df.collect()))
        return [rows[t] for t in texts]

    def enrich(self, df: DataFrame, fuzzy: bool) -> DataFrame:
        """``df``, whose text is in ``TEXT``, with all_locations,
        main_location and trip_type appended: one lazy projection chain
        per row. With fuzzy on it stages each text's tokens, scores their
        misses in one pandas UDF and assembles the hits (``staged``,
        ``fuzzy`` and ``hits``)."""
        keep = [F.col(f"`{c}`") for c in df.columns]
        if fuzzy:
            df = df.select(*keep, self.staged).select(*keep, "__tk", self.fuzzy)
            df = df.select(*keep, self.hits)
        else:
            df = df.select(*keep, self.tier12)
        df = df.select(*keep, self.barrier).select(*keep, "__b.*")
        return df.select(*keep, *self.block)

    def enrich_distinct(self, df: DataFrame, text_col: str, fuzzy: bool) -> DataFrame:
        """``df`` with all_locations, main_location and trip_type of
        ``text_col`` appended, :meth:`enrich` run once per distinct text
        and joined back null-safe on the text: one lazy plan, so no Spark
        job runs until the caller's action. The distinct is rebalanced
        first: its output is small in bytes, so AQE would coalesce it to
        ~1 partition and run the regex-heavy block (and the fuzzy scorer)
        single-threaded when the distinct side is large (the all-unique
        stress shape). The moved data is just the text strings."""
        spark = df.sparkSession
        texts = df.select(F.col(text_col).alias(TEXT)).distinct()
        texts = self.enrich(texts.repartition(spark.sparkContext.defaultParallelism), fuzzy)
        return df.join(texts, df[text_col].eqNullSafe(texts[TEXT]), how="left").drop(TEXT)


def local_cleaner(
    index: dict[str, str] | None = None, cutoff: float | None = None
) -> LocalCleaner:
    """The shared :class:`LocalCleaner` for ``index`` (default: the built-in
    dictionary) and ``cutoff`` (default: ``lookup.FUZZY_SCORE_CUTOFF``), one
    per live gateway: every trips report, service and distributed call with
    the same settings reads the same expressions."""
    from .lookup import FUZZY_SCORE_CUTOFF

    index = index if index is not None else _default_index()
    cutoff = cutoff if cutoff is not None else FUZZY_SCORE_CUTOFF
    key = ("cleaner", tuple(index.items()), cutoff)
    return per_gateway(key, lambda: LocalCleaner(index, cutoff))
