"""Semantic extraction & classification (SURVEY.md §2 F1-F4).

Behavioral contract (cleaner_v6.py:223-320, Main.py:406-425), preserved
verbatim — including the reference's dead branch where any airport-regex hit
categorizes as 'Airport Transfer' unconditionally (cleaner_v6.py:284-288):
category parity requires keeping that quirk.

The NLP block (locs + clean location + trip type) is built once per
(dictionary, cutoff): :func:`local_cleaner` returns the shared
:class:`LocalCleaner`, which holds the block's Column expressions over one
private text column (``TEXT``), and its ``lookup.LocalTokenResolver``
holds the token cascade's. Two paths read them:

- :meth:`LocalCleaner.clean`, for up to ``LOCAL_MAX_TEXTS`` texts already
  in the driver, with no Spark job: the service's small requests and
  ``with_nlp_enrichment``'s distinct texts (up to
  ``ENRICH_LOCAL_MAX_TEXTS``). With fuzzy on it runs two driver-local
  plans (per-token cascade inputs, then hits and trip type), with fuzzy
  off one;
- :meth:`LocalCleaner.enrich`, over a DataFrame of any size:
  ``service.clean_texts_df`` and ``with_nlp_enrichment``'s fallback. Its
  location scan is either the tier-1/2 expression
  (``extract_all_locations_expr``: zero-shuffle, whole-stage codegen,
  SQL-mirrorable, the oracle-checked path) or, with tier-3 fuzzy,
  :func:`with_all_locations_fuzzy`: the distinct tokens resolve in one
  collected pass (operators.lookup), and the resulting map applies back as
  a literal map expression, or for a large map as posexplode → broadcast
  join → ordered re-aggregation (one groupBy shuffle).

The fuzzy scans, local and distributed, share the tokenization
(``trip_tokens_expr``), the token cascade (``operators.lookup``) and the
hit assembly (``hits_expr``).
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
    strip_op_prefix,
    title_first_two_words,
    tokenize_trip,
)
from ..session import per_gateway
from ..sources.dictionary import _default_index, variant_map_expr
from ..sources.local import local_frame

_DIGITS_ONLY = "^[0-9٠-٩]+$"

# The most texts one :class:`LocalCleaner` call takes: a /clean or
# /clean/batch request of up to this many texts runs in the driver with no
# Spark job. Set at half the crossover with the service's distributed path
# (service module docstring).
LOCAL_MAX_TEXTS = 4096

# with_nlp_enrichment enriches in the driver up to this many distinct texts,
# by fuzzy setting; above, its distributed path wins. Set at about half the
# crossover measured against that path (with_nlp_enrichment docstring):
# without the fuzzy tier the distributed path starts no Python worker, so it
# overtakes the driver sooner.
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

    Normalization is staged through per-token structs so each candidate
    form (token / op-prefix-stripped token) is normalized exactly once —
    HOF lambdas are interpreted without subexpression elimination, so the
    naive per-tier formulation would re-normalize per tier. ``m`` is
    ``index``'s map (``variant_map_expr``) when the caller already holds
    it."""
    from .lookup import tier12_expr

    m = m if m is not None else variant_map_expr(index)
    staged = F.transform(
        trip_tokens_expr(text),
        lambda t: F.struct(
            normalize_arabic(t).alias("n"),
            F.when(
                strip_op_prefix(t) != "", normalize_arabic(strip_op_prefix(t))
            ).alias("s"),
        ),
    )
    resolved = F.transform(
        staged,
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
    local (then joined back) against distributed, each over N distinct
    texts: fuzzy on, golden texts with a unique number appended 4,096:
    2.0 vs 3.6 s,
    8,192: 3.4 vs 4.4 s, 16,384: 6.6 vs 4.1 s; random 3-word texts (every
    token unique) 2,000: 1.3 vs 2.5 s, 4,096: 2.3 vs 2.8 s, 8,192: 4.2 vs
    3.3 s. Fuzzy off, golden + number 1,000: 0.80 vs 1.15 s, 2,000: 0.91
    vs 0.96 s, 4,096: 1.24 vs 1.05 s; random texts 1,000: 0.44 vs 0.61 s,
    2,000: 0.81 vs 0.75 s. The probe took 0.10-0.20 s at every size.

    Above the limit, :meth:`LocalCleaner.enrich` runs over the distinct
    texts and the result joins back, null-safe on the text, paying the
    probe as one extra distinct pass: 0.26-0.36 s of a 9-13 s
    ``trips_fuzzy_stress`` at sf0.1 (100,000 distinct texts) on the same
    host, measured by hand; no benchmark workload reaches this path. With
    fuzzy on it also runs the token cascade's collect
    (:func:`with_all_locations_fuzzy`) when called; neither path caches
    anything or leaves cleanup to the caller.
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
    # Rebalance after the distinct: its output is small in bytes, so AQE
    # coalesces to ~1 partition, which would run the regex-heavy NLP
    # chain single-threaded when the distinct side is large (the
    # all-unique stress shape). The moved data is just the text strings.
    texts = df.select(F.col(text_col).alias(TEXT)).distinct()
    texts = cleaner.enrich(texts.repartition(spark.sparkContext.defaultParallelism), fuzzy)
    texts = texts.select(
        TEXT,
        F.col("all_locations").alias("locs"),
        F.col("main_location").alias("End_Location_Clean"),
        F.col("trip_type").alias("Trip_Type"),
    )
    return df.join(texts, df[text_col].eqNullSafe(texts[TEXT]), how="left").drop(TEXT)


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
    are built once here, over the private text column ``TEXT``, and
    ``resolver`` (``lookup.LocalTokenResolver``) holds the token
    cascade's. Two paths read them:

    - :meth:`clean`, for texts already in the driver, with no Spark job:
      the texts become a driver-local relation (``sources.local``) and
      only Project steps run over it, so Catalyst evaluates all of it in
      the driver. With fuzzy on that is two plans, one ``collect()`` each:
      the resolver's ``staged`` returns each text's per-token cascade
      inputs and miss forms; the driver scores the distinct misses, and
      a second relation of per-token tier-1/2 and fuzzy results gets the
      cascade order, the hits, ``__norm``, main_location and trip_type.
      A warm request costs about 80 py4j round trips (the four plans
      before took ~180). Callers bound the input (``LOCAL_MAX_TEXTS``);
    - :meth:`enrich`, over a DataFrame of any size.

    Holds no per-call state: get one from :func:`local_cleaner` and share
    it across threads."""

    def __init__(self, index: dict[str, str], cutoff: float) -> None:
        from .lookup import LocalTokenResolver

        self.index, self.cutoff = index, cutoff
        t, locs = F.col(TEXT), F.col("all_locations")
        m, tokens = variant_map_expr(index), trip_tokens_expr(t)
        self.tokens = tokens.alias("__toks")
        self.resolver = LocalTokenResolver(index, cutoff, m, tokens)
        self.hits = hits_expr(self.resolver.order).alias("all_locations")
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
        order; at most ``LOCAL_MAX_TEXTS`` texts. Each distinct text is
        cleaned once, and its row repeats for its repeats."""
        distinct = list(dict.fromkeys(texts))
        df = local_frame(spark, [{TEXT: t} for t in distinct], f"{TEXT} string")
        if fuzzy:
            staged = [r[0] for r in df.select(self.resolver.staged).collect()]
            df = self.resolver.scored(spark, TEXT, distinct, staged)
            df = df.select(TEXT, self.hits, self.norm)
        else:
            df = df.select(TEXT, self.tier12, self.norm)
        rows = dict(zip(distinct, df.select(self.text, *self.block).collect()))
        return [rows[t] for t in texts]

    def enrich(self, df: DataFrame, fuzzy: bool) -> DataFrame:
        """``df``, whose text is in ``TEXT``, with all_locations,
        main_location and trip_type appended: one distributed plan. With
        fuzzy on, the token cascade's collect runs when this is called
        (:func:`with_all_locations_fuzzy`); nothing stays cached."""
        if fuzzy:
            df = with_all_locations_fuzzy(df, TEXT, "all_locations", self.index, self.cutoff)
        else:
            df = df.select("*", self.tier12)
        keep = [F.col(f"`{c}`") for c in df.columns if c != "all_locations"]
        df = df.select(*keep, self.barrier).select(*keep, "__b.*")
        return df.select(*keep, *self.block)


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


def with_all_locations_fuzzy(
    df: DataFrame,
    text_col: str,
    out_col: str = "all_locations_list",
    index: dict[str, str] | None = None,
    cutoff: float | None = None,
) -> DataFrame:
    """F2 with tier-3 fuzzy: the full scan runs once per *distinct* text —
    the reference's lru_cache insight (cleaner_v6.py:37, 180) lifted to the
    text level. The distinct texts' tokens (posexplode) resolve through the
    3-tier cascade once per distinct token, and the (token → canonical)
    mapping is collected to the driver when this is called
    (``lookup._distinct_token_mapping``); the returned plan caches nothing.
    The tokenization and the cascade come from the shared cleaner
    (:func:`local_cleaner`); only the literal path's map lookup, which
    carries this call's mapping, is built per call.

    Adaptive application (mirrors operators.lookup.resolve_tokens_fuzzy):
    a mapping of at most ``MAPPING_LITERAL_MAX`` entries is inlined as a
    literal map and the whole scan becomes ONE zero-shuffle expression
    over ``df`` — identical in shape to the tier-1/2
    :func:`extract_all_locations_expr`, with fuzzy hits included in the
    map. (``df`` is the distinct-text frame when called from
    with_nlp_enrichment, so the per-row tokenize regex runs once per
    distinct text.) A larger mapping becomes a driver-local relation, and
    the scan falls back to explode → broadcast join → ordered
    re-aggregation, joined back to ``df`` on the text."""
    from .lookup import (
        MAPPING_LITERAL_MAX,
        _distinct_token_mapping,
        canonical_map_frame,
        canonical_map_literal,
    )

    cleaner = local_cleaner(index, cutoff)
    texts = df.select(F.col(text_col).alias(TEXT)).distinct()
    exploded = texts.select(TEXT, F.posexplode_outer(cleaner.tokens).alias("__pos", "__tok"))
    mapping = _distinct_token_mapping(exploded, "__tok", cleaner.index, cleaner.cutoff)
    if len(mapping) <= MAPPING_LITERAL_MAX:
        m = canonical_map_literal(mapping)
        hits = hits_expr(F.transform("__toks", lambda t: F.element_at(m, t)))
        out = df.withColumn(TEXT, F.col(text_col)).select("*", cleaner.tokens)
        out = out.withColumn(out_col, hits).drop("__toks")
        return out if text_col == TEXT else out.drop(TEXT)

    mf = canonical_map_frame(df.sparkSession, mapping)
    resolved = exploded.join(
        F.broadcast(mf.withColumnRenamed("__canonical", "__canon")),
        exploded["__tok"] == mf["__t"],
        "left",
    ).drop("__t")
    rebuilt = (
        resolved.groupBy(F.col(TEXT).alias("__ftxt"))
        .agg(
            hits_expr(
                F.transform(
                    F.sort_array(
                        F.collect_list(
                            F.when(
                                F.col("__canon").isNotNull(),
                                F.struct(F.col("__pos"), F.col("__canon").alias("loc")),
                            )
                        )
                    ),
                    lambda x: x["loc"],
                )
            ).alias(out_col)
        )
    )
    joined = df.join(
        rebuilt, df[text_col].eqNullSafe(rebuilt["__ftxt"]), how="left"
    ).drop("__ftxt")
    return joined.withColumn(
        out_col, F.coalesce(F.col(out_col), F.array().cast("array<string>"))
    )
