"""Semantic extraction & classification (SURVEY.md §2 F1-F4).

Behavioral contract (cleaner_v6.py:223-320, Main.py:406-425), preserved
verbatim — including the reference's dead branch where any airport-regex hit
categorizes as 'Airport Transfer' unconditionally (cleaner_v6.py:284-288):
category parity requires keeping that quirk.

Two implementations of the location scan:

- ``extract_all_locations_expr``: pure Column expression (tiers 1-2).
  Zero-shuffle, whole-stage-codegen, SQL-mirrorable → the oracle-checked
  fast path and the default at scale.
- ``with_all_locations_fuzzy``: adds tier-3 fuzzy via posexplode →
  distinct-resolve-join (operators.lookup) → ordered re-aggregation.
  Costs one groupBy shuffle; used when fuzzy recall is worth it.

``LocalCleaner`` is the driver-local NLP block (locs + clean location +
trip type) for up to ``LOCAL_MAX_TEXTS`` texts already in the driver,
with no Spark job: the service's small requests and
``with_nlp_enrichment``'s distinct texts (up to
``ENRICH_LOCAL_MAX_TEXTS``). Its fuzzy scan,
``LocalLocationScan``, runs the fuzzy scan's literal path and shares the
tokenization (``trip_tokens_expr``) and hit assembly
(``literal_hits_expr``) with ``with_all_locations_fuzzy``.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.arabic import (
    _GEN_KEYED_MEMOS,
    _gateway_generation,
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


def extract_all_locations_expr(text: Column, index: dict[str, str] | None = None) -> Column:
    """F2 (cleaner_v6.py:248-266): round-trip scrub → tokenize → per-token
    cascade → order-preserving distinct canonicals. Empty array for null/''.

    ``array_distinct`` keeps first-occurrence order, matching the
    reference's ``if loc not in locations: locations.append(loc)``.

    Normalization is staged through per-token structs so each candidate
    form (token / op-prefix-stripped token) is normalized exactly once —
    HOF lambdas are interpreted without subexpression elimination, so the
    naive per-tier formulation would re-normalize per tier."""
    from ..functions.arabic import normalize_arabic, strip_op_prefix
    from ..operators.lookup import tier12_expr

    raw = F.trim(text.cast("string"))
    tokens = tokenize_trip(scrub_round_trip(raw))
    staged = F.transform(
        tokens,
        lambda t: F.struct(
            normalize_arabic(t).alias("n"),
            F.when(
                strip_op_prefix(t) != "", normalize_arabic(strip_op_prefix(t))
            ).alias("s"),
        ),
    )
    resolved = F.transform(
        staged,
        lambda x: F.coalesce(tier12_expr(x["n"], index), tier12_expr(x["s"], index)),
    )
    hits = F.array_distinct(F.filter(resolved, lambda x: x.isNotNull()))
    return F.when(text.isNull() | (raw == ""), F.array().cast("array<string>")).otherwise(hits)


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
    locs_col: str = "locs",
    clean_col: str = "End_Location_Clean",
    type_col: str = "Trip_Type",
    caches_out: list | None = None,
) -> DataFrame:
    """F4's full NLP block (locs + clean location + trip type, Main.py:406-425)
    resolved once per *distinct* text, then joined back — the reference's
    lru_cache insight (cleaner_v6.py:37, 180) applied to the whole enrichment,
    not just the dictionary lookup. Every output is a pure function of the
    text, so per-distinct resolution is semantics-preserving.

    Local path: a probe, ``distinct().limit(limit + 1).collect()`` with
    ``limit = ENRICH_LOCAL_MAX_TEXTS[fuzzy]`` (2,048 fuzzy, 1,024 not),
    fetches the distinct texts (cast to string, the type every expression
    below reads them as). When there are at most ``limit`` of them,
    :class:`LocalCleaner` enriches them in the driver — no Python worker,
    no cached cut point, no further Spark job — and the
    (text, locs, clean location, trip type) rows join back as a broadcast
    driver-local relation, null-safe on the text. The plan this returns
    then holds no enrichment work at all.

    The probe is a Spark job run when this function is called, not when
    the returned plan runs: every caller (all of ``plans.trips``) pays it
    to build a plan, even one that is only explained. On the local path
    the result is a snapshot of the source at that moment; a text that
    appears in the source later joins to null locs.

    Crossover, 4 vCPUs, build + noop write, best of 3 interleaved runs,
    local against distributed, each over N distinct texts: fuzzy on,
    golden texts with a unique number appended 4,096: 2.0 vs 3.6 s,
    8,192: 3.4 vs 4.4 s, 16,384: 6.6 vs 4.1 s; random 3-word texts (every
    token unique) 2,000: 1.3 vs 2.5 s, 4,096: 2.3 vs 2.8 s, 8,192: 4.2 vs
    3.3 s. Fuzzy off, golden + number 1,000: 0.80 vs 1.15 s, 2,000: 0.91
    vs 0.96 s, 4,096: 1.24 vs 1.05 s; random texts 1,000: 0.44 vs 0.61 s,
    2,000: 0.81 vs 0.75 s. The probe took 0.10-0.20 s at every size.

    Above the limit the distributed path below runs, paying the probe as
    one extra distinct pass: 0.26-0.36 s of a 9-13 s ``trips_fuzzy_stress``
    at sf0.1 (100,000 distinct texts) on the same host, measured by hand;
    no benchmark workload reaches this path. Trip texts are short human-entered strings
    with heavy repetition, so the distinct side is orders of magnitude
    smaller than the fact side and AQE broadcast-converts the join-back;
    the regex-heavy NLP chain runs |distinct| times instead of |rows|
    times. If a workload ever has near-unique texts, inline
    ``extract_all_locations_expr`` instead (the expression path needs no
    shuffle at all). ``caches_out`` receives the fuzzy cascade's cut-point
    caches on that path only."""
    from ..sources.dictionary import _default_index
    from .lookup import FUZZY_SCORE_CUTOFF

    spark = df.sparkSession
    key = df[text_col].cast("string")
    limit = ENRICH_LOCAL_MAX_TEXTS[bool(fuzzy)]
    distinct = [
        r["__txt"] for r in df.select(key.alias("__txt")).distinct().limit(limit + 1).collect()
    ]
    if len(distinct) <= limit:
        cleaner = local_cleaner(
            index if index is not None else _default_index(), FUZZY_SCORE_CUTOFF
        )
        rows = [
            {
                "__txt": r["text"], locs_col: list(r["all_locations"]),
                clean_col: r["main_location"], type_col: r["trip_type"],
            }
            for r in cleaner.clean(spark, distinct, fuzzy)
        ]
        texts = local_frame(
            spark, rows,
            f"__txt string, `{locs_col}` array<string>, `{clean_col}` string, "
            f"`{type_col}` string",
        )
        return df.join(
            F.broadcast(texts), key.eqNullSafe(texts["__txt"]), how="left"
        ).drop("__txt")

    # Rebalance after the distinct: its output is small in bytes, so AQE
    # coalesces to ~1 partition, which would run the regex-heavy NLP chain
    # below single-threaded when the distinct side is large (the all-unique
    # stress shape). The moved data is just the text strings.
    texts = (
        df.select(F.col(text_col).alias("__txt"))
        .distinct()
        .repartition(df.sparkSession.sparkContext.defaultParallelism)
    )
    if fuzzy:
        # caches_out threads through to the cascade's cut-point caches so
        # a long-lived caller (CleaningService does this) can unpersist
        # after its terminal action — without it, the broadcast-join path
        # (mapping > MAPPING_LITERAL_MAX) parks cached frames per request
        texts = with_all_locations_fuzzy(
            texts, "__txt", "__txt", locs_col, index, caches_out=caches_out
        )
    else:
        texts = texts.withColumn(
            locs_col, extract_all_locations_expr(F.col("__txt"), index)
        )
    # 1:1 Generate barrier: locs/norm feed many lazily-evaluated CASE
    # branches (no subexpression elimination), so block CollapseProject from
    # inlining the resolution chain into each branch
    texts = texts.withColumn("__norm", normalize_arabic(F.col("__txt")))
    texts = texts.select(
        "__txt",
        F.explode(F.array(F.struct(F.col(locs_col), F.col("__norm")))).alias("__b"),
    ).select(
        "__txt",
        F.col(f"__b.{locs_col}").alias(locs_col),
        F.col("__b.__norm").alias("__norm"),
    )
    texts = texts.withColumn(
        clean_col, end_location_clean_expr(F.col("__txt"), F.col(locs_col))
    )
    texts = texts.withColumn(
        type_col,
        categorize_trip_type_expr(
            F.col("__txt"), F.col(locs_col), norm=F.col("__norm")
        ),
    ).drop("__norm")
    return df.join(
        texts, df[text_col].eqNullSafe(texts["__txt"]), how="left"
    ).drop("__txt")


def trip_tokens_expr(text: Column) -> Column:
    """The tokens F2 resolves: round-trip scrub → tokenize of the trimmed
    text; empty for null/''."""
    raw = F.trim(text.cast("string"))
    return F.when(
        text.isNull() | (raw == ""), F.array().cast("array<string>")
    ).otherwise(tokenize_trip(scrub_round_trip(raw)))


def literal_hits_expr(text: Column, m: Column | None) -> Column:
    """F2's location list from a resolved (token → canonical) map (None =
    empty mapping): each token looked up in text order, misses dropped,
    order-preserving distinct; empty for null/''."""
    raw = F.trim(text.cast("string"))
    if m is None:
        hits = F.array().cast("array<string>")
    else:
        dtoks = tokenize_trip(scrub_round_trip(raw))
        hits = F.array_distinct(
            F.filter(
                F.transform(dtoks, lambda t: F.element_at(m, t)),
                lambda x: x.isNotNull(),
            )
        )
    return F.when(
        text.isNull() | (raw == ""), F.array().cast("array<string>")
    ).otherwise(hits)


class LocalLocationScan:
    """F2 with tier-3 fuzzy for texts already in the driver: the steps of
    :func:`with_all_locations_fuzzy`'s literal path over driver-local
    relations (``sources.local``), with no Spark job. The texts' tokens
    are collected and deduplicated in the driver (a local relation takes
    no distinct), the distinct tokens resolve through
    ``lookup.LocalTokenResolver``, and :func:`literal_hits_expr` assembles
    the hits from a map that each text carries for its own tokens (so the
    expressions stay constant and are built once, here). Unlike the
    distributed path this never switches to a join: callers bound the
    input instead (``LOCAL_MAX_TEXTS``)."""

    def __init__(self, index: dict[str, str], cutoff: float) -> None:
        from .lookup import LocalTokenResolver

        self.resolver = LocalTokenResolver(index, cutoff)
        self.tokens = trip_tokens_expr(F.col("text")).alias("__toks")
        self.hits = literal_hits_expr(
            F.col("text"), F.map_from_arrays(F.col("__mk"), F.col("__mv"))
        ).alias("all_locations")

    def frame(self, spark, texts: list[str | None]) -> DataFrame:
        """A driver-local (text, all_locations) frame, in input order."""
        df = local_frame(spark, [{"text": t} for t in texts], "text string")
        toks = [r["__toks"] for r in df.select(self.tokens).collect()]
        mapping = self.resolver.resolve(spark, list(dict.fromkeys(t for ts in toks for t in ts)))
        rows = []
        for text, ts in zip(texts, toks):
            own = {t: mapping[t] for t in ts if t in mapping}
            rows.append({"text": text, "__mk": list(own), "__mv": list(own.values())})
        schema = "text string, __mk array<string>, __mv array<string>"
        return local_frame(spark, rows, schema).select("text", self.hits)


class LocalCleaner:
    """The NLP block (all_locations, main_location, trip_type) for texts
    already in the driver, with no Spark job: the texts become a
    driver-local relation, tiers 1-2 run as the same Column expressions,
    tier-3 misses are scored in the driver (:class:`LocalLocationScan`),
    and only Project steps run over the relation, so Catalyst evaluates
    all of it in the driver. Holds no per-call state: get one from
    :func:`local_cleaner` and share it across threads."""

    def __init__(self, index: dict[str, str], cutoff: float) -> None:
        self.scan = LocalLocationScan(index, cutoff)
        self.tier12 = extract_all_locations_expr(F.col("text"), index).alias("all_locations")
        t, locs = F.col("text"), F.col("all_locations")
        self.outputs = [
            "text", "all_locations",
            end_location_clean_expr(t, locs).alias("main_location"),
            categorize_trip_type_expr(t, locs).alias("trip_type"),
        ]

    def clean(self, spark, texts: list[str | None], fuzzy: bool) -> list:
        """Result rows in input order; at most ``LOCAL_MAX_TEXTS`` texts."""
        if fuzzy:
            df = self.scan.frame(spark, texts)
        else:
            df = local_frame(spark, [{"text": t} for t in texts], "text string")
            df = df.select("text", self.tier12)
        return df.select(*self.outputs).collect()


# (gateway generation, dictionary contents, cutoff) → LocalCleaner: its
# expressions are hundreds of py4j calls (~70 ms a build), and every
# trips report and every service shares the same few settings
_CLEANERS: dict[tuple, LocalCleaner] = {}
_GEN_KEYED_MEMOS.append(_CLEANERS)


def local_cleaner(index: dict[str, str], cutoff: float) -> LocalCleaner:
    """The shared :class:`LocalCleaner` for ``index`` and ``cutoff``."""
    key = (_gateway_generation(), tuple(index.items()), cutoff)
    cleaner = _CLEANERS.get(key)
    if cleaner is None:
        cleaner = _CLEANERS[key] = LocalCleaner(index, cutoff)
    return cleaner


def with_all_locations_fuzzy(
    df: DataFrame,
    text_col: str,
    id_col: str,
    out_col: str = "all_locations_list",
    index: dict[str, str] | None = None,
    cutoff: float | None = None,
    caches_out: list | None = None,
) -> DataFrame:
    """F2 with tier-3 fuzzy: the full scan runs once per *distinct* text —
    the reference's lru_cache insight (cleaner_v6.py:37, 180) lifted to the
    text level — then the (text → locations) map joins back. Per distinct
    text: posexplode tokens → 3-tier resolve (distinct-fuzzy E4 inside) →
    ordered, order-preserving distinct re-aggregation.

    ``id_col`` is kept for API stability; resolution keys on the text
    itself. At 100 TB the distinct-text side is the small side and AQE
    broadcast-converts the join-back.

    Adaptive application (mirrors operators.lookup.resolve_tokens_fuzzy):
    once the distinct-token cascade has produced the (token → canonical)
    mapping, a mapping under ``MAPPING_LITERAL_MAX`` entries is inlined as
    a literal map and the whole scan becomes ONE zero-shuffle expression
    over ``df`` — identical in shape to the tier-1/2
    :func:`extract_all_locations_expr`, with fuzzy hits included in the
    map. (``df`` is the distinct-text frame when called from
    with_nlp_enrichment, so the per-row tokenize regex runs once per
    distinct text.) A larger mapping falls back to the explode →
    broadcast-join → ordered re-aggregation plan."""
    from .lookup import (
        FUZZY_SCORE_CUTOFF,
        _distinct_token_mapping,
        mapping_literal_probe,
    )
    from ..sources.dictionary import build_variant_index

    index = index if index is not None else build_variant_index()
    cutoff = cutoff if cutoff is not None else FUZZY_SCORE_CUTOFF
    texts = df.select(F.col(text_col).alias("__ftxt")).distinct()
    exploded = texts.select(
        F.col("__ftxt"), F.posexplode_outer(trip_tokens_expr(F.col("__ftxt"))).alias("__pos", "__tok")
    )
    mapping, caches = _distinct_token_mapping(exploded, "__tok", index, cutoff)
    m, is_literal = mapping_literal_probe(mapping)
    if is_literal:
        for c in caches:
            c.unpersist()
        return df.withColumn(out_col, literal_hits_expr(F.col(text_col), m))

    # join path: the plan references the cached cut points — hand them to
    # the caller for post-action unpersist (see lookup.resolve_tokens_fuzzy)
    if caches_out is not None:
        caches_out.extend(caches)
    resolved = exploded.join(
        F.broadcast(mapping.withColumnRenamed("__canonical", "__canon")),
        exploded["__tok"] == mapping["__t"],
        "left",
    ).drop("__t")
    rebuilt = (
        resolved.groupBy("__ftxt")
        .agg(
            F.array_distinct(
                F.filter(
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
                    ),
                    lambda x: x.isNotNull(),
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
