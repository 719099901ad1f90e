"""The reference's end-to-end trips pipeline + 4 analytics outputs
(SURVEY.md §2 A8/B/C/F4/G/H; Main.py:362-439, 210-310), Spark-first.

Fixture strategy: the driver tables carry no Arabic free text, so trips are
synthesized *deterministically* from ``events`` — every derived field is a
pure arithmetic/string function of (event_id, user_id, ts, value), and
``end_location`` cycles through GOLDEN_TEXTS, the reference-derived messy
Arabic/EN corpus (README.md:103-104 + locations.json variants + cascade
branches). The identical synthesis is expressed in the DuckDB oracle SQL, so
the entire pipeline — coercions, scalar derivations, NLP extraction,
classification, array ops, aggregations — is value-hash-checked end to end.

Scale design:
- The NLP enrichment runs once per distinct text
  (``extract.with_nlp_enrichment``). Up to
  ``extract.ENRICH_LOCAL_MAX_TEXTS`` distinct texts (2,048 fuzzy, 1,024
  not; the golden corpus has 32) are enriched in the driver after one
  distinct probe, and their answers ride into the plan as one map literal
  in a projection, so a report's plan holds no NLP work, no join, no
  Python UDF and no cached cut point; more distinct texts take the
  distributed cascade. No builder here persists anything or asks its
  caller to ``clearCache()``.
- Building is eager: the probe is a Spark job that every builder here
  runs when called, so code that only builds a plan (registry
  enumeration, explain capture) pays it once per builder. It is the
  build's only Spark work: the events schema comes from the parquet
  footer (``sources.tables``), and the master stage's select lists are
  built once per live gateway and applied as three projections around
  the enrichment. On the local path the built plan carries the
  enrichment as a snapshot of the source at build time.
- ``location_pairs`` generates pair structs with array expressions
  (flatten/transform) instead of the reference's iterrows loop
  (Main.py:244-255) — the explode is the only wide step, and the
  pairs-per-row bound (≤ C(5,2)=10) caps blowup.
- Percentage denominators are single-row aggregates broadcast-joined back
  (reference recomputes len(df) driver-side, Main.py:262-263).
- The pairs and stats reports hold at most one row per (pair of)
  canonical location(s), so they sort in one partition: no range
  exchange and no sampling job.
- Above the local limit, the enrichment is one lazy plan over the
  distinct texts, joined back on the text: building it runs nothing
  beyond the probe, and the fuzzy variant scores each text's misses in
  one pandas UDF when the plan runs. That path caches nothing either.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions import arabic
from ..functions.coercion import coerce_string, dsum
from ..functions.scalars import (
    conditional_distance,
    extract_plate,
    route_string,
    sql_extract_plate,
    us_date_string,
)
from ..operators.extract import with_nlp_enrichment
from ..session import per_gateway
from ..sources.dictionary import sql_tier1_case, sql_tier2_case
from ..sources.tables import load_table

# Messy-text corpus: README.md:103-104 golden cases + locations.json variants
# + one probe per F3 cascade branch. Index order is load-bearing (events map
# onto it by event_id % len).
GOLDEN_TEXTS: list[str | None] = [
    "تشغيل 12 ساعه مطارررر القاهره وعوده",
    "الهرم + المطار و وسط البلد",
    "فاتورة ادارة",
    "12345",
    "",
    None,
    "مطار القاهرة",
    "المطار",
    "استقبال مطار",
    "توصيلة الهرم",
    "وسط البلد + التحرير",
    "ميدان التحرير وعودة",
    "ذهاب وعودة الهرم",
    "رحلة نيلية مركب",
    "هيلتون",
    "فندق هيلتون والتحرير",
    "يوم كامل سيدان",
    "abc airport terminal 2",
    "downtown cairo trip",
    "the pyramids and downtown",
    "مستر احمد تحصيل فاتورة",
    "ابو الهول والاهرامات",
    "هرم، المطار، هيلتون",
    "عودة",
    "سفرمطار",
    "جولة اهرامات وايجار مركب",
    "مطاار الي الفندق",
    # diacritics + tatweel + word-final ha folds (D1 paths in-pipeline)
    "مَطَـــار القاهِرَه",
    # lam-alef ligature + admin term
    "ﻻ ادارة فواتير",
    # mixed EN stopwords with a variant
    "to the airport and back",
    # arabic-indic digits only → Unknown guard
    "٤٥٦",
    # separator soup
    "،،؛؛",
]

MASTER_COLUMNS = [
    "#", "customer_name", "date", "sale_price", "currency", "driver_name",
    "entry_number", "start_location", "end_location", "reference_id",
    "km_start", "km_return", "Total_KM", "station", "receiver_name",
    "car_number", "Car_Num", "Trip_Type", "num_locations",
    "Location_1", "Location_2", "Location_3", "Location_4", "Location_5",
    "end_location_original",
]


def _columns() -> tuple[list[Column], list[Column], list[Column]]:
    """The master stage's three select lists, built once per live gateway
    (``session.per_gateway``; a build is about a hundred py4j calls, the
    32-text golden array among them) and shared by every builder:

    - ``raw``: trips_raw's records over the events columns;
    - ``scalars``: the raw records with B5's string scrub of
      ``end_location``, C1-C3 and ``end_location_original``;
    - ``master``: after the NLP block, MASTER_COLUMNS with the clean
      location and G1/G2, plus ``locs``."""

    def build():
        n = len(GOLDEN_TEXTS)
        uid, eid = F.col("user_id"), F.col("event_id")
        golden = F.array(
            *[F.lit(t) if t is not None else F.lit(None).cast("string") for t in GOLDEN_TEXTS]
        )
        raw = {
            "#": eid,
            "customer_name": F.concat(F.lit("Customer "), (uid % 200).cast("string")),
            "ts": F.col("ts"),
            "sale_price": F.col("value"),
            "currency": F.lit("EGP"),
            "driver_name": F.concat(F.lit("Driver "), (uid % 7).cast("string")),
            "entry_number": eid % 97,
            "start_location": F.col("event_type"),
            "end_location": F.element_at(golden, ((eid % n) + 1).cast("int")),
            "km_start": eid % 1000,
            "km_return": (eid % 1000) + (eid % 7) * 50 - 100,
            "station": F.concat(F.lit("ST-"), (uid % 5).cast("string")),
            "receiver_name": F.concat(F.lit("Receiver "), (uid % 11).cast("string")),
            "car_number": F.when(uid % 13 == 0, F.lit("بدون ارقام"))
            .when(uid % 5 == 0, F.concat(F.lit("00"), (uid % 100).cast("string")))
            .otherwise(F.concat(F.lit("س و ع "), uid.cast("string"))),
            "reference_id": F.concat(F.lit("REF-"), eid.cast("string")),
        }
        # apply_power_query_transformations mirror (Main.py:362-439):
        # B5 string scrub → C1/C2/C3, then (after the NLP block) G1/G2
        text = coerce_string(F.col("end_location"))
        scalars = [F.col(f"`{c}`") for c in raw if c != "end_location"] + [
            text.alias("end_location"),
            conditional_distance(F.col("km_start"), F.col("km_return")).alias("Total_KM"),
            extract_plate(F.col("car_number")).alias("Car_Num"),
            us_date_string(F.col("ts")).alias("date"),
            text.alias("end_location_original"),
        ]
        locs = F.col("locs")
        derived = {
            "end_location": F.col("End_Location_Clean"),
            "num_locations": F.size(locs).cast("bigint"),
            # try_element_at: NULL beyond the array end (G2,
            # Main.py:227-231) — plain element_at throws under ANSI mode
            # (Spark 4 default)
            **{f"Location_{i}": F.try_element_at(locs, F.lit(i)) for i in range(1, 6)},
        }
        master = [derived[c].alias(c) if c in derived else F.col(f"`{c}`") for c in MASTER_COLUMNS]
        return [e.alias(c) for c, e in raw.items()], scalars, master + [locs]

    return per_gateway(("plans.trips",), build)


def trips_raw(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic trip records from events (structure_raw_data analogue,
    Main.py:442-463 shape)."""
    return load_table(spark, sf_dir, "events").select(*_columns()[0])


def _master_stage(spark: SparkSession, sf_dir: str, fuzzy: bool = False) -> DataFrame:
    """The enriched master records: ``MASTER_COLUMNS`` and ``locs``. The
    whole NLP block is a pure function of the text, so it resolves once
    per distinct text (the reference's lru_cache insight; the chain runs
    |distinct| times instead of |rows| times)."""
    _, scalars, master = _columns()
    df = trips_raw(spark, sf_dir).select(*scalars)
    return with_nlp_enrichment(df, "end_location", fuzzy=fuzzy).select(*master)


def trips_master(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 25-column master output (Main.py:430-438), expression-only tiers."""
    return _master_stage(spark, sf_dir).select(*MASTER_COLUMNS)


def trips_master_fuzzy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Master with tier-3 fuzzy lookup enabled (reference default config;
    token_sort_ratio has no SQL equivalent → rows-only check)."""
    return _master_stage(spark, sf_dir, fuzzy=True).select(*MASTER_COLUMNS)


def trips_fuzzy_stress(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Worst case for the distinct-resolve-join (extract.with_nlp_enrichment
    documents the risk): every end_location is made unique with a per-row
    suffix, so |distinct texts| == |rows| and the distinct-resolve
    optimization buys nothing — the full 3-tier NLP (fuzzy included) runs
    once per row. Up to ``extract.ENRICH_LOCAL_MAX_TEXTS[True]`` rows it
    runs in the driver; at sf0.1 (100,000 rows) it takes the distributed
    path after the extra distinct probe. No benchmark workload reaches
    that path, so its timings are by-hand runs (recorded in CHANGES.md),
    not benchmark evidence.
    Rows-only by design (fuzzy tier has no SQL mirror); the aggregate
    output keeps a noop-sink write from skipping any of the per-row
    work."""
    df = trips_raw(spark, sf_dir).withColumn(
        "end_location",
        F.concat_ws(" ", F.col("end_location"), F.col("#").cast("string")),
    )
    df = with_nlp_enrichment(df, "end_location", fuzzy=True)
    return (
        df.groupBy("Trip_Type")
        .agg(
            F.count("*").alias("n_trips"),
            F.countDistinct("End_Location_Clean").alias("n_clean"),
            F.sum(F.size("locs")).alias("n_locs"),
        )
        .orderBy("Trip_Type")
    )


_VALID_LOC = lambda x: x.isNotNull() & (F.trim(x) != "") & (x != "Undefined")  # noqa: E731


def location_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """H1/H2 pair analysis (Main.py:234-263): unordered sorted pairs from the
    per-trip location set, frequency/revenue/percentage-of-multi-trips."""
    # both the pairs branch and the percentage denominator read the
    # enriched multi-trip slice; the enrichment is a map literal in the
    # scan's projection, so reading it twice costs two cheap scans
    m = (
        _master_stage(spark, sf_dir)
        .filter(F.col("num_locations") >= 2)
        .select("#", "sale_price", "locs")
    )
    total = m.select(F.count("*").alias("__tm"))
    # bind `valid` as a LAMBDA VARIABLE (transform-over-singleton, the
    # shingles_expr pattern) so the sort+filter evaluates once per row: a
    # plain expression reference inside the pair lambdas re-evaluates it
    # per outer element, and a staged withColumn gets re-inlined by
    # CollapseProject (both measured in this repo's HOF notes)
    valid_expr = F.array_sort(F.filter(F.slice(F.col("locs"), 1, 5), _VALID_LOC))
    pairs = F.try_element_at(
        F.transform(
            F.array(valid_expr),
            lambda v: F.flatten(
                F.transform(
                    v,
                    lambda x, i: F.transform(
                        F.slice(v, i + 2, F.size(v)),
                        lambda y: F.struct(
                            x.alias("Location_A"), y.alias("Location_B")
                        ),
                    ),
                )
            ),
        ),
        F.lit(1),
    )
    exploded = m.select(
        F.col("#").alias("trip_id"),
        F.col("sale_price"),
        F.explode(pairs).alias("pair"),
    ).select("trip_id", "sale_price", "pair.Location_A", "pair.Location_B")
    agg = exploded.groupBy("Location_A", "Location_B").agg(
        F.count("trip_id").alias("Frequency"),
        dsum(F.col("sale_price"), 6).alias("Total_Revenue"),
    )
    # at most one row per pair of canonical locations: sorted in one
    # partition, the sort needs no range-sampling job (the sink writes one
    # file anyway)
    return (
        agg.crossJoin(F.broadcast(total))
        .select(
            "Location_A", "Location_B", "Frequency", "Total_Revenue",
            F.round(F.col("Frequency") * 100.0 / F.col("__tm"), 2).alias("Percentage"),
        )
        .coalesce(1)
        .orderBy(F.desc("Frequency"), "Location_A", "Location_B")
    )


def location_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """H3/H4 location statistics (Main.py:266-290): melt Location_1..5,
    visits/revenue/primary-count + derived ratios. Visit_Percentage's
    denominator is ALL trips, not melted rows (Main.py:290)."""
    # the melt branch and the all-trips denominator both read the enriched
    # stage, uncached for the same reason as in location_pairs
    m = _master_stage(spark, sf_dir).select("#", "sale_price", "locs")
    total = m.select(F.count("*").alias("__tt"))
    melted = m.select(
        F.col("#").alias("id"),
        F.col("sale_price"),
        F.posexplode(F.slice(F.col("locs"), 1, 5)).alias("pos", "Location"),
    ).filter(_VALID_LOC(F.col("Location")))
    agg = melted.groupBy("Location").agg(
        F.count("id").alias("Total_Visits"),
        dsum(F.col("sale_price"), 6).alias("Total_Revenue"),
        F.sum((F.col("pos") == 0).cast("bigint")).alias("Primary_Destination_Count"),
    )
    # at most one row per canonical location: one-partition sort, as in
    # location_pairs
    return (
        agg.crossJoin(F.broadcast(total))
        .select(
            "Location", "Total_Visits", "Total_Revenue", "Primary_Destination_Count",
            F.round(F.col("Total_Revenue") / F.col("Total_Visits"), 2).alias(
                "Avg_Revenue_Per_Visit"
            ),
            F.round(F.col("Total_Visits") * 100.0 / F.col("__tt"), 2).alias("Visit_Percentage"),
        )
        .coalesce(1)
        .orderBy(F.desc("Total_Visits"), "Location")
    )


def multi_location_details(spark: SparkSession, sf_dir: str) -> DataFrame:
    """H5 multi-location detail report (Main.py:293-310)."""
    m = _master_stage(spark, sf_dir).filter(F.col("num_locations") >= 2)
    return m.select(
        "#", "customer_name", "date", "sale_price", "num_locations",
        route_string(F.slice(F.col("locs"), 1, 5)).alias("Trip_Route"), "Trip_Type",
        "Location_1", "Location_2", "Location_3", "Location_4", "Location_5",
    )


# ── DuckDB oracle SQL (generated from the same constants) ───────────────────

def _sq(s: str) -> str:
    return s.replace("'", "''")


def _sql_golden_list() -> str:
    items = ", ".join("NULL" if t is None else f"'{_sq(t)}'" for t in GOLDEN_TEXTS)
    return f"[{items}]"


def _sql_trip_type(norm: str, raw: str, locs: str) -> str:
    return f"""CASE
      WHEN {raw} IS NULL OR trim({raw}) = '' THEN 'Undefined'
      WHEN list_contains({locs}, 'Invalid Data') THEN 'Invalid Data'
      WHEN {arabic.sql_rlike(norm, arabic.AIRPORT_PATTERN)} THEN 'Airport Transfer'
      WHEN list_contains({locs}, 'Admin/Management') THEN 'Admin/Management'
      WHEN {arabic.sql_rlike(norm, arabic.ADMIN_PATTERN)} THEN 'Admin/Management'
      WHEN list_contains({locs}, 'Airport') THEN 'Airport Transfer'
      WHEN {arabic.sql_rlike(f'trim({raw})', arabic.RT_PATTERN)} THEN 'Round Trip'
      WHEN list_contains({locs}, 'Nile Cruise') OR {arabic.sql_rlike(norm, arabic.NILE_PATTERN)} THEN 'Nile Cruise'
      WHEN list_contains({locs}, 'Special Operations') THEN 'Special Operations'
      WHEN {arabic.sql_rlike(norm, arabic.OP_ONLY_PATTERN)} OR {arabic.sql_rlike(norm, arabic.OP_PREFIX_PATTERN)} THEN 'Special Operations'
      WHEN len({locs}) >= 2 THEN 'Multi-Destination'
      ELSE 'Standard Transfer'
    END"""


def _sql_master_stage() -> str:
    """CTE chain mirroring _master_stage (fuzzy off) on the events table."""
    n = len(GOLDEN_TEXTS)
    strip_t = arabic.sql_strip_op_prefix("t")
    token_struct = (
        "{'n': " + arabic.sql_normalize("t") + ", "
        "'s': CASE WHEN " + strip_t + " <> '' THEN "
        + arabic.sql_normalize(strip_t) + " END}"
    )
    resolve = (
        "COALESCE("
        + sql_tier1_case("x.n") + ", " + sql_tier2_case("x.n") + ", "
        + sql_tier1_case("x.s") + ", " + sql_tier2_case("x.s") + ")"
    )
    toks = arabic.sql_tokenize(arabic.sql_scrub_round_trip("trim(end_location)"))
    plate = sql_extract_plate("car_number")
    return f"""
WITH raw AS (
  SELECT event_id AS id,
         'Customer ' || (user_id % 200) AS customer_name,
         ts,
         value AS sale_price,
         'EGP' AS currency,
         'Driver ' || (user_id % 7) AS driver_name,
         event_id % 97 AS entry_number,
         event_type AS start_location,
         COALESCE(CAST(list_extract({_sql_golden_list()}, CAST((event_id % {n}) + 1 AS INT)) AS VARCHAR), '') AS end_location,
         event_id % 1000 AS km_start,
         (event_id % 1000) + (event_id % 7) * 50 - 100 AS km_return,
         'ST-' || (user_id % 5) AS station,
         'Receiver ' || (user_id % 11) AS receiver_name,
         CASE WHEN user_id % 13 = 0 THEN 'بدون ارقام'
              WHEN user_id % 5 = 0 THEN '00' || (user_id % 100)
              ELSE 'س و ع ' || user_id END AS car_number,
         'REF-' || event_id AS reference_id
  FROM events
),
tok AS (
  SELECT *, {toks} AS toks, {arabic.sql_normalize("end_location")} AS norm_full FROM raw
),
res AS (
  SELECT *, list_transform(list_transform(toks, t -> {token_struct}), x -> {resolve}) AS resolved FROM tok
),
hit AS (
  SELECT *, list_filter(resolved, x -> x IS NOT NULL) AS hitlist FROM res
),
locd AS (
  SELECT *, CASE WHEN trim(end_location) = '' THEN CAST([] AS VARCHAR[])
                 ELSE list_filter(hitlist, (x, i) -> list_position(hitlist, x) = i) END AS locs
  FROM hit
),
master_stage AS (
  SELECT *,
         CASE WHEN len(locs) > 0 THEN locs[1]
              WHEN trim(end_location) = '' THEN 'Undefined'
              WHEN regexp_matches(trim(end_location), '^[0-9٠-٩]+$') OR length(trim(end_location)) < 2 THEN 'Unknown'
              ELSE {arabic.sql_title_first_two_words("end_location")}
         END AS end_clean,
         {_sql_trip_type("norm_full", "end_location", "locs")} AS Trip_Type,
         CASE WHEN km_start > 0 AND km_return > km_start THEN km_return - km_start ELSE 0 END AS Total_KM,
         {plate} AS Car_Num,
         CASE WHEN ts IS NOT NULL
              THEN CAST(month(ts) AS VARCHAR) || '/' || CAST(day(ts) AS VARCHAR) || '/' || CAST(year(ts) AS VARCHAR)
              ELSE '' END AS date_us,
         CAST(len(locs) AS BIGINT) AS num_locations
  FROM locd
)"""


_MASTER_SELECT = """
SELECT id AS "#", customer_name, date_us AS date, sale_price, currency,
       driver_name, entry_number, start_location, end_clean AS end_location,
       reference_id, km_start, km_return, Total_KM, station, receiver_name,
       car_number, Car_Num, Trip_Type, num_locations,
       list_extract(locs, 1) AS Location_1,
       list_extract(locs, 2) AS Location_2,
       list_extract(locs, 3) AS Location_3,
       list_extract(locs, 4) AS Location_4,
       list_extract(locs, 5) AS Location_5,
       end_location AS end_location_original
FROM master_stage
"""

TRIPS_MASTER_SQL = _sql_master_stage() + _MASTER_SELECT

LOCATION_PAIRS_SQL = (
    _sql_master_stage()
    + """,
multi AS (SELECT * FROM master_stage WHERE num_locations >= 2),
pv AS (
  SELECT id, sale_price,
         list_sort(list_filter(locs[1:5], x -> x IS NOT NULL AND trim(x) <> '' AND x <> 'Undefined')) AS sorted_locs
  FROM multi
),
pp AS (
  SELECT id, sale_price,
         flatten(list_transform(sorted_locs, (x, i) ->
             list_transform(sorted_locs[i+1:], y -> {'Location_A': x, 'Location_B': y}))) AS pairs
  FROM pv
),
px AS (SELECT id, sale_price, unnest(pairs, recursive := true) FROM pp)
SELECT Location_A, Location_B,
       COUNT(id) AS Frequency,
       CAST(SUM(CAST(sale_price AS DECIMAL(28,6))) AS DOUBLE) AS Total_Revenue,
       ROUND(COUNT(id) * 100.0 / (SELECT COUNT(*) FROM multi), 2) AS Percentage
FROM px
GROUP BY Location_A, Location_B
ORDER BY Frequency DESC, Location_A, Location_B
"""
)

LOCATION_STATS_SQL = (
    _sql_master_stage()
    + """,
melted AS (
  SELECT id, sale_price,
         unnest(list_transform(locs[1:5], (x, i) -> {'pos': i, 'Location': x}), recursive := true)
  FROM master_stage
),
filt AS (
  SELECT * FROM melted
  WHERE Location IS NOT NULL AND trim(Location) <> '' AND Location <> 'Undefined'
)
SELECT Location,
       COUNT(id) AS Total_Visits,
       CAST(SUM(CAST(sale_price AS DECIMAL(28,6))) AS DOUBLE) AS Total_Revenue,
       CAST(SUM(CASE WHEN pos = 1 THEN 1 ELSE 0 END) AS BIGINT) AS Primary_Destination_Count,
       ROUND(CAST(SUM(CAST(sale_price AS DECIMAL(28,6))) AS DOUBLE) / COUNT(id), 2) AS Avg_Revenue_Per_Visit,
       ROUND(COUNT(id) * 100.0 / (SELECT COUNT(*) FROM master_stage), 2) AS Visit_Percentage
FROM filt
GROUP BY Location
ORDER BY Total_Visits DESC, Location
"""
)

MULTI_DETAILS_SQL = (
    _sql_master_stage()
    + """
SELECT id AS "#", customer_name, date_us AS date, sale_price, num_locations,
       COALESCE(array_to_string(locs[1:5], ' → '), '') AS Trip_Route, Trip_Type,
       list_extract(locs, 1) AS Location_1,
       list_extract(locs, 2) AS Location_2,
       list_extract(locs, 3) AS Location_3,
       list_extract(locs, 4) AS Location_4,
       list_extract(locs, 5) AS Location_5
FROM master_stage
WHERE num_locations >= 2
"""
)


QUERIES = {
    "trips_master": trips_master,
    "trips_master_fuzzy": trips_master_fuzzy,
    "trips_fuzzy_stress": trips_fuzzy_stress,
    "location_pairs": location_pairs,
    "location_stats": location_stats,
    "multi_location_details": multi_location_details,
}

ORACLES = {
    "trips_master": TRIPS_MASTER_SQL,
    "location_pairs": LOCATION_PAIRS_SQL,
    "location_stats": LOCATION_STATS_SQL,
    "multi_location_details": MULTI_DETAILS_SQL,
}
