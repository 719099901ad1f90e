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
  distinct probe and broadcast-joined back as a local relation, so a
  report's plan holds no NLP work, no Python UDF and no cached cut point;
  more distinct texts take the distributed cascade. No builder here
  persists anything or asks its caller to ``clearCache()``.
- Building is eager: the probe is a Spark job that every builder here
  runs when called, so code that only builds a plan (registry
  enumeration, explain capture) pays one job per builder. On the local
  path the built plan carries the enrichment as a snapshot of the source
  at build time.
- ``location_pairs`` generates pair structs with array expressions
  (flatten/transform) instead of the reference's iterrows loop
  (Main.py:244-255) — the explode is the only wide step, and the
  pairs-per-row bound (≤ C(5,2)=10) caps blowup.
- Percentage denominators are single-row aggregates broadcast-joined back
  (reference recomputes len(df) driver-side, Main.py:262-263).
- Above the local limit, the fuzzy variant adds the E4 distinct-fuzzy
  token mapping (bounded by distinct tokens) to the distinct-text pass.
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


def _golden_array() -> Column:
    return F.array(
        *[
            F.lit(t) if t is not None else F.lit(None).cast("string")
            for t in GOLDEN_TEXTS
        ]
    )


def trips_raw(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic trip records from events (structure_raw_data analogue,
    Main.py:442-463 shape)."""
    ev = load_table(spark, sf_dir, "events")
    n = len(GOLDEN_TEXTS)
    return ev.select(
        F.col("event_id").alias("#"),
        F.concat(F.lit("Customer "), (F.col("user_id") % 200).cast("string")).alias(
            "customer_name"
        ),
        F.col("ts"),
        F.col("value").alias("sale_price"),
        F.lit("EGP").alias("currency"),
        F.concat(F.lit("Driver "), (F.col("user_id") % 7).cast("string")).alias("driver_name"),
        (F.col("event_id") % 97).alias("entry_number"),
        F.col("event_type").alias("start_location"),
        F.element_at(_golden_array(), ((F.col("event_id") % n) + 1).cast("int")).alias(
            "end_location"
        ),
        (F.col("event_id") % 1000).alias("km_start"),
        ((F.col("event_id") % 1000) + (F.col("event_id") % 7) * 50 - 100).alias("km_return"),
        F.concat(F.lit("ST-"), (F.col("user_id") % 5).cast("string")).alias("station"),
        F.concat(F.lit("Receiver "), (F.col("user_id") % 11).cast("string")).alias(
            "receiver_name"
        ),
        F.when(F.col("user_id") % 13 == 0, F.lit("بدون ارقام"))
        .when(
            F.col("user_id") % 5 == 0,
            F.concat(F.lit("00"), (F.col("user_id") % 100).cast("string")),
        )
        .otherwise(F.concat(F.lit("س و ع "), F.col("user_id").cast("string")))
        .alias("car_number"),
        F.concat(F.lit("REF-"), F.col("event_id").cast("string")).alias("reference_id"),
    )


def _enrich(df: DataFrame, fuzzy: bool) -> DataFrame:
    """apply_power_query_transformations mirror (Main.py:362-439):
    B5 string scrub → C1/C2/C3 → F4 NLP block → G1/G2 → B7 projection."""
    df = df.withColumn("end_location", coerce_string(F.col("end_location")))
    df = df.withColumn(
        "Total_KM", conditional_distance(F.col("km_start"), F.col("km_return"))
    )
    df = df.withColumn("Car_Num", extract_plate(F.col("car_number")))
    df = df.withColumn("date", us_date_string(F.col("ts")))

    df = df.withColumn("end_location_original", F.col("end_location"))
    # the whole NLP block is a pure function of the text → resolve once per
    # distinct text and broadcast-join back (reference's lru_cache insight;
    # the chain runs |distinct| times instead of |rows| times)
    df = with_nlp_enrichment(df, "end_location", fuzzy=fuzzy)
    df = df.withColumn("end_location", F.col("End_Location_Clean"))
    df = df.withColumn("num_locations", F.size(F.col("locs")).cast("bigint"))
    for i in range(1, 6):
        # try_element_at: NULL beyond the array end (G2, Main.py:227-231) —
        # plain element_at throws under ANSI mode (Spark 4 default)
        df = df.withColumn(f"Location_{i}", F.try_element_at(F.col("locs"), F.lit(i)))
    return df


def _master_stage(spark: SparkSession, sf_dir: str, fuzzy: bool = False) -> DataFrame:
    return _enrich(trips_raw(spark, sf_dir), fuzzy)


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
    runs in the driver; benched at sf0.1 (100,000 rows) it takes the
    distributed path after the extra distinct probe, so the claimed
    fallback behavior has a recorded number instead of an assertion.
    Rows-only by design (fuzzy tier has no SQL mirror); the aggregate
    output keeps the bench noop sink from skipping any of the per-row
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
    # enriched multi-trip slice; the enrichment is a broadcast join against
    # a driver-local relation, so reading it twice costs two cheap scans
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
    return (
        exploded.groupBy("Location_A", "Location_B")
        .agg(
            F.count("trip_id").alias("Frequency"),
            dsum(F.col("sale_price"), 6).alias("Total_Revenue"),
        )
        .crossJoin(F.broadcast(total))
        .withColumn(
            "Percentage", F.round(F.col("Frequency") * 100.0 / F.col("__tm"), 2)
        )
        .drop("__tm")
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
    return (
        melted.groupBy("Location")
        .agg(
            F.count("id").alias("Total_Visits"),
            dsum(F.col("sale_price"), 6).alias("Total_Revenue"),
            F.sum((F.col("pos") == 0).cast("bigint")).alias("Primary_Destination_Count"),
        )
        .withColumn(
            "Avg_Revenue_Per_Visit",
            F.round(F.col("Total_Revenue") / F.col("Total_Visits"), 2),
        )
        .crossJoin(F.broadcast(total))
        .withColumn(
            "Visit_Percentage", F.round(F.col("Total_Visits") * 100.0 / F.col("__tt"), 2)
        )
        .drop("__tt")
        .orderBy(F.desc("Total_Visits"), "Location")
    )


def multi_location_details(spark: SparkSession, sf_dir: str) -> DataFrame:
    """H5 multi-location detail report (Main.py:293-310)."""
    m = _master_stage(spark, sf_dir).filter(F.col("num_locations") >= 2)
    return m.withColumn("Trip_Route", route_string(F.slice(F.col("locs"), 1, 5))).select(
        "#", "customer_name", "date", "sale_price", "num_locations",
        "Trip_Route", "Trip_Type",
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
