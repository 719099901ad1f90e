"""Physical-plan quality gates: these lock in the properties that matter at
100 TB (scan pushdown, column pruning, broadcast dims, shuffle-free NLP
enrichment, top-k without global sort) so refactors can't silently regress
them."""

from __future__ import annotations

from advanced_logistics_data_engineering_arabic_nlp_pipeline_spark import registry

QUERIES = registry.all_queries()


def _plan(spark, sf_dir, name: str) -> str:
    df = QUERIES[name](spark, sf_dir)
    qe = df._jdf.queryExecution()
    mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    return qe.explainString(mode)


def test_pricing_summary_pushdown_and_pruning(spark, sf_dir):
    p = _plan(spark, sf_dir, "pricing_summary")
    assert "LessThanOrEqual(l_shipdate" in p, "shipdate filter not pushed to parquet"
    read_schema = next(l for l in p.splitlines() if "ReadSchema" in l)
    assert "l_orderkey" not in read_schema, "unused columns not pruned from scan"
    assert "l_returnflag" in read_schema


def test_revenue_by_nation_broadcasts_dims(spark, sf_dir):
    p = _plan(spark, sf_dir, "revenue_by_nation")
    assert p.count("BroadcastHashJoin") >= 2, "nation/region dims must broadcast"


def test_trips_master_fact_side_stays_narrow(spark, sf_dir):
    # NLP resolution runs once per distinct text; the fact side must join
    # that map back via broadcast — never a fact-side repartition (a
    # SortMergeJoin here would shuffle every row at 100 TB). The only
    # hash exchange allowed is the tiny distinct-text aggregation.
    p = _plan(spark, sf_dir, "trips_master")
    assert "BroadcastHashJoin" in p, "NLP map must broadcast-join back"
    assert "SortMergeJoin" not in p, "fact side must not shuffle for the NLP join"


def test_top_customers_avoids_global_sort(spark, sf_dir):
    p = _plan(spark, sf_dir, "top_customers")
    assert "TakeOrderedAndProject" in p, "limit+orderBy should be top-k, not full sort"


def test_dictionary_lookup_join_is_broadcast(spark, sf_dir):
    p = _plan(spark, sf_dir, "location_lookup_join")
    assert "BroadcastHashJoin" in p, "dictionary dim must broadcast-join"


def test_scan_rebalance_only_when_row_groups_cannot_feed_cores(spark, sf_dir):
    """Single-row-group fixture files give the whole scan pipeline ONE task;
    load_table inserts a repartition exactly when (a) the footer shows too
    few row groups for the session AND (b) the table is non-trivial. The
    sf0.001 fixtures sit below the row threshold -> no exchange; sf0.01
    lineitem crosses it -> round-robin exchange present. At production
    scale (many row groups) the condition is false by construction."""
    from advanced_logistics_data_engineering_arabic_nlp_pipeline_spark.sources.tables import load_table

    small = load_table(spark, sf_dir, "documents")  # sf0.001: 50 rows
    assert "RoundRobinPartitioning" not in small._jdf.queryExecution().toString()

    big = load_table(spark, "/root/testdata/sf0.01", "lineitem")  # 60k rows
    assert "RoundRobinPartitioning" in big._jdf.queryExecution().toString()

    dim = load_table(spark, "/root/testdata/sf0.01", "customer")  # broadcast dim
    assert "RoundRobinPartitioning" not in dim._jdf.queryExecution().toString()


def test_expression_builder_memos_return_same_tree(spark):
    """normalize_arabic / variant_map_expr are memoized per (gateway, input
    expression): repeated builds must return the SAME Column object (py4j
    construction cost is the point), and different inputs must not collide."""
    from pyspark.sql import functions as F

    from advanced_logistics_data_engineering_arabic_nlp_pipeline_spark.functions.arabic import normalize_arabic
    from advanced_logistics_data_engineering_arabic_nlp_pipeline_spark.sources.dictionary import (
        build_variant_index,
        variant_map_expr,
    )

    a1 = normalize_arabic(F.col("some_col"))
    a2 = normalize_arabic(F.col("some_col"))
    assert a1 is a2
    b = normalize_arabic(F.col("other_col"))
    assert b is not a1

    idx = build_variant_index()
    m1 = variant_map_expr(idx)
    m2 = variant_map_expr(idx)
    assert m1 is m2


def test_trips_master_fuzzy_build_runs_only_the_distinct_probe(spark, sf_dir):
    """The fuzzy master's build runs no more Spark jobs than its distinct
    probe needs (the texts are enriched in the driver), and its plan holds
    no Python UDF and no shuffle join."""
    from pyspark.sql import functions as F

    from advanced_logistics_data_engineering_arabic_nlp_pipeline_spark.operators.extract import (
        ENRICH_LOCAL_MAX_TEXTS,
    )
    from advanced_logistics_data_engineering_arabic_nlp_pipeline_spark.plans import trips
    from tests.test_service import _jobs

    def probe_only():
        raw = trips.trips_raw(spark, sf_dir).select(F.col("end_location").cast("string"))
        return raw.distinct().limit(ENRICH_LOCAL_MAX_TEXTS[True] + 1).collect()

    trips.trips_master_fuzzy(spark, sf_dir)  # warm the scan and the memos
    _, probe = _jobs(spark, probe_only, "probe")
    df, build = _jobs(spark, lambda: trips.trips_master_fuzzy(spark, sf_dir), "build")
    assert 0 < build <= probe
    p = df._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )
    for node in ("ArrowEvalPython", "BatchEvalPython", "SortMergeJoin"):
        assert node not in p, node


def test_report_cycle_leaves_no_persisted_rdds(spark, sf_dir, tmp_path):
    """A whole report cycle (four builds + CSV writes) pins nothing: it adds
    no RDD to the persisted set, and the caller does not clear the cache.
    (RDDs that earlier tests left pinned may leave the set meanwhile: the
    JVM's ContextCleaner unpersists them once they are garbage.)"""
    import os

    from advanced_logistics_data_engineering_arabic_nlp_pipeline_spark.plans import trips
    from advanced_logistics_data_engineering_arabic_nlp_pipeline_spark.sources.sinks import (
        write_report_csv,
    )

    def persisted() -> set[int]:
        return {int(k) for k in spark.sparkContext._jsc.getPersistentRDDs().keySet().toArray()}

    before = persisted()
    for name in ("trips_master_fuzzy", "location_pairs", "location_stats", "multi_location_details"):
        write_report_csv(getattr(trips, name)(spark, sf_dir), str(tmp_path / name))
        assert any(f.endswith(".csv") for f in os.listdir(tmp_path / name))
    assert persisted() - before == set()
