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
    # NLP resolution runs once per distinct text and its answers ride in
    # the scan's projection: the fact side is never joined and never
    # repartitioned (a shuffle here would move every row at 100 TB)
    df = QUERIES["trips_master"](spark, sf_dir)
    p = df._jdf.queryExecution().executedPlan().toString()
    assert "Join" not in p, "the NLP answers must not be joined back"
    assert "Exchange" not in p, "the fact side must not shuffle"


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
    """The NLP block's expressions are built once per (dictionary, cutoff)
    and live gateway, by the shared cleaner: repeated lookups must return
    the SAME Column objects (py4j construction cost is the point), and a
    different dictionary or cutoff must not collide."""
    from advanced_logistics_data_engineering_arabic_nlp_pipeline_spark.operators.extract import (
        local_cleaner,
    )
    from advanced_logistics_data_engineering_arabic_nlp_pipeline_spark.sources.dictionary import (
        build_variant_index,
    )

    idx = build_variant_index()
    a1 = local_cleaner(idx, 82)
    a2 = local_cleaner(build_variant_index(), 82)
    assert a1 is a2
    assert a1.tier12 is a2.tier12 and a1.fuzzy is a2.fuzzy
    assert local_cleaner(idx, 90) is not a1
    assert local_cleaner(build_variant_index({"A": ["الهرم"]}), 82) is not a1


def test_trips_master_fuzzy_build_runs_only_the_distinct_probe(spark, sf_dir, spark_jobs):
    """The fuzzy master's build runs no more Spark jobs than its distinct
    probe needs (the texts are enriched in the driver), and its plan holds
    no Python UDF and no shuffle join."""
    from pyspark.sql import functions as F

    from advanced_logistics_data_engineering_arabic_nlp_pipeline_spark.operators.extract import (
        ENRICH_LOCAL_MAX_TEXTS,
    )
    from advanced_logistics_data_engineering_arabic_nlp_pipeline_spark.plans import trips

    def probe_only():
        raw = trips.trips_raw(spark, sf_dir).select(F.col("end_location").cast("string"))
        return raw.distinct().limit(ENRICH_LOCAL_MAX_TEXTS[True] + 1).collect()

    trips.trips_master_fuzzy(spark, sf_dir)  # warm the scan and the memos
    _, probe = spark_jobs(probe_only, "probe")
    df, build = spark_jobs(lambda: trips.trips_master_fuzzy(spark, sf_dir), "build")
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


def test_report_cycle_runs_each_build_as_its_probe(spark, sf_dir, tmp_path, spark_jobs):
    """A report cycle (four builds + CSV writes) runs at most 18 Spark jobs,
    and each build runs no more jobs than its distinct probe: the events
    load infers no schema, the enrichment joins nothing back, and the two
    small grouped reports sort in one partition (no range-sampling job).
    Before those, a cycle ran 32."""
    from pyspark.sql import functions as F

    from advanced_logistics_data_engineering_arabic_nlp_pipeline_spark.operators.extract import (
        ENRICH_LOCAL_MAX_TEXTS,
    )
    from advanced_logistics_data_engineering_arabic_nlp_pipeline_spark.plans import trips
    from advanced_logistics_data_engineering_arabic_nlp_pipeline_spark.sources.sinks import (
        write_report_csv,
    )

    fuzzy = {
        "trips_master_fuzzy": True, "location_pairs": False,
        "location_stats": False, "multi_location_details": False,
    }

    def probe(on: bool):
        raw = trips.trips_raw(spark, sf_dir).select(F.col("end_location").cast("string"))
        return raw.distinct().limit(ENRICH_LOCAL_MAX_TEXTS[on] + 1).collect()

    def cycle() -> dict[str, tuple[int, int]]:
        jobs = {}
        for name in fuzzy:
            df, build = spark_jobs(lambda: getattr(trips, name)(spark, sf_dir), name)
            _, write = spark_jobs(lambda: write_report_csv(df, str(tmp_path / name)), "write")
            jobs[name] = (build, write)
        return jobs

    cycle()  # warm the scans and the memos
    jobs = cycle()
    probes = {on: spark_jobs(lambda: probe(on), "probe")[1] for on in (True, False)}
    assert sum(b + w for b, w in jobs.values()) <= 18, jobs
    for name, (build, _) in jobs.items():
        assert 0 < build <= probes[fuzzy[name]], (name, jobs, probes)


def test_fuzzy_cascade_scores_each_distinct_token_once(spark, spark_jobs):
    """The distributed fuzzy block is one lazy plan: building
    clean_texts_df(fuzzy=True) runs no Spark job, and its fuzzy scorer runs
    once per distinct text (its memo then scores each distinct token of an
    Arrow batch once): exactly one ArrowEvalPython node, above the text
    distinct's HashAggregate."""
    from advanced_logistics_data_engineering_arabic_nlp_pipeline_spark import service

    texts = spark.createDataFrame(
        [("الهرم + مطارر",), ("تشغيل هيلتو",), ("xyz",), (None,)], "text string"
    )
    service.clean_texts_df(texts, "text", True)  # warm the shared cleaner
    df, jobs = spark_jobs(lambda: service.clean_texts_df(texts, "text", True), "build")
    assert jobs == 0, "building the plan must run no Spark job"
    lines = df._jdf.queryExecution().executedPlan().toString().splitlines()
    evals = [i for i, line in enumerate(lines) if "ArrowEvalPython" in line]
    aggs = [i for i, line in enumerate(lines) if "HashAggregate(" in line]
    assert len(evals) == 1, "the fuzzy scorer must run exactly once"
    assert aggs and evals[0] < min(aggs), "the fuzzy scorer must sit above the text distinct"
    assert {r["text"]: list(r["all_locations"]) for r in df.collect()} == {
        "الهرم + مطارر": ["Pyramids of Giza", "Cairo Airport"],
        "تشغيل هيلتو": ["Helton Hotel"], "xyz": [], None: [],
    }
