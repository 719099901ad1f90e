"""sources.tables.load_table: the schema comes from the parquet footer, so a
load runs no Spark job, and it equals what Spark's inference gives."""

from __future__ import annotations

import datetime as dt

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from advanced_logistics_data_engineering_arabic_nlp_pipeline_spark.sources.tables import (
    TABLES,
    load_table,
)


@pytest.mark.parametrize("name", TABLES)
def test_load_table_takes_the_footer_schema_without_a_job(spark, sf_dir, spark_jobs, name):
    """No schema-inference job, and the schema Spark infers (the events
    table after its ts conversion, which both sides get)."""
    df, jobs = spark_jobs(lambda: load_table(spark, sf_dir, name), name)
    assert jobs == 0
    inferred = spark.read.parquet(f"{sf_dir}/{name}.parquet")
    if name == "events":
        inferred = inferred.withColumn("ts", inferred["ts"].cast("timestamp"))
    assert df.schema == inferred.schema


def test_events_ts_vintages_read_the_same_timestamps(spark, tmp_path):
    """events.ts written as TIMESTAMP(NANOS) and as TIMESTAMP(MICROS), with
    and without a zone, and as a directory of parts (no footer to read:
    Spark infers the schema), collects to the same UTC timestamps, and the
    load leaves no legacy conf set for later reads."""
    base = dt.datetime(2024, 1, 2, 3, 4, 5, 123456)
    ts = [base + dt.timedelta(seconds=3601 * i) for i in range(4)] + [None]
    got = {}
    for unit, tz, parts in [(u, z, False) for u in ("ns", "us") for z in (None, "UTC")] + [
        ("ns", None, True), ("us", None, True),
    ]:
        d = tmp_path / f"{unit}-{tz}-{parts}"
        path = d / "events.parquet" / "part-0.parquet" if parts else d / "events.parquet"
        path.parent.mkdir(parents=True)
        table = pa.table({
            "event_id": pa.array(range(5), pa.int64()),
            "ts": pa.array(ts, pa.timestamp(unit, tz=tz)),
            "user_id": pa.array(range(5), pa.int64()),
            "event_type": pa.array(["view"] * 5),
            "value": pa.array([1.5] * 5),
        })
        pq.write_table(table, path)
        df = load_table(spark, str(d), "events")
        assert dict(df.dtypes)["ts"] == "timestamp"
        rows = df.orderBy("event_id").select(F.unix_micros("ts")).collect()
        got[unit, tz, parts] = [r[0] for r in rows]
    assert spark.conf.get("spark.sql.legacy.parquet.nanosAsLong", None) in (None, "false")
    epoch, us = dt.datetime(1970, 1, 1), dt.timedelta(microseconds=1)
    want = [None if t is None else (t - epoch) // us for t in ts]
    assert all(v == want for v in got.values()), got
