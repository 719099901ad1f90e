"""Parquet table sources for the driver fixture schema (TESTDATA.md).

Reading is declarative (``spark.read.parquet``) so Catalyst gets predicate
pushdown, column pruning and partition pruning for free — at 100 TB the same
code reads a partitioned table directory and scans only the needed columns
(verify with ``df.explain``: ``PushedFilters`` / ``ReadSchema``).

The schema comes from the file's parquet footer, read in the driver with
pyarrow together with the row-group count the scan rebalance needs, and is
handed to the reader: loading a table runs no Spark job (schema inference
runs one). Only a path whose footer cannot be read, such as a directory of
parts, is left to Spark's inference.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.pandas.types import from_arrow_schema
from pyspark.sql.types import LongType, StructType, TimestampNTZType

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

# Dimension tables small enough to broadcast at any scale factor (they grow
# sub-linearly or not at all in TPC-H-style schemas).
BROADCAST_DIMS = frozenset({"region", "nation", "supplier", "part", "customer"})

# Below this row count a single-task scan is fine; above it, an
# under-parallelized scan serializes every downstream pipelined operator.
# The threshold is deliberately low: per-row work varies by orders of
# magnitude (documents feed shingling / 64-hash aggregates, embeddings
# feed pairwise-cosine pipelines), so even a few thousand rows on one
# task can dominate a query's wall-time.
_MIN_ROWS_FOR_SCAN_REBALANCE = 2_000


def _footer(path: str) -> tuple[StructType | None, int, int]:
    """(schema, row groups, rows) from the parquet footer at ``path``: the
    schema Spark would infer, without the Spark job its inference runs, and
    the maximum scan parallelism Spark can extract from the file without a
    shuffle. A nanosecond timestamp becomes a bigint of nanoseconds, as
    ``spark.sql.legacy.parquet.nanosAsLong`` reads it (Spark's vectorized
    reader has no nanosecond type). A footer that cannot be read (a
    directory of parts, say) gives no schema: Spark infers it."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    try:
        with pq.ParquetFile(path) as f:
            arrow, groups, rows = f.schema_arrow, f.num_row_groups, f.metadata.num_rows
    except (OSError, pa.ArrowException):
        return None, 1 << 30, 0  # unknown: assume splittable, skip rebalance
    fields = [
        fd.with_type(pa.int64()) if pa.types.is_timestamp(fd.type) and fd.type.unit == "ns" else fd
        for fd in arrow
    ]
    return from_arrow_schema(pa.schema(fields), prefer_timestamp_ntz=True), groups, rows


def _rebalanced(df: DataFrame, groups: int, rows: int) -> DataFrame:
    """Repartition a fact table whose file layout (``groups`` row groups,
    ``rows`` rows, from its footer) cannot feed the session's parallelism
    (few row groups, e.g. the single-row-group test fixtures —
    Spark splits parquet by byte ranges, but every range maps into the one
    row group, so the whole scan→join→partial-agg pipeline runs as ONE
    task). The shuffle moves only the pruned columns and is skipped
    entirely when the footer shows enough row groups — at production scale
    (many files × many row groups) this is a no-op by construction."""
    cores = df.sparkSession.sparkContext.defaultParallelism
    if groups >= max(cores // 2, 1) or rows < _MIN_ROWS_FOR_SCAN_REBALANCE:
        return df
    return df.repartition(cores)


def _inferred(spark: SparkSession, path: str) -> DataFrame:
    """``path`` read with Spark's schema inference (a Spark job), nanosecond
    timestamps as bigints. The legacy conf is consulted only while the
    schema is inferred, so it is scope-restored: left set, it silently
    turned every LATER nanos-timestamp parquet read session-wide into
    bigint columns."""
    key = "spark.sql.legacy.parquet.nanosAsLong"
    prev = spark.conf.get(key, None)
    spark.conf.set(key, "true")
    try:
        return spark.read.parquet(path)
    finally:
        if prev is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, prev)


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Fixture table ``name`` under ``sf_dir``, read with the schema in its
    parquet footer, so loading runs no Spark job."""
    # Deterministic timestamp semantics are an ENGINE INVARIANT (every plan
    # and oracle assumes UTC at execution time), so a foreign session's
    # zone is overridden — deliberately NOT scope-restored, because the
    # zone matters when downstream actions run, not at load. get_spark
    # sessions already carry UTC; warn when this actually flips something
    # so a caller's explicit non-UTC choice never changes silently.
    if spark.conf.get("spark.sql.session.timeZone", None) != "UTC":
        import warnings

        warnings.warn(
            "load_table sets spark.sql.session.timeZone=UTC for the session"
            " (engine-wide determinism contract; see session.py)",
            stacklevel=2,
        )
        spark.conf.set("spark.sql.session.timeZone", "UTC")
    path = os.path.join(sf_dir, f"{name}.parquet")
    schema, groups, rows = _footer(path)
    df = _inferred(spark, path) if schema is None else spark.read.schema(schema).parquet(path)
    if name == "events":
        # events.ts has shipped as parquet TIMESTAMP(NANOS) (read as
        # nanos-since-epoch, see _footer) and as TIMESTAMP(MICROS, NTZ).
        # Branch on the type read so either fixture vintage yields the same
        # session-UTC TimestampType column.
        ts_type = (schema or df.schema)["ts"].dataType
        if isinstance(ts_type, LongType):
            df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
        elif isinstance(ts_type, TimestampNTZType):
            df = df.withColumn("ts", F.col("ts").cast("timestamp"))
    if name in BROADCAST_DIMS:
        return df
    return _rebalanced(df, groups, rows)


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register all fixture tables as temp views for spark.sql use."""
    for name in TABLES:
        load_table(spark, sf_dir, name).createOrReplaceTempView(name)
