"""Driver-local relations: rows already in the driver as a DataFrame that
Catalyst evaluates in the driver.

PySpark's ``createDataFrame(list)`` plans a ``LogicalRDD``, so every action
on it is a Spark job. The JVM's ``createDataset(java.util.List, Encoder)``
plans a ``LocalRelation`` instead, and the optimizer rule
``ConvertToLocalRelation`` folds each Project and Filter over one into a
new local relation: ``collect()`` on such a plan runs no job and starts no
task. Any other step (explode, distinct, aggregation, join, cache,
orderBy) brings the jobs back, and a local relation already keeps its
input order.

The rows cross the py4j gateway as ONE string of JSON lines, not one call
per row (py4j's per-element list conversion cost ~0.4 ms a row on a 4-vCPU
host), and ``from_json`` parses them in a Project, which folds too.
"""

from __future__ import annotations

import json

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..session import per_gateway


def _handles(spark: SparkSession, schema: str) -> tuple:
    """(line splitter, string encoder, parser Column) for ``schema``, shared
    per gateway: the py4j class lookups and the schema parse cost a few ms
    per call, about a third of building a small frame."""

    def build() -> tuple:
        jvm = spark._jvm
        return (
            jvm.java.util.regex.Pattern.compile("\n"),
            jvm.org.apache.spark.sql.Encoders.STRING(),
            # FAILFAST: a row the parser rejects raises instead of
            # turning into nulls
            F.from_json("value", schema, {"mode": "FAILFAST"}).alias("r"),
        )

    return per_gateway(("local_frame", schema), build)


def local_frame(spark: SparkSession, rows: list[dict], schema: str) -> DataFrame:
    """A LocalRelation-backed frame of ``rows`` (dicts keyed by the field
    names of the DDL ``schema``; a missing key or ``None`` is null)."""
    splitter, encoder, parse = _handles(spark, schema)
    # json.dumps escapes every newline inside a value, so each line is one
    # row
    lines = "\n".join(json.dumps(r) for r in rows)
    jlines = splitter.splitAsStream(lines).toList() if rows else spark._jvm.java.util.ArrayList()
    jds = spark._jsparkSession.createDataset(jlines, encoder)
    return DataFrame(jds.toDF(), spark).select(parse).select("r.*")
