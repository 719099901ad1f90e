"""Seeded random-string fuzzing of the three normalization mirrors
(Spark Column expr / DuckDB SQL / Python). One batched evaluation per
engine keeps it fast while covering far more of the input space than the
golden corpus: Arabic letters incl. alef variants and final-ha, diacritics,
tatweel, lam-alef ligatures, embedded EN stopwords, digit runs, repeated
chars, separators, and mixed whitespace."""

from __future__ import annotations

import random

import duckdb
from pyspark.sql import functions as F

from advanced_logistics_data_engineering_arabic_nlp_pipeline_spark.functions import arabic

_ATOMS = (
    list("ابتثجحخدذرزسشصضطظعغفقكلمنهويىةءأإآٱ")
    + list("ًٌٍَُِّْـ")
    + ["ﻵ", "ﻹ", "ﻻ"]
    + list("abcdefgxyz")
    + ["and", "or", "the", "via", "from"]
    + list("0123456789")
    + ["مطار", "مطارر", "مطاررر", "الهرم", "هيلتون", "التحرير", "عوده", "وعودة", "ذهاب"]
    + ["+", "،", "؛", ",", ";", " ", "  ", "\t"]
    # triple runs force the repeat-squeeze through every mirror, covering
    # the punctuation/Arabic-Indic-digit classes the SQL mirror enumerates
    + ["!!!", "؟؟؟", "...", "+++", "---", "٣٣٣", "٠٠٠٠", "(((", ":::"]
)


def _random_corpus(n: int, seed: int = 1234) -> list[str]:
    rng = random.Random(seed)
    out = []
    for _ in range(n):
        k = rng.randint(0, 14)
        out.append("".join(rng.choice(_ATOMS) for _ in range(k)))
    return out


def test_normalize_fuzz_three_mirrors(spark):
    corpus = _random_corpus(300)
    df = spark.createDataFrame([(i, t) for i, t in enumerate(corpus)], "i int, t string")
    spark_out = [
        r["n"]
        for r in df.select("i", arabic.normalize_arabic(F.col("t")).alias("n"))
        .orderBy("i")
        .collect()
    ]
    py_out = [arabic.normalize_py(t) for t in corpus]

    con = duckdb.connect()
    con.execute("CREATE TABLE fz(i INT, t VARCHAR)")
    con.executemany("INSERT INTO fz VALUES (?, ?)", list(enumerate(corpus)))
    duck_out = [
        r[0]
        for r in con.execute(
            f"SELECT {arabic.sql_normalize('t')} FROM fz ORDER BY i"
        ).fetchall()
    ]

    mismatches = [
        (t, s, p, d)
        for t, s, p, d in zip(corpus, spark_out, py_out, duck_out)
        if not (s == p == d)
    ]
    assert not mismatches, f"{len(mismatches)} mismatches; first: {mismatches[0]!r}"


def test_tokenize_fuzz_spark_vs_duckdb(spark):
    corpus = _random_corpus(300, seed=99)
    df = spark.createDataFrame([(i, t) for i, t in enumerate(corpus)], "i int, t string")
    col = F.array_join(
        arabic.tokenize_trip(arabic.scrub_round_trip(F.coalesce(F.col("t"), F.lit("")))), "|"
    )
    spark_out = [r["x"] for r in df.select("i", col.alias("x")).orderBy("i").collect()]

    con = duckdb.connect()
    con.execute("CREATE TABLE fz(i INT, t VARCHAR)")
    con.executemany("INSERT INTO fz VALUES (?, ?)", list(enumerate(corpus)))
    sql = (
        "COALESCE(array_to_string("
        + arabic.sql_tokenize(arabic.sql_scrub_round_trip("COALESCE(t, '')"))
        + ", '|'), '')"
    )
    duck_out = [r[0] for r in con.execute(f"SELECT {sql} FROM fz ORDER BY i").fetchall()]

    mismatches = [
        (t, s, d) for t, s, d in zip(corpus, spark_out, duck_out) if s != d
    ]
    assert not mismatches, f"{len(mismatches)} mismatches; first: {mismatches[0]!r}"
