"""Golden-case + cross-engine parity tests for the Arabic NLP stack
(SURVEY.md §5: README messy-string fixture, locations.json dictionary)."""

from __future__ import annotations

import duckdb
import pytest
from pyspark.sql import functions as F

from advanced_logistics_data_engineering_arabic_nlp_pipeline_spark.functions import arabic
from advanced_logistics_data_engineering_arabic_nlp_pipeline_spark.operators.extract import (
    categorize_trip_type_expr,
    end_location_clean_expr,
    extract_all_locations_expr,
)
from advanced_logistics_data_engineering_arabic_nlp_pipeline_spark.operators.lookup import (
    fuzzy_best_match,
    token_sort_ratio,
)
from advanced_logistics_data_engineering_arabic_nlp_pipeline_spark.service import clean_texts_df
from advanced_logistics_data_engineering_arabic_nlp_pipeline_spark.sources.dictionary import (
    build_variant_index,
)

CORPUS = [
    "تشغيل 12 ساعه مطارررر القاهره وعوده",
    "الهرم + المطار و وسط البلد",
    "فاتورة ادارة",
    "12345",
    "",
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
    # non-ASCII whitespace (NBSP, LINE SEPARATOR) is CONTENT in all three
    # mirrors (round-5 review: bare Python strip/split/\s are
    # Unicode-aware and used to diverge from the Java/RE2 ASCII classes);
    # vertical tab IS whitespace in all three
    "مطار\u00a0هيلتون",
    "trip\u2028cairo",
    "a\x0bb  مطار",
]


def _spark_eval(spark, col, values):
    df = spark.createDataFrame([(v,) for v in values], ["t"])
    return [r[0] for r in df.select(col(F.col("t"))).collect()]


def test_normalize_golden(spark):
    out = _spark_eval(spark, arabic.normalize_arabic, [CORPUS[0]])
    assert out[0] == "تشغيل 12 ساعة مطارر القاهرة وعودة"


def test_normalize_three_mirrors_agree(spark):
    spark_out = _spark_eval(spark, arabic.normalize_arabic, CORPUS)
    py_out = [arabic.normalize_py(t) for t in CORPUS]
    con = duckdb.connect()
    sql = arabic.sql_normalize("t")
    duck_out = [
        con.execute(f"SELECT {sql} FROM (SELECT ? AS t)", [t]).fetchone()[0]
        for t in CORPUS
    ]
    for t, s, p, d in zip(CORPUS, spark_out, py_out, duck_out):
        assert s == p, f"spark vs py on {t!r}: {s!r} != {p!r}"
        assert s == d, f"spark vs duckdb on {t!r}: {s!r} != {d!r}"


def test_clean_text_mirrors_agree(spark):
    spark_out = _spark_eval(spark, arabic.clean_text, CORPUS)
    con = duckdb.connect()
    sql = arabic.sql_clean_text("t")
    duck_out = [
        con.execute(f"SELECT {sql} FROM (SELECT ? AS t)", [t]).fetchone()[0]
        for t in CORPUS
    ]
    for t, s, d in zip(CORPUS, spark_out, duck_out):
        assert s == d, f"{t!r}: {s!r} != {d!r}"


def test_tokenize(spark):
    out = _spark_eval(spark, arabic.tokenize_trip, ["الهرم + المطار و وسط البلد"])
    assert out[0] == ["الهرم", "المطار", "وسط البلد"]
    # attached و is not a separator
    out = _spark_eval(spark, arabic.tokenize_trip, ["فندق هيلتون والتحرير"])
    assert out[0] == ["فندق هيلتون والتحرير"]


def test_token_sort_ratio_matches_published_behavior():
    # مطارر vs مطار: 2*4/9*100 ≈ 88.9 ≥ 82 (SURVEY.md E3 example)
    assert token_sort_ratio("مطارر", "مطار") == pytest.approx(88.888, abs=0.01)
    idx = build_variant_index()
    assert idx[fuzzy_best_match("مطارر", list(idx))] == "Cairo Airport"
    assert fuzzy_best_match("xyz", list(idx)) is None


EXPECTED_LOCS = {
    "الهرم + المطار و وسط البلد": ["Pyramids of Giza", "Cairo Airport", "Downtown Cairo"],
    "مطار القاهرة": ["Cairo Airport"],
    "توصيلة الهرم": ["Pyramids of Giza"],
    "وسط البلد + التحرير": ["Downtown Cairo"],
    "هرم، المطار، هيلتون": ["Pyramids of Giza", "Cairo Airport", "Helton Hotel"],
    "abc airport terminal 2": ["Cairo Airport"],
    "the pyramids and downtown": ["Pyramids of Giza"],
    "": [],
    "عودة": [],
    "سفرمطار": ["Cairo Airport"],
}


def test_extract_all_locations_expr(spark):
    texts = list(EXPECTED_LOCS)
    out = _spark_eval(spark, extract_all_locations_expr, texts)
    for t, got in zip(texts, out):
        assert got == EXPECTED_LOCS[t], f"{t!r}: {got}"


def test_fuzzy_pipeline_readme_string(spark):
    # README.md:103-104 manual fixture: only resolvable via tier-3 fuzzy
    # (rows 1-3); then tokens that are only an operational prefix, whose
    # stripped form is empty, or a prefix before an exact or a misspelt
    # variant (rows 4-8)
    df = spark.createDataFrame(
        [(1, "تشغيل 12 ساعه مطارررر القاهره وعوده"), (2, "الهرم + المطار و وسط البلد"), (3, None),
         (4, "تشغيل"), (5, "ايجار + جولة"), (6, "جولة الهرم"), (7, "توصيلة مطاار"),
         (8, "جولة مطارر القاهره")],
        ["id", "txt"],
    )
    out = clean_texts_df(df, "txt", fuzzy=True).orderBy("id").collect()
    assert out[0]["all_locations"] == ["Cairo Airport"]
    assert out[1]["all_locations"] == [
        "Pyramids of Giza",
        "Cairo Airport",
        "Downtown Cairo",
    ]
    assert out[2]["all_locations"] == []
    assert [(r["all_locations"], r["main_location"], r["trip_type"]) for r in out[3:]] == [
        ([], "تشغيل", "Special Operations"),
        ([], "ايجار +", "Special Operations"),
        (["Pyramids of Giza"], "Pyramids of Giza", "Special Operations"),
        (["Cairo Airport"], "Cairo Airport", "Airport Transfer"),
        (["Cairo Airport"], "Cairo Airport", "Airport Transfer"),
    ]


EXPECTED_TYPES = {
    "تشغيل 12 ساعه مطارررر القاهره وعوده": "Airport Transfer",
    "الهرم + المطار و وسط البلد": "Airport Transfer",
    "فاتورة ادارة": "Admin/Management",
    "12345": "Standard Transfer",
    "": "Undefined",
    "ميدان التحرير وعودة": "Round Trip",
    "ذهاب وعودة الهرم": "Round Trip",
    "رحلة نيلية مركب": "Nile Cruise",
    "يوم كامل سيدان": "Special Operations",
    # op-prefix توصيلة reaches the ops-only branch before Multi-Destination
    # (cleaner_v6.py:307-316) even though a location was detected
    "توصيلة الهرم": "Special Operations",
    "وسط البلد + التحرير": "Standard Transfer",
    "هرم، المطار، هيلتون": "Airport Transfer",
    "downtown cairo trip": "Standard Transfer",
}


def test_categorize_trip_type(spark):
    texts = list(EXPECTED_TYPES)
    col = lambda t: categorize_trip_type_expr(t, extract_all_locations_expr(t))  # noqa: E731
    out = _spark_eval(spark, col, texts)
    for t, got in zip(texts, out):
        assert got == EXPECTED_TYPES[t], f"{t!r}: {got}"


def test_lcs_bitparallel_matches_dp_reference():
    """r15: _lcs_len switched from the O(la·lb) rolling DP to the
    bit-parallel Allison–Dix kernel. The kernel must compute the EXACT
    same LCS length — pinned against the original DP on random mixed
    Arabic/Latin strings (incl. empties, repeats, and full matches) and
    through the mask-reuse path fuzzy_best_match takes."""
    import random

    from advanced_logistics_data_engineering_arabic_nlp_pipeline_spark.operators.lookup import (
        _lcs_len,
        _lcs_len_masked,
        _lcs_masks,
    )

    def dp(a, b):
        if not a or not b:
            return 0
        prev = [0] * (len(b) + 1)
        for ca in a:
            cur = [0]
            for j, cb in enumerate(b, 1):
                cur.append(prev[j - 1] + 1 if ca == cb else max(prev[j], cur[j - 1]))
            prev = cur
        return prev[-1]

    rng = random.Random(13)
    alph = "ابتجحด abxyz01"
    cases = [("", ""), ("", "abc"), ("abc", ""), ("aaaa", "aaaa"), ("ab", "ba")]
    cases += [
        (
            "".join(rng.choice(alph) for _ in range(rng.randint(0, 70))),
            "".join(rng.choice(alph) for _ in range(rng.randint(0, 70))),
        )
        for _ in range(3000)
    ]
    for a, b in cases:
        want = dp(a, b)
        assert _lcs_len(a, b) == want, (a, b)
        masks, la = _lcs_masks(a)
        assert _lcs_len_masked(masks, la, b) == want, (a, b)


def test_fuzzy_length_blocking_is_lossless():
    """The length-window prune must never change fuzzy outcomes — verify
    against an unblocked reference implementation over mixed strings."""
    from advanced_logistics_data_engineering_arabic_nlp_pipeline_spark.operators.lookup import (
        FUZZY_SCORE_CUTOFF,
    )

    idx = build_variant_index()
    variants = list(idx)

    def unblocked(norm):
        best, best_score = None, None
        for v in variants:
            s = token_sort_ratio(norm, v)
            if s >= FUZZY_SCORE_CUTOFF and (best_score is None or s > best_score):
                best, best_score = v, s
        return best

    import random

    rng = random.Random(7)
    atoms = ["مطار", "مطارر", "القاهرة", "هرم", "وسط", "البلد", "هيلتون", "x", "ab", " "]
    probes = ["".join(rng.choice(atoms) for _ in range(rng.randint(1, 4))) for _ in range(200)]
    probes += ["مطارر", "مطارر القاهرة", "هيلتو", "فندق هيلتو", "زرع"]
    for p in probes:
        assert fuzzy_best_match(p, variants) == unblocked(p), p


def test_fuzzy_blocking_50k_variant_dictionary():
    """VERDICT r4 #7 stress: at a 100k-variant dictionary the old O(V)
    per-string multiset bound dominates. The length-window binary search
    must (a) stay LOSSLESS vs an unblocked reference on a 50k-variant
    synthetic dictionary, and (b) actually restrict work — the feasible
    length band is a small fraction of the table for typical probes."""
    import random
    import time as _time

    import numpy as np

    from advanced_logistics_data_engineering_arabic_nlp_pipeline_spark.operators.lookup import (
        FUZZY_SCORE_CUTOFF,
        _variant_block_tables,
        fuzzy_best_match,
    )

    rng = random.Random(42)
    letters = "ابتثجحخدذرزسشصضطظعغفقكلمنهوي"
    variants = list(
        dict.fromkeys(
            "".join(rng.choice(letters) for _ in range(rng.randint(3, 24)))
            for _ in range(55_000)
        )
    )[:50_000]
    probes = [rng.choice(variants) for _ in range(20)]  # exact members
    probes += [v[:-1] + rng.choice(letters) for v in probes[:10]]  # 1-edit
    probes += ["".join(rng.choice(letters) for _ in range(8)) for _ in range(10)]

    def unblocked(norm):
        best, best_score = None, None
        for v in variants:
            s = token_sort_ratio(norm, v)
            if s >= FUZZY_SCORE_CUTOFF and (best_score is None or s > best_score):
                best, best_score = v, s
        return best

    t0 = _time.perf_counter()
    blocked = [fuzzy_best_match(p, variants) for p in probes]
    blocked_s = _time.perf_counter() - t0
    # losslessness on every probe (the unblocked reference is O(V·DP), so
    # verify a subset of the probe classes to keep the test under budget)
    for p, got in list(zip(probes, blocked))[:16]:
        assert got == unblocked(p), p

    # the band must be a restriction, not the whole table
    _, _, lv, _ = _variant_block_tables(tuple(variants))
    ln = 8
    lo = int(np.searchsorted(lv, int(np.ceil(82 * ln / 118))))
    hi = int(np.searchsorted(lv, int(ln * 118 // 82), side="right"))
    assert (hi - lo) < len(variants) * 0.6
    # and the blocked path over 40 probes on 50k variants stays fast
    assert blocked_s < 30, f"blocked pass too slow: {blocked_s:.1f}s"


def test_tier2_longest_first_invariant(spark):
    """The generated alternation must try longer variants first so overlap
    resolves to the most specific name (cleaner_v6.py:98-103 invariant).
    Adversarial dict: two canonicals whose variants share a prefix."""
    from advanced_logistics_data_engineering_arabic_nlp_pipeline_spark.operators.lookup import (
        tier12_expr,
    )

    locations = {"Area": ["وسط"], "Downtown": ["وسط البلد"]}
    idx = build_variant_index(locations)
    df = spark.createDataFrame(
        [("في وسط البلد اليوم",), ("في وسط المدينة",)], ["t"]
    )
    out = [
        r[0]
        for r in df.select(
            tier12_expr(arabic.normalize_arabic(F.col("t")), idx)
        ).collect()
    ]
    assert out[0] == "Downtown"  # longest variant wins, not the prefix
    assert out[1] == "Area"


def test_variant_index_first_wins(spark):
    # duplicate variant across canonicals: first declaration wins
    # (cleaner_v6.py:153-154)
    idx = build_variant_index({"First": ["x", "shared"], "Second": ["shared", "y"]})
    assert idx["shared"] == "First"
    assert idx["y"] == "Second"


def test_end_location_clean_fallbacks(spark):
    col = lambda t: end_location_clean_expr(t, extract_all_locations_expr(t))  # noqa: E731
    texts = ["مطار القاهرة", "", "12345", "x", "مستر احمد تحصيل فاتورة"]
    out = _spark_eval(spark, col, texts)
    assert out[0] == "Cairo Airport"
    assert out[1] == "Undefined"
    assert out[2] == "Unknown"
    assert out[3] == "Unknown"
    assert out[4] == "مستر احمد"  # title-cased first two words (Arabic unchanged)
