"""Arabic/EN text-normalization function library (SURVEY.md §2 D1-D6).

Reference behavior: cleaner_v6.py:156-178 (_normalize, _strip_op_prefix,
_tokenize), :210-221 (clean_text), :106-141 (op-prefix / round-trip / admin /
airport patterns). Everything is a **pure Column expression** — no UDFs — so
the hot path stays inside whole-stage codegen and is SQL-mirrorable for the
DuckDB oracle.

Three synchronized mirrors of the same spec live here:

1. ``normalize_arabic`` etc.   — Spark Column expressions (Java regex)
2. ``sql_normalize`` etc.      — DuckDB SQL snippet generators (RE2)
3. ``normalize_py`` etc.       — plain-Python mirror used to build the
                                 dictionary variant index and the fuzzy UDF

Portability notes (this is why all three mirrors share rewritten patterns):

- Python ``\\b`` is Unicode-aware; Java needs ``(?U)`` and RE2 has no
  lookarounds at all. We therefore rewrite every word-boundary around Arabic
  text as an explicit character class ``WORDCH`` (ASCII word chars + Arabic
  letters/digits, diacritics excluded) — identical semantics in all three
  engines on Arabic/ASCII text.
- RE2 (DuckDB) has no backreferences, so the reference's repeat-squeeze
  ``(.)\\1{2,}`` is mirrored in SQL as a ``list_reduce`` character fold
  (append a char unless the accumulator already ends with it twice) —
  character-exact with the Spark/Python mirrors for EVERY character class,
  with no enumerated charset and no oracle blind spot. (An enumerated
  per-character regexp_replace chain was the previous mirror; it both left
  unlisted characters unsqueezed and overflowed DuckDB's 128-deep
  expression binder once punctuation was added.)
"""

from __future__ import annotations

import re

from pyspark.sql import Column
from pyspark.sql import functions as F

# English stopwords embedded in Arabic trip descriptions (cleaner_v6.py:40-43)
EN_STOPWORDS = [
    "and", "or", "the", "to", "from", "at", "in", "of", "for",
    "a", "an", "by", "with", "via",
]

# Word-character class standing in for Unicode \w on Arabic/ASCII text:
# ASCII word chars, Arabic letters U+0621-064A, Arabic-Indic digits. Arabic
# diacritics (U+064B+) are intentionally excluded (non-word, like Python).
WORDCH = "0-9A-Za-z_ء-ي٠-٩"

ALEF_VARIANTS = "[أإآٱ]"          # أ إ آ ٱ → ا
ALEF_VARIANTS_D2 = "[أإآ]"             # clean_text folds only 3
TATWEEL = "ـ"
DIACRITICS = "[ً-ٰٟ]"
DIACRITICS_D2 = "[ً-ٟ]"
LAM_ALEF_LIGATURES = "[ﻵ-ﻼ]"

# D3: leading operational terms, repeating group (cleaner_v6.py:106-115).
# \d rewritten to an explicit digit class for RE2/Java/Python parity.
_D = "[0-9٠-٩]"
OP_PREFIX_BODY = (
    "(?:"
    "تشغيل[هة]?\\s*|عملية\\s*|رحلة\\s*|"
    "يومي[هة]\\s*|يومية\\s*|"
    "نص\\s+يوم\\s*|نصف\\s+يوم\\s*|"
    "يوم\\s+كامل\\s*|"
    f"{_D}+\\s*ساع[هة]?\\s*|ساعتين\\s*|"
    "ايجار\\s*|جولة\\s*|توصيلة\\s*"
    ")+"
)
OP_PREFIX_PATTERN = "^" + OP_PREFIX_BODY

# D5: round-trip markers, order preserved (cleaner_v6.py:118-127). \b around
# Arabic rewritten as consuming WORDCH boundaries (output only feeds
# whitespace-insensitive tokenization / boolean search, so the consumed
# boundary character is immaterial).
RT_PATTERN = "|".join(
    [
        "ذهاب\\s*[+و]\\s*عود[هة]",
        f"ذ\\s*[+و]\\s*ع(?:$|[^{WORDCH}])",
        "\\+\\s*عود[هة]",
        "عود[هة]\\s*\\+",
        f"(?:^|[^{WORDCH}])عود[هة](?:$|[^{WORDCH}])",
        f"(?:^|[^{WORDCH}])وعود[هة](?:$|[^{WORDCH}])",
        "والعود[هة]",
    ]
)

# D4: token separators — explicit punctuation or the standalone word و "and"
# (cleaner_v6.py:176-178). Standalone-و boundaries are consuming; the consumed
# neighbors are whitespace in practice and tokens are trimmed anyway.
TOKEN_SPLIT_PATTERN = f"[+؛،,;]+|(?:^|[^{WORDCH}])و(?:$|[^{WORDCH}])"

# D6: admin / airport / nile / ops-only classifier patterns
# (cleaner_v6.py:130-141, 307-316). Applied to normalized (lowercased) text.
ADMIN_PATTERN = (
    "ادار[هة]|الادار[هة]|تحصيل|فاتور[هة]|"
    "خدم[هة]\\s*عملاء|عمليات|صيانة|"
    "استاذ|مستر|دكتور|مهندس"
)
AIRPORT_PATTERN = "مطار|مطاار|airport|terminal|flight|استقبال|توصيل\\s*مطار"
NILE_PATTERN = "كروز|رحلة نيلية|مركب"
OP_ONLY_PATTERN = (
    "^(?:تشغيل[هة]?|يومي[هة]|يوم\\s*كامل|نص\\s*يوم|"
    f"ايجار|سيدان|فان|باص|تفويل|غسيل|صيانة|{_D}+\\s*ساع)"
    f"[\\s{_D}+،,]*$"
)

_WORD_FINAL_HA_SPARK = f"ه(?=[^{WORDCH}]|$)"   # lookahead ok in Java/Python


# ── 1. Spark Column expressions ──────────────────────────────────────────────

# Each call builds the D1 chain afresh: ~10 chained regexp/HOF constructor
# calls, each a py4j round-trip. Code that applies it per request or per
# report holds the built Column instead (operators.extract.local_cleaner
# builds the NLP block's expressions once per dictionary).
def normalize_arabic(c: Column) -> Column:
    """D1 ``_normalize`` (cleaner_v6.py:156-171): lower+trim, alef fold,
    tatweel strip, ى→ي, word-final ه→ة, diacritics strip, lam-alef→لا,
    embedded-EN-stopword drop, ≥3 char-run squeeze to 2, whitespace collapse."""
    c = F.lower(F.trim(c.cast("string")))
    c = F.regexp_replace(c, ALEF_VARIANTS, "ا")
    c = F.regexp_replace(c, TATWEEL, "")
    c = F.regexp_replace(c, "ى", "ي")
    c = F.regexp_replace(c, _WORD_FINAL_HA_SPARK, "ة")
    c = F.regexp_replace(c, DIACRITICS, "")
    c = F.regexp_replace(c, LAM_ALEF_LIGATURES, "لا")
    words = F.split(c, "\\s+")
    c = F.array_join(F.filter(words, lambda w: (w != "") & ~w.isin(EN_STOPWORDS)), " ")
    c = F.regexp_replace(c, "(.)\\1{2,}", "$1$1")
    c = F.regexp_replace(c, "\\s+", " ")
    return F.trim(c)


def clean_text(c: Column) -> Column:
    """D2 display cleaner (cleaner_v6.py:210-221): keeps case, lighter folds,
    separators→space, brackets stripped; null/'' → ''."""
    out = F.trim(c.cast("string"))
    out = F.regexp_replace(out, ALEF_VARIANTS_D2, "ا")
    out = F.regexp_replace(out, "ى", "ي")
    out = F.regexp_replace(out, DIACRITICS_D2, "")
    out = F.regexp_replace(out, "[،؛,;:]", " ")
    out = F.regexp_replace(out, "[()\\[\\]{}]", "")
    out = F.regexp_replace(out, "\\s+", " ")
    return F.coalesce(F.trim(out), F.lit(""))


def strip_op_prefix(c: Column) -> Column:
    """D3 (cleaner_v6.py:173-174): remove leading operational terms, trim."""
    return F.trim(F.regexp_replace(c, OP_PREFIX_PATTERN, ""))


def scrub_round_trip(c: Column) -> Column:
    """D5 (cleaner_v6.py:232, 254): blank out round-trip markers."""
    return F.regexp_replace(c, RT_PATTERN, " ")


def tokenize_trip(c: Column) -> Column:
    """D4 (cleaner_v6.py:176-178): split on separators/standalone-و, trim
    parts, drop empties → array<string>."""
    parts = F.split(c, TOKEN_SPLIT_PATTERN)
    return F.filter(F.transform(parts, lambda t: F.trim(t)), lambda t: t != "")


def is_admin(norm: Column) -> Column:
    return norm.rlike(ADMIN_PATTERN)


def is_airport(norm: Column) -> Column:
    return norm.rlike(AIRPORT_PATTERN)


def is_round_trip(raw: Column) -> Column:
    return raw.rlike(RT_PATTERN)


def is_nile(norm: Column) -> Column:
    return norm.rlike(NILE_PATTERN)


def is_ops_only(norm: Column) -> Column:
    return norm.rlike(OP_ONLY_PATTERN) | norm.rlike(OP_PREFIX_PATTERN)


def title_first_two_words(raw: Column) -> Column:
    """F1 fallback (cleaner_v6.py:245-246): ' '.join(words[:2]).title(),
    built explicitly (upper first char, lower rest per word) so the Spark,
    SQL and Python mirrors agree on all inputs."""
    two = F.slice(F.split(F.trim(raw), "\\s+"), 1, 2)
    cased = F.transform(
        two,
        lambda w: F.concat(
            F.upper(w.substr(F.lit(1), F.lit(1))),
            F.lower(w.substr(F.lit(2), F.length(w))),
        ),
    )
    return F.array_join(cased, " ")


# ── 2. DuckDB SQL snippet generators (RE2) ───────────────────────────────────

def _sq(s: str) -> str:
    """Escape a string for a single-quoted SQL literal."""
    return s.replace("'", "''")


def _rr(e: str, pat: str, rep: str) -> str:
    return f"regexp_replace({e}, '{_sq(pat)}', '{_sq(rep)}', 'g')"


def sql_normalize(e: str) -> str:
    x = f"lower(trim(CAST({e} AS VARCHAR)))"
    x = _rr(x, ALEF_VARIANTS, "ا")
    x = _rr(x, TATWEEL, "")
    x = _rr(x, "ى", "ي")
    # word-final ه→ة: RE2 has no lookahead → consume-and-restore the boundary
    x = _rr(x, f"ه($|[^{WORDCH}])", "ة\\1")
    x = _rr(x, DIACRITICS, "")
    x = _rr(x, LAM_ALEF_LIGATURES, "لا")
    stops = ", ".join(f"'{w}'" for w in EN_STOPWORDS)
    # COALESCE: DuckDB's array_to_string([]) is NULL; Spark's array_join is ''
    x = (
        f"COALESCE(array_to_string(list_filter(regexp_split_to_array({x}, '[ \\t\\n\\v\\f\\r]+'), "
        f"w -> w <> '' AND w NOT IN ({stops})), ' '), '')"
    )
    x = _sql_squeeze(x)
    x = _rr(x, "[ \\t\\n\\v\\f\\r]+", " ")
    return f"trim({x})"


def _sql_squeeze(x: str) -> str:
    """Repeat-squeeze (≥3 of the same char → 2) without backreferences:
    fold over the characters, appending each unless the accumulator already
    ends with two copies. Character-exact with ``(.)\\1{2,}`` → ``$1$1`` on
    BMP text (DuckDB substring is codepoint-based; Java regex works on
    UTF-16 units — identical for the BMP corpus)."""
    chars = f"list_transform(range(1, length({x}) + 1), i -> substring({x}, CAST(i AS INT), 1))"
    fold = (
        f"list_reduce({chars}, (acc, ch) -> "
        "CASE WHEN length(acc) >= 2 AND substring(acc, length(acc) - 1, 2) = ch || ch "
        "THEN acc ELSE acc || ch END)"
    )
    return f"CASE WHEN length({x}) < 3 THEN {x} ELSE {fold} END"


def sql_clean_text(e: str) -> str:
    x = f"trim(CAST({e} AS VARCHAR))"
    x = _rr(x, ALEF_VARIANTS_D2, "ا")
    x = _rr(x, "ى", "ي")
    x = _rr(x, DIACRITICS_D2, "")
    x = _rr(x, "[،؛,;:]", " ")
    x = _rr(x, "[()\\[\\]{}]", "")
    x = _rr(x, "[ \\t\\n\\v\\f\\r]+", " ")
    return f"COALESCE(trim({x}), '')"


def sql_strip_op_prefix(e: str) -> str:
    return f"trim({_rr(e, OP_PREFIX_PATTERN, '')})"


def sql_scrub_round_trip(e: str) -> str:
    return _rr(e, RT_PATTERN, " ")


def sql_tokenize(e: str) -> str:
    return (
        f"list_filter(list_transform(regexp_split_to_array({e}, "
        f"'{_sq(TOKEN_SPLIT_PATTERN)}'), t -> trim(t)), t -> t <> '')"
    )


def sql_rlike(e: str, pattern: str) -> str:
    return f"regexp_matches({e}, '{_sq(pattern)}')"


def sql_title_first_two_words(e: str) -> str:
    two = f"list_slice(regexp_split_to_array(trim({e}), '[ \\t\\n\\v\\f\\r]+'), 1, 2)"
    cased = (
        f"list_transform({two}, "
        "w -> upper(substring(w, 1, 1)) || lower(substring(w, 2)))"
    )
    return f"COALESCE(array_to_string({cased}, ' '), '')"


# ── 3. Python mirror (dictionary index builder + fuzzy UDF preprocessing) ───

_PY_WORD_FINAL_HA = re.compile(f"ه(?=[^{WORDCH}]|$)")
_PY_ALEF = re.compile(ALEF_VARIANTS)
_PY_DIA = re.compile(DIACRITICS)
_PY_LAM = re.compile(LAM_ALEF_LIGATURES)
_PY_SQUEEZE = re.compile(r"(.)\1{2,}")
# ASCII whitespace, explicitly spelled: Python's bare strip()/split()/\s are
# UNICODE-aware (NBSP, U+2028, …) while the Spark mirror's Java \s and the
# SQL mirror's RE2 \s are ASCII — the three-mirrors-one-rule discipline
# (operators/dedup.py:102-110): non-ASCII whitespace is CONTENT in all
# three, so an NBSP-carrying token behaves identically everywhere instead
# of normalizing away only in the Python mirror.
_PY_ASCII_WS = " \t\n\r\f\v"
_PY_ASCII_WS_RE = re.compile(f"[{_PY_ASCII_WS}]+")


def normalize_py(text: str | None) -> str:
    if text is None:
        return ""
    t = str(text).strip(_PY_ASCII_WS).lower()
    t = _PY_ALEF.sub("ا", t)
    t = t.replace(TATWEEL, "")
    t = t.replace("ى", "ي")
    t = _PY_WORD_FINAL_HA.sub("ة", t)
    t = _PY_DIA.sub("", t)
    t = _PY_LAM.sub("لا", t)
    t = " ".join(
        w for w in _PY_ASCII_WS_RE.split(t) if w and w not in EN_STOPWORDS
    )
    t = _PY_SQUEEZE.sub(r"\1\1", t)
    return _PY_ASCII_WS_RE.sub(" ", t).strip(_PY_ASCII_WS)
