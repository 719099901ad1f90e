"""3-tier dictionary lookup — the "join" of this engine (SURVEY.md §2 E).

Per-token resolution cascade (cleaner_v6.py:180-208):

  tier 1  exact:      normalize(token) hit in the reverse index
  tier 2  containment: first longest-first boundary-guarded variant inside
                       normalize(token)
  tier 3  fuzzy:      token_sort_ratio ≥ 82 over all variants (len ≥ 3)
  retry:              strip operational prefix from the RAW token and run the
                      cascade again (cleaner_v6.py:236-243, 258-261)

Tiers 1-2 are pure Column expressions (map lookup + regexp_extract) — they
run JVM-side inside codegen and vectorize for free. Tier 3 is the engine's
only Python hot path. Each token is resolved in its two forms
(:func:`token_forms`: the token, and the token with its operational prefix
stripped), which both fuzzy settings read. The cascade runs per token
inside projections over a frame of texts, and callers run it once per
*distinct* text (E4, the Spark idiom for the reference's ``lru_cache``):
``extract`` dedupes the texts, and tier 3 scores each batch's misses with
one memo. Over a DataFrame of any size the batch is an Arrow batch of one
pandas UDF in a lazy plan: building it runs no Spark job and collects
nothing to the driver. That is the one distributed pass of a
``/clean/batch`` of more than ``extract.LOCAL_MAX_TEXTS`` distinct texts,
of ``service.clean_texts_df`` and of ``with_nlp_enrichment``'s fallback.
For up to that many distinct texts already in the driver (a service
request, a report's distinct texts) the misses are scored in the driver
between two projections over driver-local relations (:func:`scored`) —
no Spark job, no Python worker, about 80 py4j round trips per request
whatever the dictionary's size. Both paths read one set of cascade
expressions per (dictionary, cutoff), built once by
``extract.LocalCleaner`` from the functions below, which define the
forms, the staging, the scoring rule and the order once each.

Fuzzy scoring mirrors rapidfuzz ``token_sort_ratio`` (public algorithm):
sort whitespace tokens, then Indel similarity = 2*LCS/(len_a+len_b) * 100.
Cutoff 82, min length 3, first-best tie-breaking in dictionary insertion
order (cleaner_v6.py:35-37, 198-208).
"""

from __future__ import annotations

from collections.abc import Callable
from functools import lru_cache

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf

from ..functions.arabic import normalize_arabic, strip_op_prefix
from ..sources.dictionary import build_variant_index, tier2_pattern, variant_map_expr
from ..sources.local import local_frame

FUZZY_SCORE_CUTOFF = 82
FUZZY_MIN_LEN = 3


# ── Tiers 1-2: pure expressions ─────────────────────────────────────────────

def tier12_expr(
    norm: Column, index: dict[str, str] | None = None, m: Column | None = None
) -> Column:
    """Resolve an already-normalized token via exact map hit, else first
    boundary-guarded containment match. NULL on miss. ``m`` is ``index``'s
    map (``variant_map_expr``) when the caller already holds it."""
    index = index if index is not None else build_variant_index()
    m = m if m is not None else variant_map_expr(index)
    return F.coalesce(
        F.element_at(m, norm),
        F.element_at(m, F.regexp_extract(norm, tier2_pattern(index), 1)),
    )


# ── Tier 3: fuzzy pandas UDF ────────────────────────────────────────────────

def _lcs_masks(a: str) -> tuple[dict[str, int], int]:
    """Per-character position bitmasks of ``a`` for the bit-parallel LCS
    kernel — built once per probe and reused across its whole candidate
    band (:func:`fuzzy_best_match`)."""
    masks: dict[str, int] = {}
    bit = 1
    for ca in a:
        masks[ca] = masks.get(ca, 0) | bit
        bit <<= 1
    return masks, len(a)


def _lcs_len_masked(masks: dict[str, int], la: int, b: str) -> int:
    """Bit-parallel LCS length (Allison–Dix 1986; Hyyrö's formulation):
    ``V`` holds one bit per position of ``a`` (1 = not yet matched); each
    character of ``b`` clears the positions a longest subsequence through
    it can claim via ``V = (V + u) | (V - u)`` with ``u = V & M[c]``. One
    O(1) big-int op per ``b`` character instead of the O(len_a) DP inner
    loop — exact LCS, identical to the rolling DP (pinned by the
    reference-DP property test), measured ~36× on the stress workload's
    20–35-char strings. Carries past bit ``la`` are harmless (they only
    propagate upward and ``M`` masks reads to the low bits); the final
    popcount masks them off."""
    if la == 0 or not b:
        return 0
    V = (1 << la) - 1
    get = masks.get
    for cb in b:
        u = V & get(cb, 0)
        if u:
            V = (V + u) | (V - u)
    return la - (V & ((1 << la) - 1)).bit_count()


def _lcs_len(a: str, b: str) -> int:
    """Longest-common-subsequence length (bit-parallel; r15 — was the
    O(len_a·len_b) rolling DP)."""
    if not a or not b:
        return 0
    masks, la = _lcs_masks(a)
    return _lcs_len_masked(masks, la, b)


def token_sort_ratio(a: str, b: str) -> float:
    a2, b2 = " ".join(sorted(a.split())), " ".join(sorted(b.split()))
    total = len(a2) + len(b2)
    return 200.0 * _lcs_len(a2, b2) / total if total else 0.0


@lru_cache(maxsize=32)
def _variant_block_tables(variants: tuple[str, ...]):
    """Per-dictionary precomputed blocking tables, LENGTH-SORTED: the
    argsort-by-length ``order``, sorted lengths ``lv`` (for a binary-search
    length window), token-sorted forms and 64-bin character-count vectors
    (ord & 63) both in length order."""
    sorted_forms = [" ".join(sorted(v.split())) for v in variants]
    lv = np.array([len(s) for s in sorted_forms], dtype=np.int32)
    order = np.argsort(lv, kind="stable").astype(np.int64)
    lv = lv[order]
    sorted_forms = [sorted_forms[i] for i in order]
    counts = np.zeros((len(variants), 64), dtype=np.int32)
    for i, s in enumerate(sorted_forms):
        for ch in s:
            counts[i, ord(ch) & 63] += 1
    return order, sorted_forms, lv, counts


def fuzzy_best_match(
    norm: str, variants: list[str], cutoff: float = FUZZY_SCORE_CUTOFF
) -> str | None:
    """extractOne semantics: best score ≥ cutoff; ties keep the earliest
    candidate (strictly-greater replacement — earliest in DICTIONARY
    order, which the length-sorted layout maps back to via ``order``).

    Two-stage lossless blocking:

    1. LENGTH WINDOW (binary search, O(log V)): score = 200·LCS/(la+lb)
       and LCS ≤ min(la, lb), so a variant can reach the cutoff only if
       cutoff·ln/(200−cutoff) ≤ lv ≤ ln·(200−cutoff)/cutoff. The variant
       table is pre-sorted by length, so two searchsorted calls restrict
       every later stage to the feasible length band — at a 100k-variant
       dictionary the O(V) per-string bound check the r4 verdict flagged
       becomes O(band) (VERDICT r4 "Next round" #7).
    2. CHARACTER-MULTISET bound on the band (numpy, lossless):
       LCS(a,b) ≤ Σ_c min(count_a(c), count_b(c)); a candidate whose
       shared character budget can't reach the cutoff skips the O(la·lb)
       DP. Counts hash into 64 bins (ord & 63) — a collision only
       OVERcounts the budget, so the prune stays lossless (property-tested
       against an unblocked reference). The multiset bound subsumes the
       length bound; the window exists to shrink the vectors it runs on."""
    order, sorted_forms, lv, vcounts = _variant_block_tables(tuple(variants))
    a2 = " ".join(sorted(norm.split()))
    ln = len(a2)
    # Below ~256 variants the window buys nothing (the vectorized multiset
    # bound over the whole table is already sub-µs) and its per-call
    # ceil/floor/searchsorted overhead measurably taxes the dominant
    # tiny-dictionary workload (+26%/probe on the 17-variant reference
    # dictionary, micro-benched r5). The multiset bound subsumes the
    # length bound, so skipping the window never changes the result.
    if cutoff > 0 and len(lv) >= 256:
        lo_len = int(np.ceil(cutoff * ln / (200.0 - cutoff)))
        hi_len = int(np.floor(ln * (200.0 - cutoff) / cutoff))
        lo = int(np.searchsorted(lv, lo_len, side="left"))
        hi = int(np.searchsorted(lv, hi_len, side="right"))
    else:
        lo, hi = 0, len(lv)
    if lo >= hi:
        return None
    c = np.zeros(64, dtype=np.int32)
    for ch in a2:
        c[ord(ch) & 63] += 1
    common = np.minimum(vcounts[lo:hi], c).sum(axis=1)
    denom = lv[lo:hi] + ln
    ok = np.nonzero((denom > 0) & (200.0 * common >= cutoff * denom))[0]
    best, best_score, best_pos = None, None, None
    # probe-side LCS bitmasks built ONCE per probe, reused across every
    # surviving candidate in the band (r15 — the bit-parallel kernel's
    # setup cost is O(len) dict inserts, the same order as one candidate
    # scan; amortizing it keeps the per-candidate cost at one big-int op
    # per character)
    a_masks, a_len = _lcs_masks(a2)
    for j in ok:
        i = lo + j
        b2 = sorted_forms[i]
        total = a_len + len(b2)
        s = (
            200.0 * _lcs_len_masked(a_masks, a_len, b2) / total
            if total
            else 0.0
        )
        pos = order[i]  # original dictionary position (tie-break order)
        if s >= cutoff and (
            best_score is None
            or s > best_score
            or (s == best_score and pos < best_pos)
        ):
            best, best_score, best_pos = variants[pos], s, pos
    return best


def fuzzy_lookup_udf(index: dict[str, str] | None = None, cutoff: float = FUZZY_SCORE_CUTOFF):
    """pandas UDF over each row's two miss-form arrays
    (:func:`staged_tokens_expr`, ``__tk.__kn`` and ``__tk.__ks``) →
    ``struct(__fzn, __fzs)``, two arrays of the tokens' fuzzy results
    (:func:`miss_scorer`). One memo per Arrow batch serves both arrays,
    mirroring the reference's lru_cache, so a token seen again in the
    batch, or with no op prefix, is scored once; cross-row dedupe of whole
    texts is done by the distinct before it."""
    index = index if index is not None else build_variant_index()
    variants = list(index.keys())

    @pandas_udf("__fzn array<string>, __fzs array<string>")
    def _fuzzy(kns: pd.Series, kss: pd.Series) -> pd.DataFrame:
        score = miss_scorer(index, variants, cutoff)
        return pd.DataFrame({"__fzn": score(kns), "__fzs": score(kss)})

    return _fuzzy


def miss_scorer(index: dict[str, str], variants: list[str], cutoff: float) -> Callable:
    """A function from rows of miss forms (one array of them per text) to
    rows of their fuzzy results (:func:`fuzzy_resolve`, None for a null
    form), shared by the pandas UDF (one per Arrow batch) and the
    driver-local path (one per request). Its memo is unbounded: each
    scorer serves one bounded batch, and a bounded LRU would evict the
    first array's keys before the second array reads them."""

    @lru_cache(maxsize=None)
    def one(form: str | None) -> str | None:
        return fuzzy_resolve(form, index, variants, cutoff)

    return lambda rows: [[one(k) for k in forms] for forms in rows]


def fuzzy_resolve(
    norm: str | None, index: dict[str, str], variants: list[str], cutoff: float
) -> str | None:
    """THE per-string tier-3 rule, which :func:`miss_scorer` applies for
    both paths: a normalized string shorter than FUZZY_MIN_LEN never
    fuzzy-matches; otherwise the best variant's canonical, or None.
    ``variants`` is ``list(index)``, passed in so callers build it once."""
    if not norm or len(norm) < FUZZY_MIN_LEN:
        return None
    m = fuzzy_best_match(norm, variants, cutoff)
    return index[m] if m is not None else None


# ── The cascade over each token's two forms ─────────────────────────────────

def token_forms(t: Column) -> Column:
    """The two forms the cascade resolves a raw token in (cleaner_v6.py:
    180-208, 236-243), as ``struct(n, s)``: ``n`` is the normalized token
    and ``s`` the normalized op-prefix-stripped token, null when stripping
    leaves nothing (the oracle's ``token_struct``, ``plans.trips``)."""
    stripped = strip_op_prefix(t)
    return F.struct(
        normalize_arabic(t).alias("n"),
        F.when(stripped != "", normalize_arabic(stripped)).alias("s"),
    )


def staged_tokens_expr(tokens: Column, index: dict[str, str], m: Column) -> Column:
    """Each token of the array ``tokens`` as a struct of the cascade's
    inputs: ``__r12``/``__r12s``, tiers 1-2 of its forms ``n``/``s``
    (:func:`token_forms`; ``m`` is ``index``'s map), and the two forms
    tier 3 scores, each null where the cascade cannot reach its fuzzy
    result: ``__kn`` is ``n`` when ``__r12`` is null, ``__ks`` is ``s``
    when both are. One ``transform`` per step: HOF lambdas get no
    subexpression elimination, so each field is computed once and the
    next step reads it from the struct."""
    forms = F.transform(tokens, token_forms)
    r12 = F.transform(forms, lambda x: F.struct(
        x["n"].alias("n"), x["s"].alias("s"),
        tier12_expr(x["n"], index, m).alias("__r12"),
        tier12_expr(x["s"], index, m).alias("__r12s"),
    ))
    return F.transform(r12, lambda x: F.struct(
        x["__r12"].alias("__r12"), x["__r12s"].alias("__r12s"),
        F.when(x["__r12"].isNull(), x["n"]).alias("__kn"),
        F.when(x["__r12"].isNull() & x["__r12s"].isNull(), x["s"]).alias("__ks"),
    ))


def cascade_order_expr() -> Column:
    """The cascade order (cleaner_v6.py:180-208, 236-243) per token of
    ``__tk`` (:func:`staged_tokens_expr`): tiers 1-2 of the token, tier 3
    of the token, then tiers 1-2 and tier 3 of its stripped form. ``__fz``
    holds the miss forms' fuzzy results (null on a miss) in two arrays
    aligned with ``__tk``. A stripped form that is empty is null, and so
    are its results."""
    fz = F.col("__fz")
    return F.transform("__tk", lambda x, i: F.coalesce(
        x["__r12"], fz["__fzn"][i], x["__r12s"], fz["__fzs"][i]
    ))


def scored(
    spark, text_col: str, texts: list, staged: list, index: dict[str, str], cutoff: float
) -> DataFrame:
    """The relation :func:`cascade_order_expr` reads on the driver-local
    path: each of ``texts`` in ``text_col``, in ``__tk`` its tokens'
    ``__r12``/``__r12s`` from ``staged`` (the collected
    :func:`staged_tokens_expr` column), and in ``__fz`` the fuzzy results
    of their miss forms. One memo serves the whole call, as one serves an
    Arrow batch in the distributed path's UDF."""
    score = miss_scorer(index, list(index), cutoff)
    fzn = score([[x["__kn"] for x in toks] for toks in staged])
    fzs = score([[x["__ks"] for x in toks] for toks in staged])
    rows = [
        {text_col: text, "__tk": [{"__r12": x["__r12"], "__r12s": x["__r12s"]} for x in toks],
         "__fz": {"__fzn": n, "__fzs": s}}
        for text, toks, n, s in zip(texts, staged, fzn, fzs)
    ]
    return local_frame(spark, rows, (
        f"{text_col} string, __tk array<struct<__r12: string, __r12s: string>>, "
        "__fz struct<__fzn: array<string>, __fzs: array<string>>"
    ))
