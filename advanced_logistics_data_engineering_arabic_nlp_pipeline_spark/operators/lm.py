"""Corpus language-model scoring — the CCNet-style perplexity quality
signal (Wenzek et al. 2020, "CCNet: Extracting High Quality Monolingual
Datasets from Web Crawl Data"): score each document by its cross-entropy
under a language model, then filter/bucket on the score. Production
CCNet uses a KenLM 5-gram; the distributed-shape version here is an
add-alpha-smoothed UNIGRAM model trained on the corpus itself (or any
reference corpus via the ``lm_stats=`` hook) — the model class is
deliberately simple so every step stays a DataFrame expression, but the
pipeline shape (train token stats → broadcast/join log-probs → per-doc
cross-entropy) is exactly what a KenLM-backed variant would distribute.

Scale shape:

- **Training is one explode + one groupBy** on the term key —
  combiner-friendly (a term's count is ONE reduce key), so the shuffle
  moves O(vocab) rows regardless of corpus size. The top-``vocab_size``
  cap bounds the model; everything past the cap scores through the
  single OOV class, so the log-prob table is a bounded artifact that
  broadcasts.
- **Scoring is explode → join(term) → per-doc sum.** With a bounded
  vocabulary the freq table broadcasts (no shuffle of the token rows at
  all); per-token log-probs round to 8 dp and sum through the decimal
  cast (functions/coercion.dsum), so a document's score is bit-stable
  across partitionings and engines.
- **Smoothing is add-alpha over V+1 classes** (the kept vocabulary plus
  one OOV bucket): ``logp(t) = ln((c_t + a) / (T + a*(V+1)))``, OOV gets
  ``c_t = 0``. Total mass T counts ALL corpus tokens (including capped
  ones) so the model is a proper distribution over the class set.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.coercion import dsum
from .textanalysis import tokens_expr


def unigram_lm_stats(
    docs: DataFrame,
    text_col: str = "text",
    vocab_size: int | None = None,
    alpha: float = 0.5,
) -> tuple[DataFrame, DataFrame]:
    """Train the smoothed unigram model: returns ``(freqs, consts)`` —
    ``(term, logp)`` for the kept vocabulary and a one-row frame with
    ``(__total_tokens, __vocab, __oov_logp)``. ``vocab_size`` keeps the
    top-V terms by count (ties break on term — deterministic); ``None``
    keeps everything (OOV class still exists, for scoring unseen text).
    """
    toks = tokens_expr(F.col(text_col))
    counts = (
        docs.select(F.explode(toks).alias("term"))
        .groupBy("term")
        .agg(F.count("*").alias("c"))
    )
    if vocab_size is not None:
        kept = counts.orderBy(F.desc("c"), "term").limit(vocab_size)
    else:
        kept = counts
    # T over ALL tokens (capped terms still carry probability mass into
    # the denominator); V = kept classes
    consts = counts.agg(
        F.sum("c").alias("__total_tokens")
    ).crossJoin(kept.agg(F.count("*").alias("__vocab")))
    denom = F.col("__total_tokens") + alpha * (F.col("__vocab") + 1.0)
    consts = consts.withColumn(
        "__oov_logp", F.round(F.log(F.lit(alpha) / denom), 8)
    )
    freqs = (
        kept.crossJoin(F.broadcast(consts.select("__total_tokens", "__vocab")))
        .withColumn(
            "logp",
            F.round(
                F.log(
                    (F.col("c") + alpha)
                    / (
                        F.col("__total_tokens")
                        + alpha * (F.col("__vocab") + 1.0)
                    )
                ),
                8,
            ),
        )
        .select("term", "logp")
    )
    return freqs, consts


BACKOFF = 0.4  # the published stupid-backoff constant (Brants et al. 2007)


def _pair_walk_expr(text, from_pos: int):
    """``array<struct<prev,term>>`` of the (lookback, token) walk over a
    document, starting at token position ``from_pos`` (2 = bigram pairs
    only; 1 = every position, first token's prev NULL). The token array
    is bound as a LAMBDA VARIABLE — ``transform(array(toks), tk -> …)``
    — so the text splits exactly once per row: referencing the split
    through a projected column re-inlines it into every (interpreted)
    HOF reference via CollapseProject, re-splitting per POSITION —
    quadratic per document (the shingles_expr lesson, dedup.py:54; r10
    self-review). element_at rejects index 0 even in try_ form, so
    position 1's lookback routes through nullif (NULL index → NULL
    prev)."""
    empty = F.array().cast("array<struct<prev:string,term:string>>")
    return F.coalesce(
        F.try_element_at(
            F.transform(
                F.array(tokens_expr(text)),
                lambda tk: F.when(
                    F.size(tk) >= from_pos,
                    F.transform(
                        F.sequence(F.lit(from_pos), F.size(tk)),
                        lambda i: F.struct(
                            F.try_element_at(
                                tk, F.nullif(i - 1, F.lit(0))
                            ).alias("prev"),
                            F.try_element_at(tk, i).alias("term"),
                        ),
                    ),
                ).otherwise(empty),
            ),
            F.lit(1),
        ),
        empty,
    )


def save_lm(freqs: DataFrame, consts: DataFrame, path: str) -> None:
    """Persist a trained unigram model (:func:`unigram_lm_stats`) as a
    parquet artifact — ``<path>/freqs`` (term, logp) + ``<path>/consts``
    (the one-row totals frame). Build-once/serve-many (the
    save_bpe/classifier-artifact discipline, r12): the CCNet-style gate
    needs a REFERENCE-corpus model, and a stream restart or nightly
    delta should load it, not retrain it."""
    freqs.select("term", "logp").write.mode("overwrite").parquet(
        path.rstrip("/") + "/freqs"
    )
    consts.write.mode("overwrite").parquet(path.rstrip("/") + "/consts")


def load_lm(spark, path: str) -> tuple[DataFrame, DataFrame]:
    """Load a :func:`save_lm` artifact back into the ``(freqs, consts)``
    shape every scoring/gate path takes. Validates the consts contract
    (exactly one row, non-degenerate OOV) so a half-written or empty
    artifact fails at load, not as NULL scores downstream."""
    freqs = spark.read.parquet(path.rstrip("/") + "/freqs")
    consts = spark.read.parquet(path.rstrip("/") + "/consts")
    rows = consts.collect()
    if len(rows) != 1:
        raise ValueError(
            f"corrupt LM artifact at {path}: consts must be exactly one"
            f" row, found {len(rows)}"
        )
    if rows[0]["__oov_logp"] is None:
        raise ValueError(
            f"corrupt LM artifact at {path}: degenerate model (NULL"
            " __oov_logp) — retrain on a non-empty reference corpus"
        )
    return freqs, consts


def resolve_lm(spark, lm: "tuple[DataFrame, DataFrame] | str"):
    """Accept either the in-memory ``(freqs, consts)`` pair or a
    :func:`save_lm` artifact path (the gate-wiring contract of
    ``curate_increment`` / ``run_stream_curation``, mirroring
    classifier.resolve_hashed_model)."""
    if isinstance(lm, str):
        return load_lm(spark, lm)
    return lm


# literal-map expression ceiling: a 4096-entry map expression is ~100 KB
# of plan — fine; an uncapped vocabulary is not (Spark looks a key up in
# a literal map by scanning its keys, so each row pays the map's size)
EXPR_MODEL_MAX_VOCAB = 4096


def collect_lm_expr_model(
    freqs: DataFrame,
    consts: DataFrame,
    max_vocab: int = EXPR_MODEL_MAX_VOCAB,
) -> tuple[dict[str, float], float]:
    """Collect a trained unigram model (:func:`unigram_lm_stats`) into
    driver-side ``({term: logp}, oov_logp)`` for the EXPRESSION scoring
    path. Bounded collect: raises past ``max_vocab`` — train with a
    ``vocab_size`` cap instead of collecting an unbounded vocabulary."""
    rows = freqs.limit(max_vocab + 1).collect()
    if len(rows) > max_vocab:
        raise ValueError(
            f"log-prob table exceeds max_vocab={max_vocab}; train with "
            "vocab_size<= that cap (the OOV class absorbs the tail)"
        )
    oov = consts.select("__oov_logp").collect()[0][0]
    if oov is None:
        # SUM over zero count rows is NULL: an empty/all-blank reference
        # corpus trains a degenerate model — fail HERE with the cause,
        # not later with float(None) deep in gate setup (r10 self-review)
        raise ValueError(
            "reference corpus has no tokens — the trained model is "
            "degenerate (empty frame, or every text NULL/whitespace)"
        )
    return {r["term"]: r["logp"] for r in rows}, float(oov)


def perplexity_ce_expr(
    text,  # Column
    logp: dict[str, float],
    oov_logp: float,
):
    """Per-row cross-entropy as a PURE EXPRESSION — the streaming-safe
    form: the collected log-prob table rides the plan as a literal map
    and the per-token sum is a higher-order fold over the token array,
    so there is no aggregation and no join (legal in a streaming filter
    BEFORE stateful stages). Empty documents yield NULL.

    Tradeoff, documented: HOF lambdas run interpreted (the repo's
    measured dedup lesson), so this form is for GATES — per-row
    decisions on arriving data — not for bulk corpus scoring, which is
    :func:`perplexity_score`'s broadcast-join path. The two agree to
    float-fold precision (~1e-12; parity pytest) but are not
    bit-identical: the fold sums doubles in array order, the bulk path
    sums decimals."""
    m = F.create_map(
        *[F.lit(x) for term, lp in sorted(logp.items()) for x in (term, lp)]
    )
    toks = tokens_expr(text)
    n = F.size(toks)
    s = F.aggregate(
        toks,
        F.lit(0.0),
        lambda acc, t: acc
        + F.coalesce(F.element_at(m, t), F.lit(float(oov_logp))),
    )
    return F.when(n > 0, F.round(-s / n, 6))


def bigram_lm_stats(
    docs: DataFrame,
    text_col: str = "text",
    vocab_size: int | None = None,
    bigram_size: int | None = None,
    alpha: float = 0.5,
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """Train the stupid-backoff bigram model (Brants et al. 2007, "Large
    Language Models in Machine Translation"): returns ``(bigrams, freqs,
    consts)`` — ``(prev, term, logs)`` relative-frequency log-scores for
    the kept bigrams (``ln(c(prev,term) / c(prev))``), plus the smoothed
    unigram table/constants from :func:`unigram_lm_stats` that unseen
    bigrams back off to.

    Stupid backoff is the web-scale recipe precisely because it SKIPS
    normalization: kept-bigram scores are raw relative frequencies and
    everything else scores ``BACKOFF × P_unigram(term)`` — no
    discounting pass over the full bigram table, so training stays two
    combiner-friendly groupBys (unigram + bigram counts) and the
    ``bigram_size`` cap (top-B by count, term-tiebroken) bounds the
    scoring artifact exactly like the unigram ``vocab_size`` cap."""
    freqs, consts = unigram_lm_stats(docs, text_col, vocab_size, alpha)
    pairs = docs.select(
        F.explode(_pair_walk_expr(F.col(text_col), from_pos=2)).alias("p")
    ).select("p.prev", "p.term")
    big_counts = pairs.groupBy("prev", "term").agg(F.count("*").alias("cb"))
    prev_counts = pairs.groupBy("prev").agg(F.count("*").alias("cp"))
    scored = big_counts.join(prev_counts, "prev").select(
        "prev",
        "term",
        F.round(F.log(F.col("cb") / F.col("cp")), 8).alias("logs"),
        "cb",
    )
    if bigram_size is not None:
        scored = scored.orderBy(F.desc("cb"), "prev", "term").limit(
            bigram_size
        )
    return scored.select("prev", "term", "logs"), freqs, consts


def perplexity_score_bigram(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    vocab_size: int | None = None,
    bigram_size: int | None = None,
    alpha: float = 0.5,
    lm_stats: tuple[DataFrame, DataFrame, DataFrame] | None = None,
) -> DataFrame:
    """Per-document cross-entropy + perplexity under the stupid-backoff
    bigram score — ``(id, n_tokens, cross_entropy, perplexity)``. Token
    positions score as: kept bigram → its relative-frequency log-score;
    anything else (unseen bigram, or the document's FIRST token, which
    has no history) → ``ln(BACKOFF × P_unigram)`` = ``ln(0.4) + logp``
    over the smoothed unigram table (OOV class included). The mean is
    over all n tokens; empty documents score NULL.

    Same determinism discipline as :func:`perplexity_score`: both score
    tables pre-round to 8 dp, the per-doc sum goes through the decimal
    cast, outputs round to 6 dp. Scoring joins are broadcast (both
    artifacts are bounded by their caps); the token rows never shuffle
    on a content key."""
    bigrams, freqs, consts = (
        lm_stats
        if lm_stats is not None
        else bigram_lm_stats(docs, text_col, vocab_size, bigram_size, alpha)
    )
    pos_rows = docs.select(
        F.col(id_col),
        F.explode(_pair_walk_expr(F.col(text_col), from_pos=1)).alias("p"),
    ).select(F.col(id_col), "p.prev", "p.term")
    lp_backoff = F.round(
        F.lit(math.log(BACKOFF))
        + F.coalesce(F.col("logp"), F.col("__oov_logp")),
        8,
    )
    scored = (
        pos_rows.join(F.broadcast(bigrams), ["prev", "term"], "left")
        .join(F.broadcast(freqs), "term", "left")
        .crossJoin(F.broadcast(consts.select("__oov_logp")))
        .select(
            F.col(id_col),
            F.coalesce(F.col("logs"), lp_backoff).alias("__lp"),
        )
    )
    per_doc = scored.groupBy(id_col).agg(
        F.count("*").alias("n_tokens"),
        dsum(F.col("__lp"), scale=8).alias("__sum_lp"),
    )
    ce = -F.col("__sum_lp") / F.col("n_tokens")
    return _with_empty_docs(
        docs, per_doc, tokens_expr(F.col(text_col)), id_col, ce
    )


def _with_empty_docs(docs, per_doc, toks, id_col, ce):
    """Attach the (0 tokens, NULL score) rows for EMPTY documents as a
    UNION of a second pruned scan, not a left join: every non-empty doc
    is already present in ``per_doc``, so joining the whole corpus back
    on id just to find the empties planned as a corpus-keyed
    SortMergeJoin — a full shuffle of both sides at 100 TB for rows a
    filter finds for free (r10 plan audit)."""
    scored_rows = per_doc.select(
        F.col(id_col),
        F.col("n_tokens"),
        F.round(ce, 6).alias("cross_entropy"),
        F.round(F.exp(ce), 6).alias("perplexity"),
    )
    # coalesce: size(NULL) is NULL under non-legacy semantics — a
    # NULL-text document is an empty document here, not a vanished one
    empty_rows = docs.where(F.coalesce(F.size(toks), F.lit(0)) <= 0).select(
        F.col(id_col),
        F.lit(0).cast("bigint").alias("n_tokens"),
        F.lit(None).cast("double").alias("cross_entropy"),
        F.lit(None).cast("double").alias("perplexity"),
    )
    return scored_rows.unionByName(empty_rows)


def perplexity_score(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    vocab_size: int | None = None,
    alpha: float = 0.5,
    lm_stats: tuple[DataFrame, DataFrame] | None = None,
) -> DataFrame:
    """Per-document cross-entropy + perplexity under the unigram model —
    ``(id, n_tokens, cross_entropy, perplexity)``; empty documents score
    NULL (no tokens to take a mean over) rather than a fake 0.

    ``lm_stats``: pass a prebuilt ``(freqs, consts)`` from
    :func:`unigram_lm_stats` to score against a REFERENCE corpus (the
    CCNet setup scores web text under a Wikipedia-trained model); when
    omitted the model trains on ``docs`` itself (self-perplexity — the
    repetition/outlier signal).

    Per-token log-probs are pre-rounded (8 dp) in the stats table, the
    per-doc sum goes through the decimal cast, and the outputs round to
    6 dp — reproducible at any parallelism, hash-stable cross-engine."""
    freqs, consts = (
        lm_stats
        if lm_stats is not None
        else unigram_lm_stats(docs, text_col, vocab_size, alpha)
    )
    toks = tokens_expr(F.col(text_col))
    term_rows = docs.select(F.col(id_col), F.explode(toks).alias("term"))
    scored = (
        term_rows.join(F.broadcast(freqs), "term", "left")
        .crossJoin(F.broadcast(consts.select("__oov_logp")))
        .select(
            F.col(id_col),
            F.coalesce(F.col("logp"), F.col("__oov_logp")).alias("__lp"),
        )
    )
    per_doc = scored.groupBy(id_col).agg(
        F.count("*").alias("n_tokens"),
        dsum(F.col("__lp"), scale=8).alias("__sum_lp"),
    )
    ce = -F.col("__sum_lp") / F.col("n_tokens")
    return _with_empty_docs(docs, per_doc, toks, id_col, ce)
