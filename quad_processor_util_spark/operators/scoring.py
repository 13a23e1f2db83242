"""Corpus-statistics quality scoring for training-data pipelines.

:func:`unigram_logprob_score` is the deterministic core of the CCNet-style
"language-model perplexity" quality filter (Wenzek et al. 2020): fit a
unigram LM on a reference corpus, score every document by its per-token
average log-probability, and keep/bucket documents by the score. The real
CCNet uses a trained 5-gram KenLM; the unigram variant has the same
pipeline shape (corpus-wide fit pass -> broadcast table -> per-doc score
pass), is fully deterministic, and is bit-replayable in SQL — while still
separating fluent in-domain text from gibberish (rare-token-heavy docs
score low).

The reference engine has no scoring utilities; this belongs to the
beyond-the-reference training-data family (SURVEY.md §2, LLM-pipeline
operators), beside the heuristic quality scores of ``functions.text``
(which are per-row/zero-shuffle; this one is corpus-relative and pays the
two aggregations that implies).

100 TB stance: the fit is ONE shuffle (token groupBy with map-side
combine; vocabulary is Heaps-law sublinear and ``min_count`` pruning caps
it hard), the totals are a 1-row aggregate crossed in via a broadcast
nested-loop (a scalar, never a driver collect), and the score pass is
explode -> join on token against the broadcast pruned vocabulary (the
corpus never shuffles for it) -> one groupBy on the doc id.
"""
from __future__ import annotations

from typing import Optional

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.text import _words

__all__ = ["unigram_logprob_score"]


def _tokens(text_col):
    # THE whitespace tokenizer (functions.text._words: explicit WS_RE split,
    # empty strings filtered), lowercased — one definition shared with the
    # repetition/quality gates so a tokenizer fix can't desynchronize them
    return _words(F.lower(text_col))


def unigram_logprob_score(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_count: int = 1,
    fit_on: Optional[DataFrame] = None,
) -> DataFrame:
    """-> (id_col, n_tokens BIGINT, avg_logprob DOUBLE): per-document mean
    natural-log unigram probability under an LM fit on ``fit_on`` (default:
    ``docs`` itself — self-scoring, the usual first pass).

    ``p(tok) = cnt / total`` over the fit corpus, where ``cnt`` keeps only
    tokens seen >= ``min_count`` times and ``total`` sums the SURVIVING
    counts; pruned and unseen tokens score the OOV floor ``1 / total`` —
    exactly how a count-pruned LM table degrades, so rare-token-heavy
    documents are penalized rather than skipped. Token-less documents get
    ``n_tokens = 0`` and a NULL score (no silent 0.0 that would sort them
    as high-quality).

    Scores are negative; closer to 0 = more typical of the fit corpus.
    Threshold or bucket downstream (CCNet keeps head/middle of the
    distribution); composes with :mod:`.sampling` — score, bucket, then
    ``stratified_sample`` per quality tier.
    """
    if min_count < 1:
        raise ValueError("unigram_logprob_score: min_count must be >= 1")
    from .dedup import _ensure_parallelism

    # single-split scans would run BOTH tokenize+partial-agg passes on one
    # core (the explode feeds a map-side partial aggregate in the same
    # task); re-spread first — no-op on a wide scan (round 6). Project to
    # the two consumed columns BEFORE the repartition so a wide documents
    # table does not shuffle its unused columns (round-6 review finding —
    # matches _ensure_parallelism's documented (id, text) contract).
    docs = _ensure_parallelism(docs.select(id_col, text_col))
    fit = docs if fit_on is None else _ensure_parallelism(
        fit_on.select(text_col))
    fit_toks = fit.select(_tokens(F.col(text_col)).alias("toks")) \
        .select(F.explode("toks").alias("tok"))
    vocab = fit_toks.groupBy("tok").agg(F.count(F.lit(1)).alias("cnt")) \
        .where(F.col("cnt") >= min_count)
    totals = vocab.agg(F.sum("cnt").alias("total"))

    # explode_outer keeps token-less documents as a single NULL-token row,
    # so ONE scan of docs + one groupBy covers them too (no second scan /
    # doc_id re-join just to restore empty docs); a NULL tok never matches
    # the vocab join and is excluded from both count(tok) and avg(lp)
    doc_toks = docs.select(
        id_col, F.explode_outer(_tokens(F.col(text_col))).alias("tok"))
    return (
        doc_toks.join(F.broadcast(vocab), "tok", "left")
        .join(F.broadcast(totals))       # 1 row: BroadcastNestedLoopJoin
        .select(
            id_col,
            F.col("tok"),
            F.when(
                F.col("tok").isNotNull(),
                F.log(F.coalesce(F.col("cnt"), F.lit(1)) / F.col("total")),
            ).alias("lp"),
        )
        .groupBy(id_col)
        .agg(F.count("tok").alias("n_tokens"),
             F.avg("lp").alias("avg_logprob"))
    )
