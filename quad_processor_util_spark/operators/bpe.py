"""Distributed BPE tokenizer fitting for training-data pipelines.

Byte-pair-encoding vocabulary training is the canonical "one more pass
over the whole corpus" a data pipeline owes the model team. The classic
algorithm (Sennrich et al. 2016) is inherently iterative — count adjacent
symbol pairs, merge the most frequent, repeat — but its distributed shape
is well known (it is how SentencePiece/HF tokenizers scale): the corpus
is folded into a WORD-FREQUENCY table first (Heaps-law sublinear — the
one corpus-sized shuffle), and every merge iteration then runs over that
small vocabulary table only, never re-touching the corpus.

- :func:`bpe_pair_counts` — the single-pass inner statistic: weighted
  adjacent-character pair counts over the corpus (the "which merge would
  be first" table). One corpus shuffle + one vocabulary-sized shuffle;
  fully SQL-replayable, so this is the gated surface.
- :func:`fit_bpe` — the full iterative fit: ``n_merges`` rounds of
  pair-count → argmax → greedy left-to-right merge over the symbolized
  vocabulary. Each round shuffles only the vocabulary table; the single
  driver-side datum per round is the ONE argmax row (bounded — the same
  threshold-probe discipline as ``cc.py``). Deterministic: ties break on
  (count DESC, left ASC, right ASC), so two runs (or two cluster sizes)
  produce the identical merge sequence. Covered by pytest against a
  sequential pure-Python reference; the iterative loop is not
  SQL-expressible in one query, which is exactly the
  weaker-rows-only-check case SURVEY.md reserves for iterative
  algorithms — its inner statistic is gated instead (``bpe_pairs``).
- :func:`encode_bpe` — apply a fitted merge list to the corpus (the
  "tokenize everything" pass): per-doc BPE token stream + exact token
  count. ZERO shuffle — one Arrow ``mapInPandas`` pass over documents
  with a per-partition word→tokens memo (Zipf makes the hit rate high),
  deliberately chosen over the distinct-words-then-join-back shape,
  which costs two corpus-wide shuffles to save already-memoized CPU.
  Driver gate ``bpe_encode`` replays the greedy merge fold in pure SQL
  (doubled-separator ``replace`` — see :func:`encode_bpe` notes).

Tokenization parity: words come from the shared whitespace tokenizer
(``functions.text._words`` over lowercased text), the same route every
repetition/unigram gate replays in DuckDB.

100 TB stance: the corpus is touched ONCE (word-count groupBy with
map-side combine); all iteration state is the vocabulary table, which is
``localCheckpoint``-ed with eager=False each round so the plan does not
grow with the merge count, and whose size only shrinks (merges never add
rows). Under AQE such a checkpoint still runs the shuffle stages below it
when it is called; eager=False only defers its final stage to first use.
No per-row Python anywhere — the merge application is a Catalyst
``aggregate`` fold over each word's symbol array.
"""
from __future__ import annotations

import sys
from typing import List, Optional, Tuple

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.text import _GramMemo, _words
from ..session import worker_kernel

__all__ = ["bpe_pair_counts", "fit_bpe", "encode_bpe"]

# per-task word -> tokens memo budget for encode_bpe, counted as each
# word's size, its token list and token strings, and a fixed per-entry cost
_BPE_MEMO_BYTES = 64 << 20


def _word_counts(docs: DataFrame, text_col: str) -> DataFrame:
    """-> (word, freq): the one corpus-sized pass."""
    from .dedup import _ensure_parallelism

    # re-spread a single-split scan so the explode + map-side partial agg
    # use the whole session width (no-op on a wide scan — round 6)
    return (
        _ensure_parallelism(docs.select(F.col(text_col)))
        .select(F.explode(_words(F.lower(F.col(text_col)))).alias("word"))
        .groupBy("word").agg(F.count(F.lit(1)).alias("freq"))
    )


def bpe_pair_counts(
    docs: DataFrame,
    text_col: str = "text",
    top_n: Optional[int] = None,
) -> DataFrame:
    """-> (left, right, pair_count BIGINT): corpus-weighted counts of
    adjacent CHARACTER pairs within words — the statistic whose argmax is
    BPE merge #1.

    Counted over the word-frequency table, so a word occurring a million
    times costs one row, and positions come from a ``sequence`` explode
    bounded by word length. With ``top_n`` the result is the first N pairs
    in (pair_count DESC, left ASC, right ASC) order — the same
    deterministic tie-break :func:`fit_bpe` uses.
    """
    wc = _word_counts(docs, text_col)
    pairs = (
        wc.where(F.length("word") >= 2)
        .select(
            "freq",
            F.explode(F.sequence(F.lit(1), F.length("word") - 1))
            .alias("i"),
            F.col("word"),
        )
        .select(
            "freq",
            F.expr("substr(word, i, 1)").alias("left"),
            F.expr("substr(word, i + 1, 1)").alias("right"),
        )
        .groupBy("left", "right")
        .agg(F.sum("freq").alias("pair_count"))
    )
    if top_n is not None:
        # deterministic global order; TakeOrderedAndProject, no full sort
        pairs = pairs.orderBy(
            F.col("pair_count").desc(), "left", "right").limit(int(top_n))
    return pairs


# greedy left-to-right merge of one (l, r) pair inside a symbol array,
# as a Catalyst fold: append each symbol, but when the accumulator tail
# is `l` and the incoming symbol is `r`, replace the tail with `l||r`.
# element_at over `acc` is indexing the (small) accumulator value, not
# re-evaluating an expensive source expression — outside the HOF codegen
# trap measured in functions/text.py.
_MERGE_FOLD = """
aggregate(
  syms,
  cast(array() as array<string>),
  (acc, x) -> if(size(acc) > 0 and element_at(acc, -1) = '{l}'
                 and x = '{r}',
                 concat(slice(acc, 1, size(acc) - 1), array('{lr}')),
                 concat(acc, array(x))))
"""


def _sql_quote(s: str) -> str:
    return s.replace("\\", "\\\\").replace("'", "\\'")


def fit_bpe(
    docs: DataFrame,
    n_merges: int,
    text_col: str = "text",
    min_pair_count: int = 2,
) -> Tuple[List[tuple], DataFrame]:
    """Fit ``n_merges`` BPE merges on the corpus; returns
    ``(merges, vocab)`` where ``merges`` is a list of
    ``(step, left, right, merged, pair_count)`` tuples (driver-side by
    construction — one bounded argmax row per round) and ``vocab`` the
    final symbolized word table ``(word, freq, syms array<string>)``.

    Stops early when the best remaining pair occurs fewer than
    ``min_pair_count`` times (a merge seen once is noise). The merge list
    is the training artifact — apply it with any standard BPE encoder;
    symbols are plain character concatenations (no end-of-word marker, a
    documented simplification — add a sentinel column upstream if the
    recipe needs one).
    """
    if n_merges < 0:
        raise ValueError("fit_bpe: n_merges must be >= 0")
    if min_pair_count < 1:
        raise ValueError("fit_bpe: min_pair_count must be >= 1")
    vocab = _word_counts(docs, text_col).select(
        "word", "freq",
        F.expr("filter(split(word, ''), x -> x != '')").alias("syms"))
    # checkpoint (round 6): the loop below re-reads `vocab` each round;
    # the checkpoint cuts lineage so no iteration replays the whole corpus
    # scan + prior merges. Under AQE it runs the word-count shuffle when
    # called; eager=False folds only the final stage's materialization
    # into the round's own argmax job instead of a separate job per round
    # (the per-round collect() is the only driver action)
    vocab = vocab.localCheckpoint(eager=False)

    merges: List[tuple] = []
    for step in range(n_merges):
        best = (
            vocab.where(F.size("syms") >= 2)
            .select(
                "freq",
                F.explode(F.expr(
                    "transform(sequence(1, size(syms) - 1), "
                    "i -> struct(element_at(syms, i) AS l, "
                    "element_at(syms, i + 1) AS r))")).alias("p"))
            .groupBy(F.col("p.l").alias("l"), F.col("p.r").alias("r"))
            .agg(F.sum("freq").alias("cnt"))
            .orderBy(F.col("cnt").desc(), "l", "r")
            .limit(1)
            .collect()  # ONE row: the bounded per-round driver datum
        )
        if not best or best[0]["cnt"] < min_pair_count:
            break
        l, r, cnt = best[0]["l"], best[0]["r"], best[0]["cnt"]
        merges.append((step, l, r, l + r, cnt))
        fold = _MERGE_FOLD.format(
            l=_sql_quote(l), r=_sql_quote(r), lr=_sql_quote(l + r))
        # sound prefilter (same argument as encode_bpe): symbols are
        # contiguous character runs of the word, so adjacency of l,r
        # implies l+r occurs in the word — words that can't contain the
        # pair skip the O(len^2)-allocation fold entirely (review finding)
        vocab = vocab.select(
            "word", "freq",
            F.when(F.col("word").contains(l + r), F.expr(fold))
            .otherwise(F.col("syms")).alias("syms"))
        vocab = vocab.localCheckpoint(eager=False)
    return merges, vocab


def _normalize_merges(merges) -> List[Tuple[str, str, str]]:
    """Accept either ``fit_bpe`` tuples ``(step, l, r, merged, count)`` or
    bare ``(l, r)`` pairs; -> ``[(l, r, l+r)]`` in application order."""
    out: List[Tuple[str, str, str]] = []
    for m in merges:
        if len(m) >= 4 and isinstance(m[0], int):
            l, r = m[1], m[2]
        else:
            l, r = m[0], m[1]
        if not isinstance(l, str) or not isinstance(r, str) or not l or not r:
            raise ValueError(f"encode_bpe: bad merge {m!r}")
        if any(ch.isspace() for ch in l + r):
            # whitespace inside a symbol would let a merge cross the word
            # boundary the tokenizer just drew
            raise ValueError(f"encode_bpe: whitespace in merge symbol {m!r}")
        out.append((l, r, l + r))
    return out


def _encode_word(w: str, merges) -> list:
    """Sennrich apply for ONE word: merges in fit order, each as a greedy
    left-to-right pass. Module-level (not a closure) so the property suite
    can prove it equivalent to the doubled-separator replace spec the SQL
    oracle replays (tests/test_properties.py). The ``lr not in w``
    prefilter is sound: symbols are contiguous character runs of the
    word, so adjacency of l,r implies l+r occurs in w."""
    syms = list(w)
    for l, r, lr in merges:
        if len(syms) < 2:
            break
        if lr not in w:
            continue
        out, i, n = [], 0, len(syms)
        while i < n:
            if i + 1 < n and syms[i] == l and syms[i + 1] == r:
                out.append(lr)
                i += 2
            else:
                out.append(syms[i])
                i += 1
        syms = out
    return syms


def _tokens_bytes(syms: list) -> int:
    return sys.getsizeof(syms) + sum(map(sys.getsizeof, syms))


def _encode_docs(word_lists, merges, memo: _GramMemo) -> list:
    """Per-document token streams (each word's tokens concatenated in word
    order); a word is encoded once while ``memo`` still holds it."""
    out = []
    for ws in word_lists:
        flat: list = []
        if ws is not None:
            for w in ws:
                syms = memo.get(w)
                if syms is None:
                    syms = _encode_word(w, merges)
                    memo.add(w, syms)
                flat.extend(syms)
        out.append(flat)
    return out


def encode_bpe(
    docs: DataFrame,
    merges,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Apply a fitted BPE merge list to every document; ->
    ``(id_col, tokens array<string>, n_tokens bigint)`` where ``tokens``
    is the document's full BPE token stream (per-word token lists
    concatenated in word order; concatenating a word's tokens restores
    the word — BPE merges never cross the whitespace tokenizer's word
    boundaries).

    Semantics are Sennrich apply (the exact inverse view of
    :func:`fit_bpe`): merges applied IN FIT ORDER, each as one greedy
    left-to-right pass over the word's symbols (a run ``aaa`` under merge
    ``(a,a)`` gives ``[aa, a]``). Words come from the same
    lowercase-then-``WS_RE``-split route as the fit, applied JVM-side so
    the Python kernel never lowercases (Java/Python case-fold parity).

    Plan shape — ZERO shuffle: documents are encoded in place by one
    Arrow ``mapInPandas`` pass. Each partition keeps a word→tokens memo
    (capped at ``_BPE_MEMO_BYTES`` bytes; Zipf token frequency makes the
    hit rate high), and each merge is prefiltered with a substring test
    (symbols are contiguous character runs of the original word, so
    adjacency of ``l,r`` implies ``l+r`` occurs in the word — the test
    is sound). The alternative shape — encode the DISTINCT words table
    and join back — pays two corpus-wide shuffles (join + per-doc
    regroup) to save CPU the memo already saves; at 100 TB the shuffles
    dominate, so the in-place pass wins.

    SQL replayability (the ``bpe_encode`` gate oracle): one greedy merge
    pass equals leftmost non-overlapping string ``replace`` on the
    doubled-separator symbol encoding ``'  s1  s2  ...  '`` with pattern
    ``' l  r '`` -> ``' lr '`` — each match consumes one space from each
    flank and the replacement restores both, so separators stay exactly
    two spaces and contiguous matches chain just like the greedy scan.
    """
    import pandas as pd

    from pyspark.sql.types import (ArrayType, LongType, StringType,
                                   StructField, StructType)

    norm = _normalize_merges(merges)
    if id_col not in docs.columns or text_col not in docs.columns:
        raise ValueError(f"encode_bpe: need columns {id_col!r}, {text_col!r}")
    from .dedup import _ensure_parallelism

    # zero-shuffle mapInPandas: a single-split scan would encode the whole
    # corpus in one task — re-spread first (no-op on a wide scan, round 6)
    prep = _ensure_parallelism(docs.select(id_col, text_col)).select(
        F.col(id_col),
        _words(F.lower(F.col(text_col))).alias("_bpe_words"))
    out_schema = StructType([
        docs.schema[id_col],
        StructField("tokens", ArrayType(StringType()), False),
        StructField("n_tokens", LongType(), False),
    ])

    memo_bytes = _BPE_MEMO_BYTES  # read on the driver; ships with the closure

    def _encode_partition(batches):
        memo = _GramMemo(memo_bytes, _tokens_bytes)
        for pdf in batches:
            toks_out = _encode_docs(pdf["_bpe_words"], norm, memo)
            yield pd.DataFrame({
                id_col: pdf[id_col].reset_index(drop=True),
                "tokens": toks_out,
                "n_tokens": pd.Series([len(t) for t in toks_out],
                                      dtype="int64"),
            })

    return prep.mapInPandas(worker_kernel(_encode_partition),
                            schema=out_schema)
