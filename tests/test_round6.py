"""Round-6 optimization regression tests: every rewrite that changed an
operator's internals is pinned bit-identical to the shape it replaced."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F


@pytest.fixture(scope="module")
def spark():
    from quad_processor_util_spark.session import get_spark

    return get_spark("test-round6", parallelism=4, shuffle_partitions=4)


# ---------------------------------------------------------------------------
# winnow: mapInPandas fast path vs the original expression form
# ---------------------------------------------------------------------------

_WINNOW_TEXTS = [
    (1, "The quick brown fox jumps over the lazy dog near the river bank."),
    (2, "the  QUICK\tbrown fox  jumps over the lazy dog near the river bank"),
    (3, None),                      # NULL text -> one (id, NULL[, NULL]) row
    (4, ""),                        # empty -> md5("") partial-gram row
    (5, "short"),                   # < k chars -> single truncated gram
    (6, "exactly"),                 # == k chars -> one full gram
    (7, "abcabcabcabcabcabcabcabc"),  # periodic: repeated fingerprints
    (8, "naïve café über straße — ünïcödé text with combining marks"),
    (9, "x" * 300),                 # constant text: all grams identical
    (10, "A sentence that is long enough to exercise several full windows "
         "of the winnowing selection, with mixed CASE and   spacing."),
]


def _winnow_selected_expr(df, text_col: str, id_col: str, k: int,
                          window: int, with_pos: bool):
    """The original pure-expression winnow core (explode + window MIN +
    distinct): the equivalence reference for functions.text._winnow_selected,
    whose mapInPandas form produces identical rows with zero shuffles."""
    from pyspark.sql import Window as W

    from quad_processor_util_spark.functions.text import (
        _WINNOW_POS_SPAN,
        WS_RE,
    )

    norm = F.regexp_replace(F.lower(F.trim(F.col(text_col))), WS_RE, " ")
    m = F.greatest(F.length(norm) - (k - 1), F.lit(1))
    g = (
        df.select(F.col(id_col), norm.alias("__t"), m.alias("__m"))
        .select(id_col, "__t", "__m",
                F.explode(F.sequence(F.lit(1), "__m")).alias("__pos"))
        .select(
            id_col, "__m", "__pos",
            F.pmod(
                F.conv(F.substring(F.md5(
                    F.col("__t").substr(F.col("__pos"), F.lit(k))), 1, 15),
                    16, 10).cast("long"),
                F.lit((1 << 31) - 1),
            ).alias("__h"),
        )
    )
    # hard runtime guard: positions beyond the 20-bit packing span would
    # silently corrupt both the min order and the recovered hash — fail
    # loudly instead (chunk >1M-char documents upstream)
    key = F.when(
        F.col("__pos") < _WINNOW_POS_SPAN,
        F.col("__h") * F.lit(_WINNOW_POS_SPAN)
        + (F.lit(_WINNOW_POS_SPAN - 1) - F.col("__pos")),
    ).otherwise(
        F.raise_error(F.lit(
            f"winnow_fingerprints: document exceeds {_WINNOW_POS_SPAN - 1} "
            f"normalized chars — chunk it upstream"))
        .cast("long")
    )
    w = W.partitionBy(id_col).orderBy("__pos").rowsBetween(0, window - 1)
    sel = (
        g.select(id_col, "__m", "__pos", F.min(key).over(w).alias("__sel"))
        .where(F.col("__pos")
               <= F.greatest(F.col("__m") - (window - 1), F.lit(1)))
    )
    fp = F.expr(f"__sel div {_WINNOW_POS_SPAN}").alias("fp")
    if with_pos:
        # recovered from the packed key, so pos can never disagree with fp
        return sel.select(
            id_col, fp,
            (F.lit(_WINNOW_POS_SPAN - 1)
             - F.col("__sel") % _WINNOW_POS_SPAN).cast("long").alias("pos")
        ).distinct()
    return sel.select(id_col, fp).distinct()


@pytest.mark.parametrize("with_pos", [False, True])
def test_winnow_fast_path_matches_expression_form(spark, with_pos):
    from quad_processor_util_spark.functions.text import _winnow_selected

    df = spark.createDataFrame(_WINNOW_TEXTS, "doc_id long, text string")
    kw = dict(text_col="text", id_col="doc_id", k=7, window=4,
              with_pos=with_pos)
    fast = _winnow_selected(df, **kw).collect()
    ref = _winnow_selected_expr(df, **kw).collect()
    key = (lambda r: (r.doc_id, r.fp if r.fp is not None else -1,
                      r.pos if r.pos is not None else -1)) if with_pos else (
        lambda r: (r.doc_id, r.fp if r.fp is not None else -1))
    assert sorted(map(key, fast)) == sorted(map(key, ref))


def test_gram_memo_bytes_stay_under_cap():
    """High-entropy input (almost every 7-gram distinct): the winnow memo
    never accounts more than its cap, the accounting matches the objects it
    holds, the allocator agrees, and eviction drops the OLDER half."""
    import random
    import string
    import sys
    import tracemalloc

    from quad_processor_util_spark.functions.text import (
        _GRAM_ENTRY_OVERHEAD,
        _GramMemo,
    )

    rng = random.Random(7)
    text = "".join(rng.choices(string.ascii_letters + string.digits,
                               k=100_000))
    cap = 1 << 20
    tracemalloc.start()
    try:
        base = tracemalloc.get_traced_memory()[0]
        memo = _GramMemo(cap)
        evictions = 0
        for p in range(len(text) - 6):
            g = text[p:p + 7].encode()
            if g in memo:  # the winnow loop adds on a miss only
                continue
            before = memo.nbytes
            memo.add(g, p)
            assert memo.nbytes <= cap and g in memo
            if memo.nbytes < before:  # evicted: the newer half stays
                evictions += 1
                assert memo.nbytes > cap // 3
        used = tracemalloc.get_traced_memory()[0] - base
    finally:
        tracemalloc.stop()
    assert memo.nbytes == sum(sys.getsizeof(g) for g in memo) \
        + _GRAM_ENTRY_OVERHEAD * len(memo)
    assert used <= cap
    assert evictions > 10
    assert text[:7].encode() not in memo


def test_winnow_matches_expression_form_under_memo_eviction(spark,
                                                            monkeypatch):
    import random
    import string

    from quad_processor_util_spark.functions import text as T

    # a 4 KiB budget holds ~30 grams: eviction runs inside every document
    monkeypatch.setattr(T, "_GRAM_MEMO_BYTES", 4096)
    rng = random.Random(11)
    rows = [(i, "".join(rng.choices(string.ascii_letters + " ", k=2_000)))
            for i in range(20)] + _WINNOW_TEXTS
    rows = [(100 + i, t) for i, (_, t) in enumerate(rows)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    kw = dict(text_col="text", id_col="doc_id", k=7, window=4,
              with_pos=True)
    key = lambda r: (r.doc_id, r.fp if r.fp is not None else -1,  # noqa: E731
                     r.pos if r.pos is not None else -1)
    fast = T._winnow_selected(df, **kw).collect()
    ref = _winnow_selected_expr(df, **kw).collect()
    assert sorted(map(key, fast)) == sorted(map(key, ref))


def word_shingles(col, n: int = 3):
    """The original pure-expression shingler: an array of distinct word
    n-gram shingles. The equivalence reference for
    operators.dedup.word_shingle_rows, whose mapInPandas form emits the same
    (id, shingle) rows without the interpreted transform."""
    from quad_processor_util_spark.functions.text import WS_RE

    toks = F.split(F.regexp_replace(F.lower(F.trim(col)), WS_RE, " "), " ")
    k = F.size(toks) - (n - 1)
    grams = F.when(
        k > 0,
        F.transform(
            F.sequence(F.lit(1), k),
            lambda i: F.concat_ws(" ", F.slice(toks, i, n)),
        ),
    ).otherwise(F.array(F.concat_ws(" ", toks)))
    return F.array_distinct(grams)


def test_word_shingle_rows_matches_expression_form(spark):
    from quad_processor_util_spark.operators.dedup import word_shingle_rows

    rows = [
        (1, None), (2, ""), (3, "   "), (4, "one"), (5, "two words"),
        (6, "a b c d e f"), (7, "a a a a a a"),         # dup shingles
        (8, "Mixed   CASE\ttokens  here and naïve ünïcödé words too"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    fast = word_shingle_rows(df, "text", "doc_id", 3).collect()
    ref = df.select(
        "doc_id", F.explode(word_shingles(F.col("text"), 3)).alias("__sh")
    ).collect()
    assert sorted((r["doc_id"], r["__sh"]) for r in fast) \
        == sorted((r["doc_id"], r["__sh"]) for r in ref)


def test_winnow_fast_path_rejects_oversized_docs(spark):
    from quad_processor_util_spark.functions.text import winnow_fingerprints

    # m = len - k + 1 must reach the 2^20 packing span (k = 7)
    big = spark.createDataFrame(
        [(1, "y" * ((1 << 20) + 6))], "doc_id long, text string")
    with pytest.raises(Exception, match="chunk it upstream"):
        winnow_fingerprints(big).collect()


def test_packing_rejects_pk_namespace_collision(spark):
    from quad_processor_util_spark.operators.packing import shuffle_rank

    df = spark.createDataFrame([(1, 5)], "doc_id long, _pk_key long")
    with pytest.raises(ValueError, match="_pk_"):
        shuffle_rank(df)


def test_decontaminate_rejects_min_hits_zero(spark):
    from quad_processor_util_spark.operators.dedup import decontaminate

    docs = spark.createDataFrame([(1, "a b c")], "doc_id long, text string")
    with pytest.raises(ValueError, match="min_hits"):
        decontaminate(docs, docs, min_hits=0)


def test_group_quota_rejects_internal_rank_collision(spark):
    from quad_processor_util_spark.operators.sampling import group_quota

    df = spark.createDataFrame(
        [(1, "g", 3)], "doc_id long, grp string, __gq_rank long")
    with pytest.raises(ValueError, match="__gq_rank"):
        group_quota(df, group_col="grp", quota=1)
