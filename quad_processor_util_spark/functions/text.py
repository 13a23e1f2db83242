"""Text-analysis functions for the training-data pipeline — pure Catalyst
expressions (JVM-side, whole-stage codegen) except the winnow core, which
since round 6 runs its per-document selection inside mapInPandas (C-md5 +
numpy window-min; normalization stays Catalyst — see _winnow_selected).

These extend the reference's string toolkit (utils/StringUtils.scala,
utils/WikiUtil.scala) with the operations a 100 TB document pipeline needs:
token counting, quality scoring, language-ID heuristics, fingerprinting.
"""

from __future__ import annotations

import sys

from pyspark.sql import Column
from pyspark.sql import functions as F

from ..session import worker_kernel

# Whitespace class shared by EVERY tokenizer/normalizer in the engine,
# written out explicitly because the three regex dialects in play disagree
# on \s: Java (Spark JVM expressions) adds \x0B, Python adds the full
# unicode isspace() set, and RE2 (the DuckDB oracles' \s) is exactly
# [\t\n\f\r ]. The explicit class == RE2's \s, so Spark and every DuckDB
# oracle tokenize identically even on \x0B-bearing text (round-5 review
# finding — the same dialect trap PY_WS_CLASS closes on the NT paths).
WS_RE = "[ \t\n\f\r]+"

# a BPE-ish token: word chars, or a single non-space symbol (same explicit
# whitespace class as WS_RE)
_TOKEN_RE = r"[A-Za-z0-9_]+|[^ \t\n\f\rA-Za-z0-9_]"


def token_count(col: Column) -> Column:
    """Whitespace token count (cheap, codegen'd)."""
    t = F.trim(col)
    return F.when(t == "", F.lit(0)).otherwise(
        F.size(F.split(t, WS_RE))
    )


def bpe_ish_token_count(col: Column) -> Column:
    """Regex-token count approximating a BPE pre-tokenizer."""
    return F.size(F.regexp_extract_all(col, F.lit(_TOKEN_RE), F.lit(0)))


def punct_ratio(col: Column) -> Column:
    """punctuation chars / total chars (quality signal)."""
    n = F.length(col)
    p = F.length(F.regexp_replace(col, r"[^.,;:!?'\"()\[\]{}-]", ""))
    return F.when(n > 0, F.round(p / n, 6)).otherwise(F.lit(0.0))


def stopword_ratio(col: Column, stopwords: tuple[str, ...] = (
    "the", "a", "an", "and", "or", "of", "to", "in", "is", "it",
)) -> Column:
    """share of tokens that are stopwords (English heuristic)."""
    toks = F.split(F.lower(F.trim(col)), WS_RE)
    hits = F.size(F.filter(toks, lambda t: t.isin(*stopwords)))
    n = F.size(toks)
    return F.when(n > 0, F.round(hits / n, 6)).otherwise(F.lit(0.0))


def quality_score(col: Column) -> Column:
    """Composite [0,1] quality: length band + low punct + some stopwords —
    a deterministic stand-in for a model-based scorer."""
    n = F.length(col)
    len_ok = F.when((n >= 50) & (n <= 5000), F.lit(0.5)).otherwise(F.lit(0.0))
    punct_ok = F.when(punct_ratio(col) < 0.1, F.lit(0.25)).otherwise(F.lit(0.0))
    stop_ok = F.when(stopword_ratio(col) > 0.05, F.lit(0.25)).otherwise(F.lit(0.0))
    return F.round(len_ok + punct_ok + stop_ok, 6)


def lang_id_heuristic(col: Column) -> Column:
    """Tiny n-gram/stopword language guess over {en, de, es, fr, other}.
    Deterministic, expression-only; a real pipeline would plug a model in
    via mapInPandas with the same column contract."""
    low = F.concat(F.lit(" "), F.lower(col), F.lit(" "))
    has = lambda *ws: sum(  # noqa: E731
        (F.when(low.contains(f" {w} "), 1).otherwise(0) for w in ws), F.lit(0)
    )
    en = has("the", "and", "of", "is")
    de = has("der", "die", "das", "und")
    es = has("el", "la", "los", "que")
    fr = has("le", "les", "des", "est")
    mx = F.greatest(en, de, es, fr)
    return (
        F.when(mx == 0, "other")
        .when(en == mx, "en")
        .when(de == mx, "de")
        .when(es == mx, "es")
        .otherwise("fr")
    )


def fingerprint(col: Column) -> Column:
    """Document fingerprint: md5 of the whitespace/case-normalized text
    (rolling-hash analog; md5 matches the reference's md5sum,
    utils/StringUtils.scala:261-269, and DuckDB's md5 for oracle checks)."""
    return F.md5(F.regexp_replace(F.lower(F.trim(col)), WS_RE, " "))


# ---------------------------------------------------------------------------
# winnowing fingerprints (rolling k-gram hash + min-in-window selection)
# ---------------------------------------------------------------------------

# key packing: (hash, rightmost-tie position) in one BIGINT so a plain
# window MIN implements "min hash, ties to the RIGHT" (robust winnowing,
# Schleimer et al. §3) — portable to any SQL engine
_WINNOW_POS_SPAN = 1 << 20  # docs are chunked upstream; 1M-char guard

# per-task k-gram hash memo budget, counted as each key object's size plus
# a fixed per-entry cost (the int value and its dict slot at 2/3 load)
_GRAM_MEMO_BYTES = 64 << 20
_GRAM_ENTRY_OVERHEAD = 80


class _GramMemo(dict):
    """key -> value memo bounded in bytes: each entry counts its key's size,
    a fixed per-entry cost, and ``value_bytes(value)`` when the value is
    larger than a small int. Past the cap the older half (dict insertion
    order) is evicted, so a high-entropy task keeps a fixed footprint and
    still hits on the keys it saw most recently."""

    __slots__ = ("cap", "nbytes", "value_bytes")

    def __init__(self, cap: int, value_bytes=None):
        super().__init__()
        self.cap = cap
        self.nbytes = 0
        self.value_bytes = value_bytes

    def _entry_bytes(self, key, value) -> int:
        n = sys.getsizeof(key) + _GRAM_ENTRY_OVERHEAD
        return n if self.value_bytes is None else n + self.value_bytes(value)

    def add(self, key, value) -> None:
        self[key] = value
        self.nbytes += self._entry_bytes(key, value)
        if self.nbytes > self.cap:
            kept = list(self.items())[len(self) // 2:]
            self.clear()
            self.update(kept)
            self.nbytes = sum(self._entry_bytes(k, v) for k, v in kept)


def _winnow_selected(df, text_col: str, id_col: str, k: int, window: int,
                     with_pos: bool):
    """Shared winnow core: normalize, hash k-grams, window-MIN the packed
    (hash, rightmost-tie) key. ONE definition — the fp-only and
    fp-with-position public views below cannot drift.

    Round-6 shape (guide §2.4 + §4.2): the old expression form exploded one
    row PER CHARACTER (a 15M-row Exchange + per-doc sort + window + distinct
    shuffle at sf1.0), all to compute a quantity that is per-document. The
    selection is now computed inside mapInPandas — normalization stays a
    Catalyst expression (identical lower/trim/regexp semantics), then C-md5
    (hashlib) + a numpy sliding-window min produce the identical packed-key
    math per row: ZERO shuffles, no exploded intermediate. Bit-equivalence
    with the expression form is pinned by tests/test_round6.py, which keeps
    that form as its reference."""
    from pyspark.sql import functions as F
    from pyspark.sql.types import LongType, StructField, StructType

    from ..operators.dedup import _ensure_parallelism

    norm = F.regexp_replace(F.lower(F.trim(F.col(text_col))), WS_RE, " ")
    src = _ensure_parallelism(
        df.select(F.col(id_col), F.col(text_col))
    ).select(F.col(id_col), norm.alias("__t"))
    fields = [src.schema[id_col], StructField("fp", LongType())]
    if with_pos:
        fields.append(StructField("pos", LongType()))
    out_schema = StructType(fields)
    span = _WINNOW_POS_SPAN
    memo_cap = _GRAM_MEMO_BYTES  # read on the driver; ships with _select

    def _select(batches):
        import hashlib

        import numpy as np
        import pandas as pd
        from numpy.lib.stride_tricks import sliding_window_view

        md5 = hashlib.md5
        base = span - 1
        # per-TASK k-gram -> hash memo (round 6): corpora repeat k-grams
        # heavily (boilerplate, templates, shared vocabulary), and the md5
        # + digest-slice + from_bytes per gram is ~4x the cost of a dict
        # hit. md5 itself is pinned by the frozen DuckDB oracle, so the
        # only lever is calling it once per DISTINCT gram. Bounded in bytes
        # on every insert (_GramMemo), so a high-entropy 100 TB task cannot
        # grow it without limit, even inside one large document.
        memo = _GramMemo(memo_cap)
        memo_get = memo.get
        memo_add = memo.add
        for pdf in batches:
            ids_out: list = []
            keys_chunks: list = []
            for i, t in zip(pdf[id_col], pdf["__t"]):
                if t is None:
                    # matches the expression form: a NULL text yields one
                    # (id, NULL[, NULL]) row (NULL hash all the way through)
                    ids_out.append((i, 0))
                    continue
                n = len(t)
                m = n - k + 1 if n >= k else 1
                if m >= span:
                    raise ValueError(
                        f"winnow_fingerprints: document exceeds {span - 1} "
                        f"normalized chars — chunk it upstream")
                b = t.encode()
                keys = np.empty(m, dtype=np.int64)
                if len(b) == n:  # ASCII fast path: byte == char offsets
                    for p in range(m):
                        g = b[p:p + k]
                        h = memo_get(g)
                        if h is None:
                            h = (int.from_bytes(
                                md5(g).digest()[:8], "big") >> 4) \
                                % 2147483647
                            memo_add(g, h)
                        keys[p] = h * span + (base - (p + 1))
                else:
                    for p in range(m):
                        g = t[p:p + k]
                        h = memo_get(g)
                        if h is None:
                            h = (int.from_bytes(
                                md5(g.encode()).digest()[:8],
                                "big") >> 4) % 2147483647
                            memo_add(g, h)
                        keys[p] = h * span + (base - (p + 1))
                if m >= window:
                    sel = sliding_window_view(keys, window).min(axis=1)
                else:
                    sel = keys.min(keepdims=True)
                if with_pos:
                    u = np.unique(sel)
                else:
                    u = np.unique(sel // span)
                ids_out.append((i, len(u)))
                keys_chunks.append(u)
            if not ids_out:
                continue
            all_u = (np.concatenate(keys_chunks)
                     if keys_chunks else np.empty(0, dtype=np.int64))
            # rows with c == 0 are the NULL-text rows: one output row each,
            # NULL fp (and pos)
            ids_arr = np.asarray([i for i, _ in ids_out])
            counts = np.asarray([c for _, c in ids_out], dtype=np.int64)
            rep = np.where(counts == 0, 1, counts)
            id_vals = np.repeat(ids_arr, rep)
            has_fp = np.repeat(counts > 0, rep)
            fp_col = np.full(len(id_vals), None, dtype=object)
            if with_pos:
                pos_col = np.full(len(id_vals), None, dtype=object)
                fp_col[has_fp] = all_u // span
                pos_col[has_fp] = base - (all_u % span)
                yield pd.DataFrame({
                    id_col: id_vals,
                    "fp": pd.array(fp_col, dtype="Int64"),
                    "pos": pd.array(pos_col, dtype="Int64"),
                })
            else:
                fp_col[has_fp] = all_u
                yield pd.DataFrame({
                    id_col: id_vals,
                    "fp": pd.array(fp_col, dtype="Int64"),
                })

    return src.mapInPandas(worker_kernel(_select), out_schema)


def winnow_fingerprints(df, text_col: str = "text", id_col: str = "doc_id",
                        k: int = 7, window: int = 4):
    """-> (id_col, fp): robust-winnowing fingerprint set per document —
    character k-gram hashes, one selected per sliding window of `window`
    consecutive grams (the min, ties to the rightmost), distinct.

    The classic guarantee: any shared substring of length >= k + window - 1
    between two documents yields at least one shared fingerprint, while
    storage is ~2/(window+1) of all grams. Dup candidates then come from an
    inverted-index join on fp (tiny vs full shingle sets).

    Normalization is a Catalyst expression; the per-document selection runs
    vectorized inside mapInPandas (C md5 + numpy window-min) with ZERO
    shuffles — bit-identical to the original expression form (pinned by
    tests/test_round6.py). The k-gram hash is the portable md5-prefix (same
    as the gate dedup variants), so DuckDB replays this exactly. For
    >1M-char documents chunk upstream (the pos packing reserves 20 bits)."""
    return _winnow_selected(df, text_col, id_col, k, window, with_pos=False)


def winnow_occurrences(df, text_col: str = "text", id_col: str = "doc_id",
                       k: int = 7, window: int = 4):
    """-> (id_col, fp, pos): :func:`winnow_fingerprints` WITH the 1-based
    position (in the NORMALIZED text — lowercased, trimmed, whitespace
    collapsed) of each selected k-gram, distinct per (doc, fp, pos). Same
    selection, same guarantees — the variant span-level consumers
    (``operators.spans``) need, where the fingerprint alone cannot point
    back into the document."""
    return _winnow_selected(df, text_col, id_col, k, window, with_pos=True)


# ---------------------------------------------------------------------------
# text cleaning / PII redaction (training-data hygiene family)
# ---------------------------------------------------------------------------

# Patterns restricted to syntax with IDENTICAL semantics in Java regex
# (Spark) and RE2 (DuckDB): no lookaround, ASCII \d, plain \b.
_HTML_TAG_RE = r"<[^>]+>"
_EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
# explicit whitespace class (WS_RE rationale): the oracle replays this
# pattern with RE2's \s, which this class equals exactly
_PHONE_RE = "\\+?\\d[\\d()\\- \t\n\f\r]{7,}\\d"
_IPV4_RE = r"\b(\d{1,3}\.){3}\d{1,3}\b"


def clean_text(col):
    """Training-data text hygiene, pure Catalyst: strip HTML tags, redact
    emails/phone-ish runs/IPv4s to typed tokens, collapse whitespace, trim.
    Patterns are Java/RE2-parity so the DuckDB gate replays the exact
    pipeline. Redaction tokens use <> only AFTER tag stripping, so they can
    never be re-stripped."""
    from pyspark.sql import functions as F

    c = F.regexp_replace(col, _HTML_TAG_RE, " ")
    c = F.regexp_replace(c, _EMAIL_RE, "<EMAIL>")
    c = F.regexp_replace(c, _PHONE_RE, "<PHONE>")
    c = F.regexp_replace(c, _IPV4_RE, "<IP>")
    return F.trim(F.regexp_replace(c, WS_RE, " "))


# ---------------------------------------------------------------------------
# Repetition metrics (the Gopher/MassiveText repetition-filter family):
# within-document duplicate-line and duplicate-n-gram fractions, and the
# character share of the single most frequent word 2-gram. All pure
# per-row Catalyst (sort_array + higher-order folds over index sequences) —
# ZERO shuffle, the map-only shape a 100 TB quality-filter pass needs.
# ---------------------------------------------------------------------------


def _words(col: Column) -> Column:
    return F.filter(F.split(col, WS_RE), lambda w: w != "")


def _word_ngrams_all(col: Column, n: int) -> Column:
    """Word n-grams WITH duplicates (repetition metrics need multiplicity;
    contrast operators.dedup.word_shingles, which dedups)."""
    toks = _words(col)
    k = F.size(toks) - (n - 1)
    return F.when(
        k > 0,
        F.transform(F.sequence(F.lit(1), k),
                    lambda i: F.concat_ws(" ", F.slice(toks, i, n))),
    ).otherwise(F.array().cast("array<string>"))


def dup_ngram_frac(col: Column, n: int = 5) -> Column:
    """1 - distinct/total over word n-gram occurrences (0 for <n words)."""
    g = _word_ngrams_all(col, n)
    return F.when(F.size(g) <= 0, F.lit(0.0)).otherwise(
        1.0 - F.size(F.array_distinct(g)) / F.size(g)
    )


def _nonempty_lines(col: Column) -> Column:
    return F.filter(F.split(col, "\n"), lambda x: F.trim(x) != "")


def dup_line_frac(col: Column) -> Column:
    """Fraction of non-empty lines that are repeats of an earlier line."""
    lines = _nonempty_lines(col)
    return F.when(F.size(lines) <= 0, F.lit(0.0)).otherwise(
        1.0 - F.size(F.array_distinct(lines)) / F.size(lines)
    )


def dup_line_char_frac(col: Column) -> Column:
    """Characters inside repeated lines (occurrences beyond the first) as a
    fraction of all non-empty-line characters. One value-fold over the
    SORTED lines carrying the previous element in the accumulator — never
    index back into the array: an `element_at(sorted_expr, i)` inside a
    lambda re-evaluates the whole sort per reference (measured: a 400s/500-
    doc blowup on the index-fold formulation of top_ngram_char_frac)."""
    lines = _nonempty_lines(col)
    srt = F.array_sort(lines)
    acc = F.aggregate(
        srt,
        F.struct(
            F.lit(None).cast("string").alias("prev"),
            F.lit(0).cast("long").alias("dup"),
        ),
        lambda a, x: F.struct(
            x.alias("prev"),
            (a.dup + F.when(x == a.prev, F.length(x)).otherwise(F.lit(0)))
            .alias("dup"),
        ),
    )
    total = F.aggregate(lines, F.lit(0).cast("long"),
                        lambda a, x: a + F.length(x))
    return F.when(F.size(lines) <= 1, F.lit(0.0)).otherwise(
        F.when(total <= 0, F.lit(0.0)).otherwise(acc.dup / total)
    )


def top_ngram_char_frac(col: Column, n: int = 2) -> Column:
    """Character share of the most frequent word n-gram: count(top) ×
    len(top) / len(text). Ties break to the lexically smallest gram (the
    sorted value-fold only replaces the champion on a STRICTLY longer run,
    so the first maximum wins — same as ORDER BY count DESC, gram ASC).
    0 when there are no n-grams or the text is empty. Single pass over the
    sorted grams with the previous element carried in the accumulator (see
    dup_line_char_frac for why indexing back would be quadratic)."""
    g = _word_ngrams_all(col, n)
    srt = F.array_sort(g)
    best = F.aggregate(
        srt,
        F.struct(
            F.lit(None).cast("string").alias("prev"),
            F.lit(0).cast("long").alias("run"),
            F.lit(0).cast("long").alias("best"),
            F.lit("").alias("bestg"),
        ),
        lambda a, x: F.struct(
            x.alias("prev"),
            F.when(x == a.prev, a.run + 1).otherwise(F.lit(1).cast("long"))
            .alias("run"),
            F.when(
                F.when(x == a.prev, a.run + 1).otherwise(F.lit(1)) > a.best,
                F.when(x == a.prev, a.run + 1).otherwise(F.lit(1)),
            ).otherwise(a.best).cast("long").alias("best"),
            F.when(
                F.when(x == a.prev, a.run + 1).otherwise(F.lit(1)) > a.best,
                x,
            ).otherwise(a.bestg).alias("bestg"),
        ),
    )
    return F.when(
        (F.size(g) <= 0) | (F.length(col) <= 0), F.lit(0.0)
    ).otherwise(best.best * F.length(best.bestg) / F.length(col))


# ---------------------------------------------------------------------------
# Token-window chunking — context-window prep for LLM training pipelines:
# split each document into ~max_tokens-token windows with fixed overlap.
# Closed-form chunk count (no trailing chunk fully contained in the prior
# one), pure Catalyst posexplode — the narrow map-side expansion shape.
# ---------------------------------------------------------------------------


def chunk_documents(df, text_col: str = "text", id_col: str = "doc_id",
                    max_tokens: int = 64, overlap: int = 16):
    """-> (id, chunk_idx, n_chunk_tokens, chunk_text) with chunk_text the
    space-joined token window (whitespace-normalized by construction —
    training prep, not byte-faithful splitting). Chunks start every
    (max_tokens - overlap) tokens; a document with <= max_tokens tokens
    yields exactly one chunk; zero tokens yields zero rows."""
    if overlap >= max_tokens:
        raise ValueError(f"overlap {overlap} must be < max_tokens {max_tokens}")
    from ..operators.dedup import _ensure_parallelism

    # a single-split scan would run the whole map-only expansion on one
    # core (guide §2.5 input skew; no-op on a wide scan — round 6);
    # project to the two consumed columns first so a wide table does not
    # shuffle unused columns (round-6 review finding)
    df = _ensure_parallelism(df.select(id_col, text_col))
    step = max_tokens - overlap
    toks = _words(F.col(text_col))
    n = F.size(toks)
    n_chunks = F.when(n <= 0, F.lit(0)).when(n <= max_tokens, F.lit(1)).otherwise(
        F.ceil((n - max_tokens) / F.lit(step)).cast("int") + 1
    )
    chunks = F.transform(
        F.sequence(F.lit(0), n_chunks - 1),
        lambda k: F.struct(
            k.alias("chunk_idx"),
            F.slice(toks, k * step + 1, max_tokens).alias("__w"),
        ),
    )
    out = (
        df.where(n > 0)
        .select(F.col(id_col), F.explode(chunks).alias("__c"))
        .select(
            id_col,
            F.col("__c.chunk_idx").alias("chunk_idx"),
            F.size("__c.__w").alias("n_chunk_tokens"),
            F.array_join("__c.__w", " ").alias("chunk_text"),
        )
    )
    return out
