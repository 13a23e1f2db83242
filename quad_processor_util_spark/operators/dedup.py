"""Deduplication family for the training-data pipeline — exact, MinHash-LSH,
SimHash, n-gram Jaccard, embedding-cosine. Joins, aggregates and set
arithmetic are Catalyst; the one Python boundary is word shingling
(``word_shingle_rows``, a mapInPandas over Arrow batches — one
``" ".join`` per gram, never a per-row UDF).

Scale notes (100 TB stance):
- exact: one shuffle on the 128-bit fingerprint; map-side partial agg.
- minhash: shingle rows -> ONE groupBy computing all K signatures
  (K aggs, map-side combine), band explode (B small) -> groupBy band bucket.
  Candidate verification is an equi-join on doc ids, never a cross join.
- minhash_dedup, dedup_clusters: one fused pass. Each document is scanned
  and shingled once; the signature groupBy also collects its shingle set,
  and exact Jaccard verification reads those sets. The trade: the shingle
  rows move through one shuffle, and the corpus is not re-read and
  re-tokenized for verification. Driver-sized pair sets resolve to
  clusters from one bounded collect.
- simhash: token explode -> one groupBy with 64 bit-sum aggs -> band join.
- jaccard: shingle-inverted-index self-join (prefix-filtered) — the only
  quadratic risk is within a shingle bucket; hot shingles are dropped by a
  document-frequency cap (stopword shingles contribute nothing to identity).
  One per-shingle frequency aggregate applies the cap and gives each
  shingle its rarest-first order and integer code; no stage runs as a
  single partition.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..functions.text import WS_RE, fingerprint
from ..session import job_description, worker_kernel
from . import cc

# Mersenne prime 2^31-1: keeps h*a + b < 2^62, inside int64 under ANSI mode
_MERSENNE = (1 << 31) - 1


def _base_hash(col, hash_kind: str) -> Column:
    """64-bit-ish deterministic hash of a string column.

    - ``xxhash64``: the JVM-native default (fastest, codegen'd).
    - ``md5``: first 15 hex chars of md5 as a 60-bit integer — bit-exact
      portable to DuckDB (``('0x' || substr(md5(x),1,15))::BIGINT``), used by
      the correctness-gate variants so the oracle can replay the exact
      signature pipeline.
    """
    if hash_kind == "xxhash64":
        return F.xxhash64(col)
    if hash_kind == "md5":
        return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("long")
    raise ValueError(f"unknown hash_kind: {hash_kind}")


# ---------------------------------------------------------------------------
# exact
# ---------------------------------------------------------------------------


def exact_dedup(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Keep the min-id representative of each normalized-text fingerprint
    (hash-groupBy; the LinkedHashSet dedup of DeduplicatingDestination.scala
    :10-24 made global)."""
    fp = fingerprint(F.col(text_col)).alias("__fp")
    keep = df.select(fp, F.col(id_col)).groupBy("__fp").agg(F.min(id_col).alias(id_col))
    return df.join(keep, id_col, "left_semi")


# ---------------------------------------------------------------------------
# shingling (shared by minhash + jaccard)
# ---------------------------------------------------------------------------


def _estimated_scan_partitions(df: DataFrame) -> int:
    """Estimate the scan's partition count from file metadata only — no RDD
    is built (df.rdd on a hot constructor materializes the lineage
    driver-side per call).

    Mirrors Spark's FilePartition. The split size is
    ``maxSplitBytes = min(maxPartitionBytes, max(openCostInBytes,
    Σ(size + openCostInBytes) / (filesMinPartitionNum or
    leafNodeDefaultParallelism)))``; files are cut into chunks of that
    size, sorted largest first and packed, each chunk costing its length
    plus openCostInBytes, into partitions of at most maxSplitBytes. So 150
    tiny files estimate as the handful of packed partitions Spark scans,
    not 150, and a few small files at a wide session estimate as one
    partition each. One deliberate difference: a file smaller than
    maxPartitionBytes counts as ONE chunk. Spark does cut it at
    maxSplitBytes, but a small parquet file is one row group and only the
    split holding its midpoint reads rows, so a single small file
    estimates as 1 and gets re-spread. A split size that is not positive
    (a negative openCostInBytes) makes Spark scan no split, and gives 0.
    Non-file sources (in-memory views, remote FS) return a floor of their
    file count (0 for views → treated as too-coarse; the repartition they
    then pay moves only the two projected columns)."""
    import os

    files = df.inputFiles()
    if not files:
        return 0
    # Spark parses and type-checks the size confs at set time; read the
    # parsed byte values
    session = df.sparkSession._jsparkSession
    sql_conf = session.sessionState().conf()
    mpb = sql_conf.filesMaxPartitionBytes()
    open_cost = sql_conf.filesOpenCostInBytes()
    min_parts = sql_conf.filesMinPartitionNum()
    min_parts = (min_parts.get() if min_parts.isDefined()
                 else session.leafNodeDefaultParallelism())
    sizes = []
    for p in files:
        local = p[len("file:"):] if p.startswith("file:") else p
        try:
            sizes.append(os.path.getsize(local))
        except OSError:
            return len(files)
    total = sum(sizes) + open_cost * len(sizes)
    # Scala's Long division truncates toward zero
    per_core = abs(total) // min_parts * (1 if total >= 0 else -1)
    split = min(mpb, max(open_cost, per_core))
    if split <= 0:
        return 0
    chunks = []
    for size in sizes:
        if size >= mpb:
            full, rest = divmod(size, split)
            chunks.extend([split] * full + ([rest] if rest else []))
        elif size:
            chunks.append(size)
    parts, current, filled = 0, 0, False
    for chunk in sorted(chunks, reverse=True):
        if filled and current + chunk > split:
            parts, current, filled = parts + 1, 0, False
        current += chunk + open_cost
        filled = True
    return parts + filled


def _ensure_parallelism(df: DataFrame) -> DataFrame:
    """Re-spread a too-coarse input across the session's shuffle width.

    Small/single-row-group parquet inputs scan as 1-2 partitions, which
    serializes the expensive explode+aggregate stages that follow (a 32-core
    box running a 36-agg shingle pipeline on one core). A 100 TB table scans
    as thousands of splits and this is a no-op; the repartition only ever
    moves the projected (id, text) columns.

    The estimate is file-metadata-only, so an input the caller already
    repartitioned wide from a few small files would look too-coarse and pay
    a second redundant shuffle (round-3 advice). Guard: if the analyzed plan
    contains an explicit Repartition/RepartitionByExpression IN ITS ROOT
    REGION — above the first width-changing operator — trust the caller's
    partitioning and skip the re-spread (a caller who coalesce(1)'d asked
    for narrowness on purpose; we honor that too). The scope matters: a
    repartition buried BELOW an aggregation/join no longer governs the
    frame's width (AQE may have coalesced the downstream exchange to a few
    partitions), so matching it anywhere in the plan would skip a re-spread
    the frame actually needs (round-4 advice). Plan-text scoping is used
    instead of df.rdd.getNumPartitions() deliberately: materializing the
    RDD under AQE compiles the physical plan and can execute upstream
    stages from a constructor."""
    target = int(df.sparkSession.conf.get("spark.sql.shuffle.partitions", "200"))
    if _estimated_scan_partitions(df) < max(2, target // 2):
        try:
            plan = df._jdf.queryExecution().analyzed().toString()
        except Exception:
            plan = ""
        # match Repartition as a plan NODE header (start of a tree line,
        # after the +-/:- connectors), not anywhere in the string — a
        # relation or column NAMED 'Repartition' must not disable the
        # guard (round-4 review finding) — and only in the root region:
        # scanning top-down, stop at the first operator that re-derives
        # the frame's partition count (aggregate, join, window, distinct,
        # global sort/limit) since anything under it no longer sets width.
        # Node-name matches accept end-of-line too: a bare `Distinct` line
        # has no trailing space/paren (round-5 review finding, live-plan
        # confirmed). Sort is width-changing ONLY when global — the
        # analyzed node prints `Sort [exprs], true` for a global sort and
        # `, false` for sortWithinPartitions, which PRESERVES the caller's
        # explicit repartition width (the repo's own stable_order pattern)
        # and must not end the root region (round-5 review finding).
        import re as _re

        _repart = _re.compile(r"^[\s+:\-]*Repartition(ByExpression)?([ (]|$)")
        _width = _re.compile(
            r"^[\s+:\-]*(?:(?:Aggregate|Join|Window|Deduplicate|Distinct"
            r"|GlobalLimit|Intersect|Except)(?:[ (]|$)"
            r"|Sort \[.*\], true)")
        for line in plan.splitlines():
            if _repart.match(line):
                return df
            if _width.match(line):
                break
        return df.repartition(target)
    return df


def word_shingle_rows(df: DataFrame, text_col: str = "text",
                      id_col: str = "doc_id", n: int = 3) -> DataFrame:
    """(id_col, __sh) rows: each document's distinct word n-grams of its
    lower-cased, whitespace-normalized tokens (all its tokens as one
    shingle when it has fewer than n; NULL text gives "").

    Round 6: the expression form builds each shingle with an interpreted
    ``transform(concat_ws(slice(...)))`` — measured ~2.5 s of the minhash
    signature pass at sf1.0 all by itself (guide §4.2). Here tokenization
    (lower/trim/split — the locale-sensitive part) stays a Catalyst
    expression, and only the locale-FREE slice-join (one C-speed
    ``" ".join`` per gram) plus the per-doc dedup run in mapInPandas.
    tests/test_round6.py keeps the expression form as the reference. Rows
    are already distinct per (id, shingle), so callers can drop their
    global ``.distinct()`` when the id is part of the key."""
    from pyspark.sql.types import StringType, StructField, StructType

    if n < 1:
        raise ValueError(f"shingle n must be >= 1 (got {n})")
    norm = F.regexp_replace(F.lower(F.trim(F.col(text_col))), WS_RE, " ")
    src = _ensure_parallelism(df.select(id_col, text_col)).select(
        F.col(id_col), F.split(norm, " ").alias("__toks"))
    out_schema = StructType([src.schema[id_col],
                             StructField("__sh", StringType())])

    def _shingle(batches):
        import numpy as np
        import pandas as pd

        for pdf in batches:
            ids_out: list = []
            counts: list = []
            grams_out: list = []
            for i, toks in zip(pdf[id_col], pdf["__toks"]):
                # NULL text: split(NULL) is NULL and concat_ws over it
                # yields "" — one empty shingle, same as empty text
                t = list(toks) if toks is not None else []
                k = len(t) - (n - 1)
                if k > 0:
                    # dict preserves first-occurrence order == array_distinct
                    grams = list(dict.fromkeys(
                        " ".join(t[j:j + n]) for j in range(k)))
                else:
                    grams = [" ".join(t)]
                ids_out.append(i)
                counts.append(len(grams))
                grams_out.extend(grams)
            if not ids_out:
                continue
            yield pd.DataFrame({
                id_col: np.repeat(np.asarray(ids_out), counts),
                "__sh": grams_out,
            })

    return src.mapInPandas(worker_kernel(_shingle), out_schema)


# ---------------------------------------------------------------------------
# MinHash + LSH banding
# ---------------------------------------------------------------------------


def _perm_coeffs(num_hashes: int, seed: int) -> list[tuple[int, int]]:
    """Deterministic (a, b) pairs for h_i(x) = (a*x + b) mod p — seeded,
    no runtime randomness."""
    import random

    rnd = random.Random(seed)
    return [(rnd.randrange(1, _MERSENNE), rnd.randrange(0, _MERSENNE))
            for _ in range(num_hashes)]


def _signatures_and_sets(rows: DataFrame, id_col: str, num_hashes: int,
                         seed: int, hash_kind: str) -> DataFrame:
    """(id_col, __sh) rows of :func:`word_shingle_rows` -> (id_col,
    mh_0..mh_{K-1}, __set): the K MinHash signatures and the document's
    shingle set from ONE groupBy. The rows are distinct per document, so
    ``collect_list`` is the document's shingle set. A consumer that drops
    ``__set`` gets a plain min-aggregate back: column pruning removes the
    ``collect_list``."""
    if num_hashes < 1:
        raise ValueError(f"num_hashes must be >= 1 (got {num_hashes})")
    coeffs = _perm_coeffs(num_hashes, seed)
    # materialize the base hash ONCE per shingle row — the K permutations
    # are affine transforms of it (inlining h into each agg would make
    # codegen evaluate the base hash K times per row)
    sh = rows.select(
        id_col, "__sh",
        F.pmod(_base_hash(F.col("__sh"), hash_kind), F.lit(_MERSENNE)).alias("__h"),
    )
    # one aliased SQL string per aggregate, as in simhash_signatures: a
    # Column builder (F.min, .alias) is a py4j round trip per call, and
    # there are K + 1 aggregates per construction
    aggs = [
        F.expr(f"min(pmod(__h * {a}L + {b}L, {_MERSENNE}L)) AS mh_{i}")
        for i, (a, b) in enumerate(coeffs)
    ]
    return sh.groupBy(id_col).agg(*aggs, F.expr("collect_list(__sh) AS __set"))


def minhash_signatures(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 32,
    shingle_n: int = 3,
    seed: int = 42,
    hash_kind: str = "xxhash64",
) -> DataFrame:
    """-> (id_col, mh_0..mh_{K-1}): one explode + ONE groupBy with K min-aggs
    (map-side combine makes this a single shuffle of K longs per doc)."""
    # shingle rows come from the mapInPandas fast path (word_shingle_rows,
    # round 6)
    rows = word_shingle_rows(df, text_col, id_col, shingle_n)
    return _signatures_and_sets(rows, id_col, num_hashes, seed,
                                hash_kind).drop("__set")


def _check_bands(what: str, width: int, bands: int) -> None:
    """Raise unless `bands` >= 1 splits the `width` hashes (or bits) evenly:
    a remainder would be silently ignored, changing the LSH S-curve."""
    if bands < 1:
        raise ValueError(f"{what}: bands must be >= 1 (got {bands})")
    if width % bands:
        raise ValueError(f"{what}: {width} not divisible by bands={bands}; "
                         f"the last {width % bands} would be ignored")


def _check_jaccard(what: str, threshold: float,
                   max_shingle_df: int = 1) -> None:
    """Raise unless 0 < threshold <= 1 and max_shingle_df >= 1: a threshold
    of 0 or below pairs every candidate, one above 1 none, and a cap below 1
    drops every shingle — each a mistake that would otherwise surface only
    after the jobs have run."""
    if not 0 < threshold <= 1:
        raise ValueError(f"{what}: threshold must be in (0, 1] "
                         f"(got {threshold})")
    if max_shingle_df < 1:
        raise ValueError(f"{what}: max_shingle_df must be >= 1 "
                         f"(got {max_shingle_df})")


def minhash_lsh_candidates(
    sigs: DataFrame,
    id_col: str = "doc_id",
    bands: int = 8,
    bucket_kind: str = "xxhash64",
) -> DataFrame:
    """Band the signature into `bands` buckets; docs sharing any band bucket
    are candidates. -> (id_a, id_b) with id_a < id_b, distinct.

    bucket_kind='xxhash64' hashes each band to a long (compact shuffle key,
    the default); 'concat' joins the band values with '_' into a string —
    identical grouping semantics, replayable in portable SQL (the gate
    oracle)."""
    mh_cols = [c for c in sigs.columns if c.startswith("mh_")]
    _check_bands("minhash_lsh_candidates", len(mh_cols), bands)
    if bucket_kind not in ("xxhash64", "concat"):
        raise ValueError(f"unknown bucket_kind: {bucket_kind}")
    rows_per_band = len(mh_cols) // bands

    def _bucket(b: int) -> str:
        cols = mh_cols[b * rows_per_band:(b + 1) * rows_per_band]
        if bucket_kind == "xxhash64":
            return f"xxhash64({', '.join(cols)})"
        return "concat_ws('_', {})".format(
            ", ".join(f"cast({c} as string)" for c in cols))

    # the B (band, bucket) rows as ONE SQL string: built from Column
    # builders, every F.col/F.lit/.alias/.cast is its own py4j round trip
    bands_sql = ", ".join(
        f"named_struct('band', {b}, 'bucket', {_bucket(b)})"
        for b in range(bands))
    banded = sigs.selectExpr(id_col, f"inline(array({bands_sql}))")
    a = banded.alias("a")
    b = banded.alias("b")
    return (
        a.join(b, ["band", "bucket"])
        .where(f"a.{id_col} < b.{id_col}")
        .selectExpr(f"a.{id_col} AS id_a", f"b.{id_col} AS id_b")
        .distinct()
    )


def minhash_dedup(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 36,
    bands: int = 6,
    shingle_n: int = 3,
    threshold: float = 0.7,
    seed: int = 42,
    hash_kind: str = "xxhash64",
    bucket_kind: str = "xxhash64",
) -> DataFrame:
    """Full near-dup pipeline: signatures -> signature-group collapse ->
    banded candidates among representatives -> exact Jaccard verification on
    candidates only -> drop pair losers. Returns the deduplicated df; ids
    are unique keys.

    The signature-group collapse (docs with ALL K minhashes equal -> min-id
    representative) is the skew guard: duplicate-heavy corpora otherwise put
    whole dup-clusters into single LSH buckets, making the candidate
    self-join quadratic in cluster size. K identical minhashes ⇒ Jaccard ≈ 1
    whp, so collapsing first preserves the semantics and bounds every bucket
    by the number of DISTINCT near-dup classes. The collapse keeps each
    representative's shingle set from the signature groupBy, which
    verification reads. The trade, as in dedup_clusters: the shingle rows
    shuffle once on the id (not as map-side-combined signatures) and the
    representatives' checkpoint holds their sets; in return the corpus is
    not re-read, semi-joined and re-tokenized for verification."""
    # checked before the representatives' checkpoint runs any job
    _check_bands("minhash_dedup", num_hashes, bands)
    _check_jaccard("minhash_dedup", threshold)
    rows = word_shingle_rows(df, text_col, id_col, shingle_n).repartition(id_col)
    sigs = _signatures_and_sets(rows, id_col, num_hashes, seed, hash_kind)
    mh_cols = [c for c in sigs.columns if c.startswith("mh_")]
    # reps is consumed three times (banding, verification, survivor
    # collapse); localCheckpoint cuts the lineage so the whole
    # shingle->signature subtree runs ONCE instead of once per consumer.
    # Under AQE it runs the signature and group shuffles when called;
    # eager=False defers only the final aggregate to first use
    reps = (
        sigs.groupBy(*mh_cols)
        .agg(F.min(id_col).alias(id_col),
             F.min_by("__set", id_col).alias("__set"))
        .localCheckpoint(eager=False)
    )
    cands = minhash_lsh_candidates(reps.drop("__set"), id_col, bands, bucket_kind)
    verified = _verify_pairs(cands, reps.select(id_col, "__set"), id_col, threshold)
    survivors = collapse_duplicate_pairs(reps.select(id_col), verified, id_col)
    return df.join(survivors, id_col, "left_semi")


# ---------------------------------------------------------------------------
# n-gram Jaccard (exact, inverted-index join)
# ---------------------------------------------------------------------------


def ngram_jaccard_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_n: int = 3,
    threshold: float = 0.8,
    max_shingle_df: int = 1000,
) -> DataFrame:
    """Exact all-pairs Jaccard >= threshold via shingle inverted index.
    Shingles appearing in > max_shingle_df docs are dropped (df-cap — the
    skew guard). -> (id_a, id_b, jaccard).

    Shingles are ranked per doc in global rarest-first order and only each
    doc's PREFIX — its first |A| - ceil(t·|A|) + 1 shingles — enters the
    inverted-index self-join (PPJoin-style prefix filtering: two sets with
    Jaccard ≥ t must share at least one prefix element under any common
    total order, since missing the whole prefix bounds the overlap below
    t·max(|A|,|B|)). Survivor pairs get an exact verify on the full
    (capped) shingle sets. Identical output to the naive quadratic join —
    only the candidate space shrinks (tests/test_round2.py keeps the naive
    join as the reference)."""
    _check_jaccard("ngram_jaccard_pairs", threshold, max_shingle_df)
    # The shingle relation feeds two consumers (the vocabulary aggregate
    # and the coded join), so a localCheckpoint materializes it ONCE: at
    # sf1.0 the subtree was otherwise planned 8× with no exchange reuse
    # and the recompute lost by ~4× (OPTIMIZATION_r06.md). Like every
    # checkpoint below it takes eager=False, which is not lazy: under AQE
    # it runs the shuffle stages beneath it when called and defers only
    # its final stage to first use. word_shingle_rows already emits
    # per-doc-distinct rows, so no global .distinct() is needed.
    sh = word_shingle_rows(df, text_col, id_col, shingle_n) \
        .localCheckpoint(eager=False)
    # ONE vocabulary aggregate carries the df-cap, the rarest-first order
    # and an integer key. (__freq, __code) is a total order shared by every
    # document and still rarest-first, which is all the PPJoin bounds below
    # need; monotonically_increasing_id is unique across partitions, so the
    # code is injective and verification runs on integer sets, never on
    # shingle strings. No rank over the whole vocabulary (a single-partition
    # Window) is needed. Both join sides are hash-partitioned on __sh, so a
    # shingle's code and every row that carries it come from one task, and
    # the inner join drops the hot shingles in the same step (dropping them
    # leaves the other shingles' frequencies as they are). Codes differ
    # between runs; the pairs and their Jaccard values do not.
    codes = (
        sh.groupBy("__sh").agg(F.count(F.lit(1)).alias("__freq"))
        .where(F.col("__freq") <= max_shingle_df)
        .withColumn("__code", F.monotonically_increasing_id())
    )
    shc = (
        sh.join(codes, "__sh")
        .select(id_col, "__code", "__freq")
        .localCheckpoint(eager=False)
    )
    # __pos and __sz from ONE window pass (count over the same
    # id-partition rides the row_number exchange) — the separate
    # sizes aggregate + join-back was a whole extra pass over the
    # shingle relation (round 6)
    wdoc = Window.partitionBy(id_col)
    ranked = shc.select(
        id_col, "__code",
        F.row_number().over(wdoc.orderBy("__freq", "__code")).alias("__pos"),
        F.count(F.lit(1)).over(wdoc).alias("__sz"),
    )
    # epsilon guards the ceil against upward float error at integer
    # boundaries (a too-short prefix loses pairs; too long only costs).
    # Round 6: k=2 extended prefix (PPJoin k-prefix lemma) — one extra
    # indexed position per doc (+~4% join rows) buys the right to
    # demand TWO shared prefix codes downstream: for any pair with
    # J >= t (so |A∩B| = α >= ceil(t·|A|) under the size-ratio
    # filter), the two FIRST shared codes e1 < e2 (in the global
    # (__freq, __code) order) each have >= α-j
    # intersection elements after them, hence pos(e_j) <= |X| - α + j
    # <= |X| - ceil(t·|X|) + 2 in both docs — both land in both
    # extended prefixes. Requiring cnt >= 2 then kills the dominant
    # junk class (pairs sharing exactly one rare code), which at
    # sf1.0 was 16.3M of 16.3M candidates for 2.8k true pairs.
    prefix = ranked.where(
        F.col("__pos")
        <= F.col("__sz")
        - F.ceil(F.lit(threshold) * F.col("__sz") - F.lit(1e-9)) + 2
    ).select(id_col, "__code", "__pos", "__sz").localCheckpoint(eager=False)
    a, b = prefix.alias("a"), prefix.alias("b")
    # exact candidate pruning, both bounds sound (no false negatives):
    # - size bound: J(A,B) <= min/max, so J >= t forces
    #   min(|A|,|B|) >= t*max(|A|,|B|);
    # - positional bound: if |A∩B| >= minov, the FIRST shared element
    #   (in the global order) sits at pos_X <= |X| - |A∩B| + 1 in both docs,
    #   and it IS a prefix element of both, so that occurrence passes
    #   1 + min(|A|-posA, |B|-posB) >= |A∩B| >= minov.
    # epsilons relax the float comparisons downward only (a relaxed
    # bound admits extra candidates, never drops a true pair).
    minov = (F.lit(threshold / (1.0 + threshold))
             * (F.col("a.__sz") + F.col("b.__sz")) - F.lit(1e-9))
    # Round 6: the old `.distinct()` kept every pair sharing ONE
    # surviving prefix code — at sf1.0 that was 16.3M candidates of
    # which 2.8k verified, and the sets join + array_intersect over
    # the junk was 12 of 27 s. The distinct becomes a groupBy (same
    # exchange, map-side combined) accumulating the PPJoin LAST-match
    # bound: cnt shared prefix codes + positions of the LAST shared
    # one. Soundness (no false negatives): with per-doc positions
    # monotone in the global order, every intersection element
    # <= the last shared prefix code l is itself in BOTH prefixes
    # (pos <= pos(l) <= prefix length) and hence counted in cnt;
    # elements > l occupy distinct positions after pos(l) in both
    # docs, at most min(|A|-lpa, |B|-lpb) of them. So
    # |A∩B| <= cnt + min(|A|-lpa, |B|-lpb); require >= minov.
    # The per-row first-match filter stays (it prunes rows BEFORE the
    # exchange) and cannot unsoundly shrink the aggregate: a dropped
    # row's bound is monotone decreasing in position, so dropped
    # codes all sit after the kept maximum in both docs and land in
    # the suffix-capacity term. Verified output-identical by the
    # oracle gate and tests.
    minov_g = (F.lit(threshold / (1.0 + threshold))
               * (F.col("__sza") + F.col("__szb")) - F.lit(1e-9))
    cands = (
        a.join(b, "__code")
        .where(
            (F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
            & (F.least("a.__sz", "b.__sz")
               >= F.lit(threshold) * F.greatest("a.__sz", "b.__sz")
               - F.lit(1e-9))
            # first-occurrence positional bound, RELAXED by k-1=1 so
            # both k-prefix witness rows survive pre-aggregation: the
            # j-th smallest shared code has >= α-j intersection
            # elements after it, so its row bound is >= minov-1, not
            # minov (j=2). Relaxing only admits extra rows — the
            # aggregate filters below stay sound.
            & (F.lit(2) + F.least(F.col("a.__sz") - F.col("a.__pos"),
                                  F.col("b.__sz") - F.col("b.__pos"))
               >= minov)
        )
        .groupBy(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
            F.col("a.__sz").alias("__sza"),
            F.col("b.__sz").alias("__szb"),
        )
        .agg(
            F.count(F.lit(1)).alias("__cnt"),
            F.max("a.__pos").alias("__lpa"),
            F.max("b.__pos").alias("__lpb"),
        )
        .where(
            # (1) k-prefix count: >= 2 shared prefix codes (>= 1 when
            #     the pair's minimum overlap itself is < 2 — tiny docs)
            (F.col("__cnt")
             >= F.least(F.lit(2), F.ceil(minov_g)))
            # (2) last-position bound: every shared code <= the last
            #     counted one IS counted (positions are monotone in
            #     the global order, so it sits inside both prefixes and its
            #     row passes the relaxed row filter); codes beyond it
            #     fit in the shorter remaining suffix
            & (F.col("__cnt")
               + F.least(F.col("__sza") - F.col("__lpa"),
                         F.col("__szb") - F.col("__lpb"))
               >= minov_g)
        )
        .select("id_a", "id_b")
    )
    sets_df = shc.groupBy(id_col).agg(
        F.collect_list("__code").alias("__set"))
    return _verify_pairs(cands, sets_df, id_col, threshold)


def ngram_jaccard_pairs_from_candidates(
    df: DataFrame,
    candidates: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_n: int = 3,
    threshold: float = 0.7,
) -> DataFrame:
    """Exact Jaccard restricted to candidate (id_a, id_b) pairs — the verify
    step after LSH blocking for a caller without shingle sets (minhash_dedup
    and dedup_clusters read theirs from the signature pass). Only docs in
    some candidate pair are shingled, and only once: the sets relation is
    under a localCheckpoint, which under AQE runs its shuffle stages when
    it is called."""
    _check_jaccard("ngram_jaccard_pairs_from_candidates", threshold)
    cand_ids = (
        candidates.select(F.col("id_a").alias(id_col))
        .union(candidates.select(F.col("id_b").alias(id_col)))
        .distinct()
    )
    sets_df = (
        word_shingle_rows(df.join(cand_ids, id_col, "left_semi"), text_col,
                          id_col, shingle_n)
        .groupBy(id_col).agg(F.expr("collect_list(__sh) AS __set"))
        .localCheckpoint(eager=False)
    )
    return _verify_pairs(candidates, sets_df, id_col, threshold)


def _verify_pairs(candidates: DataFrame, sets_df: DataFrame, id_col: str,
                  threshold: float) -> DataFrame:
    """Candidate (id_a, id_b) pairs -> (id_a, id_b, jaccard) with jaccard
    >= threshold, from each document's shingle set in (id_col, __set).
    The sets hold distinct elements, so |A∪B| = |A| + |B| − |A∩B| and one
    array_intersect gives the jaccard."""
    def side(s):
        return sets_df.selectExpr(f"{id_col} AS id_{s}", f"__set AS __s{s}")

    return (
        candidates.join(side("a"), "id_a").join(side("b"), "id_b")
        .selectExpr("id_a", "id_b", "size(__sa) AS __na", "size(__sb) AS __nb",
                    "size(array_intersect(__sa, __sb)) AS __i")
        .selectExpr("id_a", "id_b", "__i / (__na + __nb - __i) AS jaccard")
        .where(F.col("jaccard") >= threshold)
    )


def collapse_duplicate_pairs(df: DataFrame, pairs: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Drop the higher id of every duplicate pair (transitively: anything
    that is the b-side of any surviving pair goes; the min-id representative
    of each dup cluster survives because it is never anyone's id_b with a
    smaller partner)."""
    losers = pairs.select(F.col("id_b").alias(id_col)).distinct()
    return df.join(losers, id_col, "left_anti")


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------


def simhash_signatures(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id",
    bits: int = 64, hash_kind: str = "xxhash64",
) -> DataFrame:
    """SimHash: token explode -> one groupBy with `bits` signed bit sums ->
    sign bits packed back into a long. -> (id_col, simhash).

    hash_kind='md5' (use with bits<=60) is the DuckDB-replayable gate
    variant — 60 usable hash bits, packed value always fits a positive
    BIGINT on both engines."""
    if hash_kind == "md5" and bits > 60:
        raise ValueError("md5 hash_kind provides 60 bits")
    src = _ensure_parallelism(df.select(id_col, text_col))
    # materialize the base hash ONCE per token row — inlining it into each
    # of the `bits` aggs would make codegen evaluate it `bits`× per row
    # (same rationale as minhash_signatures)
    toks = src.select(
        F.col(id_col),
        F.explode(
            F.split(F.regexp_replace(F.lower(F.trim(F.col(text_col))), WS_RE, " "), " ")
        ).alias("__t"),
    ).select(id_col, _base_hash(F.col("__t"), hash_kind).alias("__h"))
    # SQL expr strings, not Column-builder chains (round 6): the 64
    # per-bit aggs plus the 64-term packing chain cost ~450 py4j
    # roundtrips — 1.7 s of DRIVER time per construction, on a query whose
    # executors finish in well under that. One expr string per agg and ONE
    # for the packed sum are semantically identical (same shiftright/&/
    # case-when plan) and construct in ~0.1 s.
    aggs = [
        F.expr(
            f"sum(case when (shiftright(__h, {i}) & 1) = 1 "
            f"then 1 else -1 end)").alias(f"b{i}")
        for i in range(bits)
    ]
    sums = toks.groupBy(id_col).agg(*aggs)
    terms = []
    for i in range(bits):
        if i < 63:
            terms.append(
                f"(case when b{i} > 0 then cast({1 << i} as bigint) "
                f"else cast(0 as bigint) end)")
        else:
            terms.append(
                f"(case when b{i} > 0 then cast({-(1 << 63)} as bigint) "
                f"else cast(0 as bigint) end)")
    packed = F.expr(" + ".join(terms))
    return sums.select(F.col(id_col), packed.alias("simhash"))


def simhash_candidates(
    sigs: DataFrame, id_col: str = "doc_id", bands: int = 4, max_hamming: int = 3
) -> DataFrame:
    """Near-dup candidates: split the 64-bit signature into `bands` chunks;
    pairs agreeing on any chunk are candidates (catches hamming <= bands-1
    guaranteed), then filter exact hamming via bit_count(xor)."""
    _check_bands("simhash_candidates", 64, bands)
    width = 64 // bands
    mask = (1 << width) - 1
    chunks = F.array(*[
        F.struct(
            F.lit(b).alias("band"),
            F.shiftrightunsigned(F.col("simhash"), b * width).bitwiseAND(F.lit(mask)).alias("bucket"),
        )
        for b in range(bands)
    ])
    banded = sigs.select(F.col(id_col), F.col("simhash"), F.explode(chunks).alias("c")).select(
        id_col, "simhash", F.col("c.band").alias("band"), F.col("c.bucket").alias("bucket")
    )
    a, b = banded.alias("a"), banded.alias("b")
    pairs = (
        a.join(b, ["band", "bucket"])
        .where(F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
        .select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
            F.bit_count(F.col("a.simhash").bitwiseXOR(F.col("b.simhash"))).alias("hamming"),
        )
        .where(F.col("hamming") <= max_hamming)
        .distinct()
    )
    return pairs


def dedup_clusters(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 36,
    bands: int = 6,
    shingle_n: int = 3,
    threshold: float = 0.7,
    seed: int = 42,
    hash_kind: str = "xxhash64",
    bucket_kind: str = "xxhash64",
) -> DataFrame:
    """-> (id_col, cluster_id): every document labeled with its near-dup
    CLUSTER (min doc id of its connected component over verified pairs).

    Transitive-closure semantics — a chain a~b~c clusters {a,b,c} even when
    (a,c) was never a verified pair — the form large dedup pipelines keep
    (one representative per cluster, or cluster-weighted sampling), stronger
    than minhash_dedup's pair-loser drop. Documents in no pair are their
    own cluster; ids are unique integer keys.

    One pass over the corpus: each document is scanned and tokenized once,
    and the signature groupBy that builds the K MinHashes also collects its
    shingle set, which exact-Jaccard verification of the LSH candidates
    reads. The trade: the shingle rows themselves move through one shuffle,
    hash-partitioned on the id (minhash_signatures alone shuffles only
    map-side-combined signatures), and in return the corpus is not
    re-read, semi-joined and re-tokenized for verification. Components
    come from _clusters_from_pairs. At 100 TB, run the signature-group
    collapse (see minhash_dedup) before banding and expand cluster ids
    back through the groups; the gate variant skips the collapse so the
    SQL oracle replays 1:1."""
    _check_jaccard("dedup_clusters", threshold)
    # banding reads the signatures and verification the sets, so column
    # pruning splits the one groupBy into two aggregates; hash-partitioning
    # the shingle rows on the id lets both run over ONE reused exchange,
    # so the corpus is scanned and tokenized once
    rows = word_shingle_rows(df, text_col, id_col, shingle_n).repartition(id_col)
    sigs = _signatures_and_sets(rows, id_col, num_hashes, seed, hash_kind)
    cands = minhash_lsh_candidates(sigs.drop("__set"), id_col, bands,
                                   bucket_kind)
    pairs = _verify_pairs(cands, sigs.select(id_col, "__set"), id_col,
                          threshold)
    return _clusters_from_pairs(df, pairs, id_col)


def _clusters_from_pairs(df: DataFrame, pairs: DataFrame,
                         id_col: str) -> DataFrame:
    """(id_a, id_b) verified near-dup pairs -> (id_col, cluster_id) for
    EVERY row of df (transitive closure; cluster_id = component-min id;
    pairless docs are their own cluster). Shared by the text
    (dedup_clusters) and embedding (embedding_dedup_clusters) paths; its
    jobs are described as "dedup_clusters: pairs" and
    "dedup_clusters: components".

    The pairs are materialized once (an eager localCheckpoint), then
    cc.connected_components resolves them over the ids' own type: a pair
    set within cc.DRIVER_EDGES comes back as a local relation, which the
    final join broadcasts; a larger one runs the distributed loop."""
    spark = df.sparkSession
    # localCheckpoint, not persist: the per-call RDD is reaped by
    # ContextCleaner and no CacheManager entry outlives the call
    with job_description(spark, "dedup_clusters: pairs"):
        pairs = pairs.select("id_a", "id_b").localCheckpoint(eager=True)
    with job_description(spark, "dedup_clusters: components"):
        comp = cc.connected_components(pairs, "id_a", "id_b")
    if comp.isLocal():
        comp = F.broadcast(comp)
    return (
        df.select(id_col)
        .join(comp.select(F.col("node").alias(id_col),
                          F.col("canonical").cast("long").alias("cluster_id")),
              id_col, "left")
        .select(id_col,
                F.coalesce("cluster_id", F.col(id_col)).alias("cluster_id"))
    )


def embedding_dedup_clusters(
    df: DataFrame,
    dim: int,
    threshold: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    planes: int = 6,
    tables: int = 6,
    seed: int = 42,
) -> DataFrame:
    """-> (id_col, cluster_id): every vector labeled with its embedding
    near-dup CLUSTER — the semantic-dedup counterpart of the textual
    dedup_clusters (pairs from hyperplane-bucketed cosine, components from
    the same _clusters_from_pairs). Completes the dedup matrix:
    {text, embedding} × {pair drop, transitive cluster}. Cost profile =
    embedding_cosine_dedup_pairs (bucketed self-join, never all-pairs) +
    one CC over the verified pairs (tiny vs the corpus)."""
    from .similarity import embedding_cosine_dedup_pairs

    pairs = embedding_cosine_dedup_pairs(df, dim, threshold, id_col,
                                         vec_col, planes, tables, seed)
    return _clusters_from_pairs(df, pairs, id_col)


def decontaminate(
    docs: DataFrame,
    benchmark: DataFrame,
    k: int = 7,
    window: int = 4,
    min_hits: int = 1,
    id_col: str = "doc_id",
    text_col: str = "text",
    bench_id_col: str = "doc_id",
    bench_text_col: str = "text",
) -> DataFrame:
    """Test-set decontamination: flag corpus documents that share winnowing
    fingerprints with a benchmark/eval set (the Dolma/RefinedWeb-style
    "remove eval overlap before training" pass; GPT-3 App. C n-gram
    decontamination is the ancestor). Winnowing's guarantee does the work:
    any shared substring of length >= k + window - 1 normalized chars
    between a corpus doc and a benchmark doc yields at least one shared
    fingerprint (functions.text.winnow_fingerprints), so substring-level
    contamination cannot slip through the sampling.

    -> (id_col, hits BIGINT, contaminated BOOLEAN), one row per corpus doc;
    `hits` = distinct benchmark fingerprints the doc shares.

    100 TB stance: the corpus side is one winnowing pass (pure Catalyst,
    ~2/(window+1) of gram volume survives) + one equi-join on fp; eval
    sets are small by nature, so the benchmark fingerprint set is
    DISTINCT'd and broadcast — no shuffle of the corpus beyond the final
    per-doc count, which groups on the already-partitioned id."""
    from ..functions.text import winnow_fingerprints

    if min_hits < 1:
        # min_hits=0 (or negative) would mark EVERY document contaminated,
        # zero-hit docs included — a silent foot-gun (round-5 advice)
        raise ValueError(
            f"decontaminate: min_hits must be >= 1 (got {min_hits})")
    corpus_fp = winnow_fingerprints(docs, text_col, id_col, k, window)
    bench_fp = (
        winnow_fingerprints(benchmark, bench_text_col, bench_id_col, k,
                            window)
        .select("fp").distinct()
    )
    # `hits` is the count of DISTINCT shared fingerprints, but the distinct
    # aggregate is free: winnow_fingerprints ends with .distinct() on
    # (id_col, fp) and bench_fp is distinct on fp, so post-join rows are
    # already unique per (doc, fp) — a plain count avoids the two-phase
    # distinct-aggregate state on the corpus-wide hot path
    hits = (
        corpus_fp.join(F.broadcast(bench_fp), "fp")
        .groupBy(id_col)
        .agg(F.count(F.lit(1)).alias("hits"))
    )
    return (
        docs.select(id_col).join(hits, id_col, "left")
        .select(
            id_col,
            F.coalesce(F.col("hits"), F.lit(0).cast("long")).alias("hits"),
            (F.coalesce(F.col("hits"), F.lit(0)) >= min_hits
             ).alias("contaminated"),
        )
    )
