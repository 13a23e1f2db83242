"""Similarity search over an embedding column (array<float>).

- ``cosine_topk``: brute-force exact top-k — the correctness baseline. The
  query side is broadcast (queries << corpus), the corpus side streams: one
  broadcast-nested-loop with a codegen'd dot product (F.zip_with +
  F.aggregate — no Python), then a per-query top-k window.
- ``lsh_topk``: the scale path — random-hyperplane LSH bucketing (seeded,
  deterministic): corpus and queries hashed to sign-pattern buckets, candidates
  joined per bucket across `tables` independent hash tables, exact re-rank on
  candidates only. Recall < 1, cost ~ bucket size instead of corpus size.
- ``embedding_cosine_dedup``: near-dup pairs above a cosine threshold via the
  same bucketing (self-join), for the dedup family.
"""

from __future__ import annotations

import math
import random

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..session import worker_kernel


def _dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def _norm(a: Column) -> Column:
    return F.sqrt(F.aggregate(a, F.lit(0.0), lambda acc, v: acc + v * v))


def _cast_double(a: Column) -> Column:
    return F.transform(a, lambda x: x.cast("double"))


def _cosine_from(dot: Column, den: Column) -> Column:
    """Guarded similarity from a precomputed dot product and norm product.
    Zero-norm vectors (failed/padded embeddings) get similarity 0.0 — the
    raw 0/0 would be NaN — and so does any NaN result (a NaN COMPONENT in
    one vector yields NaN straight through a non-trivial den, which the
    den==0 guard alone misses; Spark orders NaN ABOVE every real double,
    so one bad vector would otherwise seize rank 1 in every top-k —
    round-5 review finding)."""
    raw = dot / den
    return F.when((den == 0.0) | F.isnan(raw), F.lit(0.0)).otherwise(raw)


def cosine(a: Column, b: Column) -> Column:
    """Cosine similarity of two array<numeric> columns, pure expressions
    (cast to double for a stable accumulation order)."""
    ad = _cast_double(a)
    bd = _cast_double(b)
    return _cosine_from(_dot(ad, bd), _norm(ad) * _norm(bd))


def _paired_cosine(qv: str, cv: str, qn: str, cn: str) -> Column:
    """Per-pair similarity with HOISTED norms: inside a candidate join the
    norms are per-ROW quantities — recomputing them per pair triples the
    per-candidate array work (round-5 review finding). The hoisted columns
    are built by `_with_norm` with the identical expression `cosine` uses,
    so scores are bit-identical to the unhoisted form."""
    return _cosine_from(_dot(_cast_double(F.col(qv)), _cast_double(F.col(cv))),
                        F.col(qn) * F.col(cn))


def _with_norm(df: DataFrame, vec_col: str, out: str) -> DataFrame:
    return df.withColumn(out, _norm(_cast_double(F.col(vec_col))))


def _rank_topk(scored: DataFrame, k: int) -> DataFrame:
    """Shared per-query top-k: one definition so the exact and approximate
    paths cannot drift on ordering, tie-break, or rounding (their parity is
    the module's correctness premise)."""
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cosine_sim"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "rank", "neighbor_id",
                F.round("cosine_sim", 6).alias("cosine_sim"))
    )


def cosine_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact top-k neighbors per query (excluding self) ->
    (query_id, rank, neighbor_id, cosine_sim). Queries broadcast; ties broken
    by neighbor id for determinism."""
    from .dedup import _ensure_parallelism

    q = _with_norm(queries.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("__qv")
    ), "__qv", "__qn")
    # a single-split corpus scan would run the whole broadcast-nested-loop
    # score pass on one core (embeddings.parquet is one file even at sf1.0)
    # — re-spread to the session width; no-op on a wide scan (round 6)
    c = _with_norm(_ensure_parallelism(corpus.select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("__cv")
    )), "__cv", "__cn")
    scored = (
        c.join(F.broadcast(q), F.col("query_id") != F.col("neighbor_id"))
        .select("query_id", "neighbor_id",
                _paired_cosine("__qv", "__cv", "__qn", "__cn").alias("cosine_sim"))
    )
    return _rank_topk(scored, k)


def _hyperplanes(dim: int, planes: int, tables: int, seed: int) -> list[list[list[float]]]:
    rnd = random.Random(seed)
    return [
        [[rnd.gauss(0.0, 1.0) for _ in range(dim)] for _ in range(planes)]
        for _ in range(tables)
    ]


def lsh_buckets(
    df: DataFrame,
    dim: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    planes: int = 8,
    tables: int = 4,
    seed: int = 42,
) -> DataFrame:
    """-> (id, vec, table, bucket) exploded over `tables` hash tables.

    Hashing is one numpy matmul per Arrow batch inside mapInPandas
    (X @ P.T sign bits packed to a long) — vectorized across rows, planes
    and tables at once; the expression-tree alternative re-evaluates
    planes×tables array dot products per row in codegen and is orders of
    magnitude slower."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.types import (
        IntegerType, LongType, StructField, StructType,
    )

    P = np.array(_hyperplanes(dim, planes, tables, seed), dtype="float64")
    P = P.reshape(tables * planes, dim)
    weights = (np.int64(1) << np.arange(planes, dtype="int64"))

    in_schema = df.select(id_col, vec_col).schema
    out_schema = StructType(list(in_schema.fields) + [
        StructField("table", IntegerType()), StructField("bucket", LongType()),
    ])

    def _hash(batches):
        for pdf in batches:
            # rows with a NULL embedding are excluded from bucketing: they
            # cannot produce a meaningful similarity (the exact path scores
            # them NULL, ranked last) and np.stack over a 0-d object array
            # would otherwise abort the whole job (round-5 review finding)
            pdf = pdf[pdf[vec_col].notna()]
            if not len(pdf):
                continue
            X = np.stack([np.asarray(v, dtype="float64") for v in pdf[vec_col]])
            S = (X @ P.T >= 0).astype("int64").reshape(len(pdf), tables, planes)
            buckets = (S * weights).sum(axis=2)  # (n, tables)
            yield pd.DataFrame({
                id_col: np.repeat(pdf[id_col].to_numpy(), tables),
                vec_col: np.repeat(pdf[vec_col].to_numpy(), tables),
                "table": np.tile(np.arange(tables, dtype="int32"), len(pdf)),
                "bucket": buckets.reshape(-1),
            })

    from .dedup import _ensure_parallelism

    return _ensure_parallelism(
        df.select(id_col, vec_col)).mapInPandas(worker_kernel(_hash),
                                                out_schema)


def lsh_topk(
    corpus: DataFrame,
    queries: DataFrame,
    dim: int,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    planes: int = 8,
    tables: int = 4,
    seed: int = 42,
) -> DataFrame:
    """Approximate top-k: bucket-join candidates across tables, exact cosine
    re-rank on the candidate set only."""
    cb = _with_norm(lsh_buckets(corpus, dim, id_col, vec_col, planes,
                                tables, seed), vec_col, "__cn")
    qb = _with_norm(lsh_buckets(queries, dim, id_col, vec_col, planes,
                                tables, seed), vec_col, "__qn")
    # Score BEFORE the pair dedup (round 6, guide §2.3): a candidate pair's
    # cosine is identical in every bucket it appears in, so dropDuplicates
    # can run on (query_id, neighbor_id, score) scalars — the old shape
    # shuffled both 64-float vectors per candidate row (×tables duplicates)
    # through the dedup exchange. Re-scoring a duplicate pair map-side is
    # far cheaper than shuffling its vectors.
    scored = (
        cb.alias("c")
        .join(
            qb.alias("q").withColumnRenamed(id_col, "query_id").withColumnRenamed(vec_col, "__qv"),
            ["table", "bucket"],
        )
        .where(F.col(f"c.{id_col}") != F.col("query_id"))
        .select(
            "query_id",
            F.col(f"c.{id_col}").alias("neighbor_id"),
            _paired_cosine("__qv", f"c.{vec_col}", "__qn", "__cn")
            .alias("cosine_sim"),
        )
        .dropDuplicates(["query_id", "neighbor_id"])
    )
    return _rank_topk(scored, k)


# ---------------------------------------------------------------------------
# IVF (inverted-file) ANN — the coarse-quantizer scale path
# ---------------------------------------------------------------------------


def ivf_fit_centroids(
    corpus: DataFrame,
    dim: int,
    n_lists: int = 16,
    sample: int = 4096,
    iters: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 42,
):
    """Deterministic spherical k-means coarse quantizer: fit on a bounded,
    hash-ordered sample (the standard IVF pattern — the quantizer is a tiny
    model fit once on a sample, then APPLIED distributed; at 100 TB the
    sample stays bounded and the fit stays a driver-side numpy job).
    Returns an (n_lists, dim) float64 array of L2-normalized centroids."""
    import numpy as np

    rows = (
        corpus.select(id_col, vec_col)
        # NULL embeddings are excluded from the fit sample, matching the
        # bucketing paths' treatment of failed embeddings (a NULL in the
        # sample would crash the driver-side np.stack)
        .where(F.col(vec_col).isNotNull())
        .orderBy(F.pmod(F.xxhash64(F.col(id_col)), F.lit((1 << 31) - 1)), id_col)
        .limit(sample)
        .collect()
    )
    if not rows:
        raise ValueError("ivf_fit_centroids: empty corpus")
    X = np.stack([np.asarray(r[1], dtype="float64") for r in rows])
    if X.shape[1] != dim:
        raise ValueError(
            f"ivf_fit_centroids: dim={dim} but vectors are {X.shape[1]}-d"
        )
    X = X / np.maximum(np.linalg.norm(X, axis=1, keepdims=True), 1e-12)
    rnd = random.Random(seed)
    init = sorted(rnd.sample(range(len(X)), min(n_lists, len(X))))
    C = X[init].copy()
    for _ in range(iters):
        sims = X @ C.T
        assign = sims.argmax(axis=1)
        for j in range(len(C)):
            members = X[assign == j]
            if len(members):
                m = members.sum(axis=0)
                n = np.linalg.norm(m)
                if n > 1e-12:
                    C[j] = m / n
    return C


def ivf_assign(
    df: DataFrame,
    centroids,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    nprobe: int = 1,
) -> DataFrame:
    """Assign each vector to its nprobe nearest centroid lists (one numpy
    matmul per Arrow batch — vectorized across rows and lists). nprobe=1 for
    the corpus (each vector lives in ONE list), >1 for queries (probe
    several lists). -> (id, vec, list_id) exploded ×nprobe."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.types import IntegerType, StructField, StructType

    C = np.asarray(centroids, dtype="float64")
    # a tiny corpus can yield fewer centroids than requested probes
    nprobe = min(nprobe, C.shape[0])
    in_schema = df.select(id_col, vec_col).schema
    out_schema = StructType(list(in_schema.fields) + [
        StructField("list_id", IntegerType()),
    ])

    def _assign(batches):
        for pdf in batches:
            # NULL embeddings dropped, same contract as lsh_buckets._hash
            pdf = pdf[pdf[vec_col].notna()]
            if not len(pdf):
                continue
            X = np.stack([np.asarray(v, dtype="float64") for v in pdf[vec_col]])
            X = X / np.maximum(np.linalg.norm(X, axis=1, keepdims=True), 1e-12)
            sims = X @ C.T
            # stable sort: exact ties (e.g. a zero vector's all-0 sims) break
            # by list index deterministically, not by quicksort accident
            top = np.argsort(-sims, axis=1, kind="stable")[:, :nprobe].astype("int32")
            yield pd.DataFrame({
                id_col: np.repeat(pdf[id_col].to_numpy(), nprobe),
                vec_col: np.repeat(pdf[vec_col].to_numpy(), nprobe),
                "list_id": top.reshape(-1),
            })

    from .dedup import _ensure_parallelism

    return _ensure_parallelism(
        df.select(id_col, vec_col)).mapInPandas(worker_kernel(_assign),
                                                out_schema)


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    dim: int,
    k: int = 5,
    n_lists: int = 16,
    nprobe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 42,
    centroids=None,
) -> DataFrame:
    """IVF approximate top-k: corpus bucketed into coarse-quantizer lists
    (one list per vector), queries probe their nprobe nearest lists, exact
    cosine re-rank on candidates only. Complements lsh_topk: IVF adapts
    buckets to the data distribution (good for clustered embeddings), LSH
    is data-independent. Cost ~ nprobe/n_lists of the corpus per query."""
    if centroids is None:
        centroids = ivf_fit_centroids(corpus, dim, n_lists, id_col=id_col,
                                      vec_col=vec_col, seed=seed)
    cb = _with_norm(ivf_assign(corpus, centroids, id_col, vec_col, nprobe=1),
                    vec_col, "__cn")
    qb = (
        _with_norm(ivf_assign(queries, centroids, id_col, vec_col,
                              nprobe=nprobe), vec_col, "__qn")
        .withColumnRenamed(id_col, "query_id")
        .withColumnRenamed(vec_col, "__qv")
    )
    # score before the pair dedup — same rationale as lsh_topk (round 6):
    # the dedup exchange carries 3 scalars instead of two 64-float vectors
    scored = (
        cb.join(qb, "list_id")
        .where(F.col(id_col) != F.col("query_id"))
        .select(
            "query_id",
            F.col(id_col).alias("neighbor_id"),
            _paired_cosine("__qv", vec_col, "__qn", "__cn")
            .alias("cosine_sim"),
        )
        .dropDuplicates(["query_id", "neighbor_id"])
    )
    return _rank_topk(scored, k)


def embedding_cosine_dedup_pairs(
    df: DataFrame,
    dim: int,
    threshold: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    planes: int = 6,
    tables: int = 6,
    seed: int = 42,
) -> DataFrame:
    """Near-duplicate (id_a, id_b, cosine_sim) pairs above threshold via
    hyperplane-bucket self-join. More tables / fewer planes -> higher recall."""
    b = _with_norm(lsh_buckets(df, dim, id_col, vec_col, planes, tables,
                               seed), vec_col, "__n")
    # score + threshold BEFORE the pair dedup (round 6): duplicates of a
    # pair score identically, so the dedup exchange carries only the
    # surviving (id_a, id_b, score) scalars — not two vectors per
    # bucket-duplicate — and the threshold prunes first
    return (
        b.alias("a")
        .join(b.alias("b"), ["table", "bucket"])
        .where(F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
        .select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
            _paired_cosine(f"a.{vec_col}", f"b.{vec_col}", "a.__n", "b.__n")
            .alias("cosine_sim"),
        )
        .where(F.col("cosine_sim") >= threshold)
        .dropDuplicates(["id_a", "id_b"])
    )
