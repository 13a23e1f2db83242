"""dedup_clusters and minhash_dedup in one pass: parity with the layered
public path (minhash_signatures -> [signature-group collapse ->]
minhash_lsh_candidates -> exact Jaccard -> union-find or pair-loser drop)
on hostile documents, agreement of the driver and distributed cluster
routes, and the shape of their jobs and plans read from the status
store."""

import re

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from quad_processor_util_spark.operators import cc
from quad_processor_util_spark.operators.dedup import (
    _signatures_and_sets,
    dedup_clusters,
    embedding_dedup_clusters,
    minhash_dedup,
    minhash_lsh_candidates,
    minhash_signatures,
    ngram_jaccard_pairs_from_candidates,
    word_shingle_rows,
)
from quad_processor_util_spark.oracle import resolve_canonical
from test_round5 import _subtrees
from test_round6 import word_shingles

VARIANTS = [("xxhash64", "xxhash64"), ("md5", "concat")]


def _labels(out, id_col="doc_id"):
    return {r[id_col]: r["cluster_id"] for r in out.collect()}


def _reference(docs, ids, num_hashes, bands, shingle_n, threshold,
               hash_kind, bucket_kind):
    """Cluster labels from the unchanged public layers plus a driver
    union-find: every doc maps to its component's minimum id."""
    sigs = minhash_signatures(docs, num_hashes=num_hashes,
                              shingle_n=shingle_n, hash_kind=hash_kind)
    cands = minhash_lsh_candidates(sigs, bands=bands, bucket_kind=bucket_kind)
    pairs = ngram_jaccard_pairs_from_candidates(
        docs, cands, shingle_n=shingle_n, threshold=threshold).collect()
    mapping, _ = resolve_canonical([(r.id_a, r.id_b, "sameAs")
                                    for r in pairs])
    return {i: mapping.get(i, i) for i in ids}


_WORDS = st.sampled_from(["a", "b", "c", "dog", "İ", "ß", "Σ", "ΣΑΣ",
                          "straße", "İstanbul", "x1"])
_SEPS = st.sampled_from([" ", "  ", "\t", "\n", " \t\n "])


@st.composite
def _text(draw):
    kind = draw(st.sampled_from(["null", "empty", "blank", "words"]))
    if kind == "null":
        return None
    if kind == "empty":
        return ""
    if kind == "blank":
        return draw(_SEPS)
    words = draw(st.lists(_WORDS, min_size=1, max_size=12))
    seps = draw(st.lists(_SEPS, min_size=len(words), max_size=len(words)))
    lead = draw(st.sampled_from(["", " ", "\t"]))
    return lead + "".join(w + s for w, s in zip(words, seps))


@st.composite
def _corpus(draw):
    """Documents with unique ids, negatives included; a third of them repeat
    or extend an earlier text, so near-duplicates and identical texts
    occur."""
    texts = []
    for _ in range(draw(st.integers(1, 30))):
        if texts and draw(st.integers(0, 2)) == 0:
            base = draw(st.sampled_from(texts))
            tail = draw(st.sampled_from(["", " dog", "\tc"]))
            texts.append(base + tail if base is not None else None)
        else:
            texts.append(draw(_text()))
    ids = draw(st.lists(st.integers(-(1 << 40), 1 << 40),
                        min_size=len(texts), max_size=len(texts), unique=True))
    return list(zip(ids, texts))


@pytest.mark.parametrize("hash_kind,bucket_kind", VARIANTS)
@settings(max_examples=4, deadline=None)
@given(rows=_corpus(), shingle_n=st.integers(1, 3),
       threshold=st.sampled_from([0.3, 0.7, 1.0]))
def test_dedup_clusters_matches_layered_reference(spark, hash_kind,
                                                  bucket_kind, rows,
                                                  shingle_n, threshold):
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    kw = dict(num_hashes=12, bands=6, shingle_n=shingle_n,
              threshold=threshold, hash_kind=hash_kind,
              bucket_kind=bucket_kind)
    got = _labels(dedup_clusters(docs, **kw))
    assert got == _reference(docs, [i for i, _ in rows], **kw)


def _minhash_reference(docs, num_hashes, bands, shingle_n, threshold,
                       hash_kind, bucket_kind):
    """Surviving ids from the layered composition: signatures -> min-id
    representative per signature group -> LSH candidates among the
    representatives -> exact Jaccard over the Catalyst word_shingles sets
    -> drop every pair's higher id."""
    sigs = minhash_signatures(docs, num_hashes=num_hashes,
                              shingle_n=shingle_n, hash_kind=hash_kind)
    mh = [c for c in sigs.columns if c.startswith("mh_")]
    reps = sigs.groupBy(*mh).agg(F.min("doc_id").alias("doc_id"))
    cands = minhash_lsh_candidates(reps, bands=bands, bucket_kind=bucket_kind)
    sets = {r.doc_id: set(r.s) for r in docs.select(
        "doc_id", word_shingles(F.col("text"), shingle_n).alias("s")).collect()}
    losers = set()
    for r in cands.collect():
        a, b = sets[r.id_a], sets[r.id_b]
        inter = len(a & b)
        if inter / (len(a) + len(b) - inter) >= threshold:
            losers.add(r.id_b)
    return {r.doc_id for r in reps.collect()} - losers


@pytest.mark.parametrize("hash_kind,bucket_kind", VARIANTS)
@settings(max_examples=4, deadline=None)
@given(rows=_corpus(), shingle_n=st.integers(1, 3),
       threshold=st.sampled_from([0.3, 0.7, 1.0]))
def test_minhash_dedup_matches_layered_reference(spark, hash_kind,
                                                 bucket_kind, rows,
                                                 shingle_n, threshold):
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    kw = dict(num_hashes=12, bands=6, shingle_n=shingle_n,
              threshold=threshold, hash_kind=hash_kind,
              bucket_kind=bucket_kind)
    got = [r.doc_id for r in minhash_dedup(docs, **kw).collect()]
    assert len(got) == len(set(got))
    assert set(got) == _minhash_reference(docs, **kw)


def test_signature_aggregate_carries_the_word_shingles_set(spark):
    """The helper's __set is word_shingle_rows' set per document, and
    minhash_signatures prunes the collect_list away."""
    rows = [(1, None), (2, ""), (3, " \t"), (4, "a b"), (5, "a a a a"),
            (6, "İ ß Σ straße\tİ ß Σ")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    sh = word_shingle_rows(df, "text", "doc_id", 3)
    full = _signatures_and_sets(sh, "doc_id", 8, 42, "xxhash64")
    want = {}
    for r in sh.collect():
        want.setdefault(r.doc_id, []).append(r["__sh"])
    got = {r.doc_id: r["__set"]
           for r in full.select("doc_id", "__set").collect()}
    assert {k: sorted(v) for k, v in got.items()} \
        == {k: sorted(v) for k, v in want.items()}
    assert all(len(v) == len(set(v)) for v in got.values())
    assert "collect_list" in full._jdf.queryExecution().optimizedPlan() \
        .toString()
    sigs = minhash_signatures(df, num_hashes=8)
    assert sigs.columns == ["doc_id"] + [f"mh_{i}" for i in range(8)]
    assert "collect_list" not in sigs._jdf.queryExecution() \
        .optimizedPlan().toString()


# ---------------------------------------------------------------------------
# the two cluster routes
# ---------------------------------------------------------------------------


def _chain_docs(spark, ids):
    """Two transitive chains (J(hub, end) = 0.8, J(end, end) = 0.6) and an
    isolated doc, under the ids given (8 of them)."""
    w = [f"w{i}" for i in range(1, 101)]
    v = [f"v{i}" for i in range(1, 101)]
    texts = [" ".join(w[:80]), " ".join(w[20:]), " ".join(w),
             " ".join(v[:80]), " ".join(v[20:]), " ".join(v),
             " ".join(f"z{i}" for i in range(50)), " ".join(w)]
    return spark.createDataFrame(list(zip(ids, texts)),
                                 "doc_id long, text string")


_CHAIN_KW = dict(num_hashes=36, bands=36, shingle_n=1, threshold=0.7)


def test_dedup_clusters_routes_agree(spark, monkeypatch):
    docs = _chain_docs(spark, [11, 12, 13, 21, 22, 23, 4, 30])
    driver = dedup_clusters(docs, **_CHAIN_KW)
    assert _labels(driver) == {11: 11, 12: 11, 13: 11, 30: 11,
                               21: 21, 22: 21, 23: 21, 4: 4}
    monkeypatch.setattr(cc, "DRIVER_EDGES", 2)
    distributed = dedup_clusters(docs, **_CHAIN_KW)
    assert _labels(distributed) == _labels(driver)
    assert distributed.schema == driver.schema


def _chain_vectors(spark, ids):
    import math

    def unit(theta, plane):
        v = [0.0] * 6
        v[plane], v[plane + 1] = math.cos(theta), math.sin(theta)
        return v

    vecs = [unit(0.0, 0), unit(0.31, 0), unit(0.62, 0),
            unit(0.0, 3), unit(0.31, 3), unit(0.62, 3),
            [0.0, 0.0, 1.0, 0.0, 0.0, 0.0]]
    return spark.createDataFrame(list(zip(ids, vecs)),
                                 "vec_id int, embedding array<double>")


def test_embedding_dedup_clusters_routes_agree(spark, monkeypatch):
    df = _chain_vectors(spark, [0, 1, 2, 10, 11, 12, 7])
    kw = dict(dim=6, threshold=0.95, planes=2, tables=8)
    driver = embedding_dedup_clusters(df, **kw)
    assert _labels(driver, "vec_id") == {0: 0, 1: 0, 2: 0, 10: 10, 11: 10,
                                         12: 10, 7: 7}
    monkeypatch.setattr(cc, "DRIVER_EDGES", 2)
    distributed = embedding_dedup_clusters(df, **kw)
    assert _labels(distributed, "vec_id") == _labels(driver, "vec_id")
    assert [(f.name, f.dataType.simpleString()) for f in driver.schema] \
        == [("vec_id", "int"), ("cluster_id", "bigint")]
    assert distributed.schema == driver.schema


@pytest.mark.parametrize("bound", [cc.DRIVER_EDGES, 0])
def test_cluster_routes_take_the_numeric_min_of_negative_ids(
        spark, monkeypatch, bound):
    """Negative ids cluster like any others: on both routes a component's
    cluster_id is its numeric minimum id."""
    monkeypatch.setattr(cc, "DRIVER_EDGES", bound)
    docs = _chain_docs(spark, [11, -12, 13, 21, 22, -23, 4, -30])
    assert _labels(dedup_clusters(docs, **_CHAIN_KW)) == {
        11: -30, -12: -30, 13: -30, -30: -30, 21: -23, 22: -23, -23: -23,
        4: 4}
    vecs = _chain_vectors(spark, [5, -1, 2, 10, -11, 12, -7])
    got = embedding_dedup_clusters(vecs, dim=6, threshold=0.95, planes=2,
                                   tables=8)
    assert _labels(got, "vec_id") == {5: -1, -1: -1, 2: -1, 10: -11,
                                      -11: -11, 12: -11, -7: -7}


# ---------------------------------------------------------------------------
# jobs and plans, from the status store
# ---------------------------------------------------------------------------


def _final_tree(plan):
    """The executed operator tree of a formatted plan (AQE's final plan)."""
    tree = plan.split("\n\n", 1)[0]
    if "== Final Plan ==" in tree:
        tree = tree.split("== Final Plan ==", 1)[1] \
            .split("== Initial Plan ==", 1)[0]
    return tree


@pytest.fixture(scope="module")
def parquet_docs(spark, tmp_path_factory):
    """The chain documents plus filler, read from parquet like a corpus."""
    path = str(tmp_path_factory.mktemp("dedup_docs") / "docs")
    filler = spark.createDataFrame(
        [(100 + i, " ".join(f"f{i}_{j}" for j in range(30)))
         for i in range(40)], "doc_id long, text string")
    _chain_docs(spark, [11, 12, 13, 21, 22, 23, 4, 30]).union(filler) \
        .coalesce(2).write.parquet(path)
    return spark.read.parquet(path)


def test_dedup_clusters_jobs_and_plans(spark, spark_jobs, parquet_docs):
    """One dedup_clusters call: every job it starts is described as a
    dedup_clusters step, the caller's description comes back, its
    executions scan and shingle (one MapInPandas) the documents once and
    never build the Catalyst word_shingles expression, and it starts at
    most 5 jobs (the pair checkpoint's stages and one bounded collect).
    The 2-file fixture scans as 2 partitions, half of a 4-wide shuffle, so
    it is not re-spread: no RoundRobinPartitioning. Executing the result
    broadcasts the driver-built components as a LocalTableScan."""
    sc = spark.sparkContext
    key = "spark.sql.shuffle.partitions"
    width = spark.conf.get(key)

    def call():
        spark.conf.set(key, "4")
        try:
            out = dedup_clusters(parquet_docs, **_CHAIN_KW)
        finally:
            spark.conf.set(key, width)
        return out, sc.getLocalProperty("spark.job.description")

    (out, restored), jobs, plans = spark_jobs(call)
    assert restored.startswith("spark-jobs-")
    store = sc._jsc.sc().statusStore()
    descs = [store.job(j).description() for j in jobs]
    names = [d.get() if d.isDefined() else None for d in descs]
    assert jobs and all(n in ("dedup_clusters: pairs",
                              "dedup_clusters: components")
                        for n in names), names
    assert "dedup_clusters: components" in names
    assert len(jobs) <= 5, names
    assert not any("RoundRobinPartitioning" in p for _, p in plans), plans
    trees = [_final_tree(p) for _, p in plans]
    assert sum(len(re.findall(r"- Scan parquet ", t)) for t in trees) == 1, \
        plans
    assert sum(len(re.findall(r"- MapInPandas ", t)) for t in trees) == 1, \
        plans
    for _, p in plans:
        assert "array_distinct" not in p and "transform(" not in p, p

    got, _, final = spark_jobs(lambda: _labels(out))
    assert got[12] == got[13] == got[30] == 11 and got[100] == 100
    assert len(final) == 1, final
    dims = _subtrees(final[0][1], "BroadcastExchange")
    assert dims, final[0][1]
    for sub in dims:
        ops = [re.sub(r"^[ :+*-]*", "", ln).split(" (")[0] for ln in sub]
        assert ops == ["LocalTableScan"], final[0][1]


def test_minhash_dedup_jobs_and_plans(spark, spark_jobs, parquet_docs):
    """One minhash_dedup call and the collect of its result: the executions
    shingle the documents once (one MapInPandas), never build the Catalyst
    word_shingles expression, and start at most 10 jobs. The 2-file
    fixture at a 4-wide shuffle is not re-spread."""
    key = "spark.sql.shuffle.partitions"
    width = spark.conf.get(key)

    def call():
        spark.conf.set(key, "4")
        try:
            out = minhash_dedup(parquet_docs, **_CHAIN_KW)
            return sorted(r.doc_id for r in out.select("doc_id").collect())
        finally:
            spark.conf.set(key, width)

    got, jobs, plans = spark_jobs(call)
    # 30 repeats 13 (one signature group); 13 and 23 lose to a hub
    assert got == [4, 11, 12, 21, 22] + list(range(100, 140))
    assert len(jobs) <= 10, len(jobs)
    trees = [_final_tree(p) for _, p in plans]
    assert sum(len(re.findall(r"- MapInPandas ", t)) for t in trees) == 1, \
        plans
    for _, p in plans:
        assert "array_distinct" not in p and "transform(" not in p, p
