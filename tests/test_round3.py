"""Round-3 hardening: executor-side row-touch evidence.

Two claims that previously rested on plan reading get accumulator proof:

1. The composed linking pipelines (extract -> link_unknown_mentions ->
   distinct, and run_pipeline(fuzzy_link=True), which links inside the
   extraction kernel) extract every input row EXACTLY ONCE per run.
2. run_checkpointed resume does NOT recompute completed buckets: the
   second (resumed) run's process function touches only the rows of the
   buckets missing from the ledger, and the final output is identical to
   an uninterrupted run (BASELINE.md resumability target; reference
   resumable scan QuadReader.scala:163-203).
"""

from __future__ import annotations

import glob

import pytest  # noqa: F401
from pyspark.sql import functions as F

from quad_processor_util_spark.datagen import (
    build_alias_edges,
    build_entity_catalog,
    build_gazetteer,
)
from quad_processor_util_spark.plans import pipeline as pl


def _transcripts(spark, n=400):
    rows = [
        (f"c{i % 40}", i // 40, "user",
         "Ada Lovelace works at Turing Institute. also met Hoppr Labs.", None)
        for i in range(n)
    ]
    return spark.createDataFrame(
        rows,
        "conv_id string, turn_idx int, role string, text string, tool string",
    )


def _counting_extract(spark, monkeypatch):
    """Patch extract_batch_arrow (the mapInArrow closure since round 6) so
    every row it sees bumps a Spark accumulator (executor-side: counts
    actual Arrow-batch row touches, not plan nodes)."""
    import quad_processor_util_spark.plans.extract_vec as ev

    acc = spark.sparkContext.accumulator(0)
    orig = ev.extract_batch_arrow

    def counted(rb, *args):
        acc.add(rb.num_rows)
        return orig(rb, *args)

    monkeypatch.setattr(ev, "extract_batch_arrow", counted)
    return acc


def test_linking_pipeline_materializes_extraction_once(spark, monkeypatch):
    acc = _counting_extract(spark, monkeypatch)
    tr = _transcripts(spark, n=400)
    cat = build_entity_catalog()
    gaz = build_gazetteer(cat)

    quads = pl.extract_quads(tr, gaz.surface_to_iri, emit_unknown=True)
    linked = pl.link_unknown_mentions(quads, spark.createDataFrame(cat))
    out = linked.select("subject", "predicate", "obj", "graph").distinct()
    n = out.count()
    assert n > 0
    # the placeholders are rewritten in a second Arrow stage over the same
    # quad stream: every input row extracted exactly once
    assert acc.value == 400

    final = pl.run_pipeline(spark, tr, cat, spark.createDataFrame(
        build_alias_edges(42)), fuzzy_link=True)
    rows = final.collect()
    # 'Hoppr Labs' linked in the kernel (to Hopper_Labs, which the alias
    # edges then canonicalize)
    assert any(r.predicate.endswith("/mentions") for r in rows)
    assert acc.value == 800


def test_repetition_metrics_hand_cases(spark):
    """Gopher-style repetition filters on constructed cases: heavy 2-gram
    repetition, duplicate lines (count- and char-weighted), empty/degenerate
    inputs, and the documented >1 share for overlapping occurrences."""
    from quad_processor_util_spark.functions import text as T

    rows = [
        (0, "a b c d e f g h i j"),
        (1, "x y x y x y x y x y"),
        (2, "line one\nline two\nline one\nline one\n\n  "),
        (3, ""),
        (4, "one"),
        (5, "a a a a a a"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = [tuple(r) for r in df.select(
        "doc_id",
        F.round(T.dup_ngram_frac(F.col("text"), 5), 6).alias("d5"),
        F.round(T.dup_line_frac(F.col("text")), 6).alias("dl"),
        F.round(T.dup_line_char_frac(F.col("text")), 6).alias("dlc"),
        F.round(T.top_ngram_char_frac(F.col("text"), 2), 6).alias("t2"),
    ).orderBy("doc_id").collect()]
    assert got == [
        (0, 0.0, 0.0, 0.0, 0.157895),
        (1, 0.666667, 0.0, 0.0, 0.789474),   # "x y"×5 → 15/19 chars
        (2, 0.0, 0.5, 0.5, 0.615385),        # "line one"×3 of 4 lines
        (3, 0.0, 0.0, 0.0, 0.0),
        (4, 0.0, 0.0, 0.0, 0.0),
        (5, 0.5, 0.0, 0.0, 1.363636),        # overlap pushes share > 1
    ]


def test_chunk_documents_boundaries(spark):
    """Chunk-count closed form at the window boundaries: <=max yields one
    chunk; the first token past each stride adds exactly one; no trailing
    chunk is fully contained in its predecessor; zero tokens yields zero
    rows; overlap tokens are shared between neighbors."""
    from quad_processor_util_spark.functions.text import chunk_documents

    def doc(n):
        return " ".join(f"w{i}" for i in range(n))

    rows = [(n, doc(n)) for n in (0, 1, 64, 65, 112, 113, 200)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = chunk_documents(df, max_tokens=64, overlap=16)
    counts = {r["doc_id"]: r["n"] for r in
              out.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n")).collect()}
    assert counts == {1: 1, 64: 1, 65: 2, 112: 2, 113: 3, 200: 4}
    chunks = {(r["doc_id"], r["chunk_idx"]): r for r in out.collect()}
    # overlap: chunk 1 of the 65-token doc starts at token 48 (0-based)
    c = chunks[(65, 1)]
    assert c["chunk_text"].split()[0] == "w48"
    assert c["n_chunk_tokens"] == 17  # tokens 48..64
    # full interior chunk
    assert chunks[(200, 1)]["n_chunk_tokens"] == 64
    import pytest as _pytest
    with _pytest.raises(ValueError, match="overlap"):
        chunk_documents(df, max_tokens=16, overlap=16)


def test_dedup_clusters_transitive_closure(spark):
    """The cluster semantics pair-loser dropping cannot express: docs 1 and
    2 are each near-dups of hub doc 3 (J = 0.8) but NOT of each other
    (J = 0.6 < 0.7) — the component {1,2,3} still clusters together via the
    chain. Isolated docs are their own cluster. bands=36 (one row per band)
    makes LSH candidate recall effectively certain for this construction."""
    from quad_processor_util_spark.operators.dedup import dedup_clusters

    w = [f"w{i}" for i in range(1, 101)]
    rows = [
        (1, " ".join(w[:80])),       # J(1,3)=0.8, J(1,2)=0.6
        (2, " ".join(w[20:])),       # J(2,3)=0.8
        (3, " ".join(w)),            # hub
        (4, " ".join(f"z{i}" for i in range(50))),  # isolated
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    out = dedup_clusters(docs, num_hashes=36, bands=36, shingle_n=1,
                         threshold=0.7)
    got = {r["doc_id"]: r["cluster_id"] for r in out.collect()}
    assert got == {1: 1, 2: 1, 3: 1, 4: 4}


def _restore_confs(spark, saved):
    for k, v in saved.items():
        if v is None:
            spark.conf.unset(k)
        else:
            spark.conf.set(k, v)


def test_size_conf_parsing_and_split_estimate(spark, tmp_path):
    from quad_processor_util_spark.operators.dedup import (
        _estimated_scan_partitions,
    )

    # the estimate mirrors Spark's own split packing (maxSplitBytes from
    # maxPartitionBytes, openCostInBytes and the leaf parallelism), so on
    # multi-file layouts it reads what the scan really has — many tiny
    # files estimate as packed splits, not one split per file
    df = spark.range(0, 1000).selectExpr("id", "CAST(id AS STRING) AS text")
    tiny = str(tmp_path / "tiny")
    df.repartition(40).write.mode("overwrite").parquet(tiny)
    few = str(tmp_path / "few")
    df.repartition(3).write.mode("overwrite").parquet(few)
    # in-memory views have no files -> 0 (treated as too-coarse)
    assert _estimated_scan_partitions(df) == 0

    # size strings are parsed by Spark itself: "2t" still splits by the
    # per-core share, "-1m" is accepted and makes Spark scan no split
    confs = [
        {},
        {"spark.sql.files.maxPartitionBytes": "2t"},
        {"spark.sql.files.maxPartitionBytes": "1k",
         "spark.sql.files.openCostInBytes": "-1m"},
        {"spark.sql.files.minPartitionNum": "3"},
        {"spark.sql.files.minPartitionNum": "20"},
    ]
    saved = {k: spark.conf.get(k, None) for c in confs for k in c}
    try:
        for conf in confs:
            for k, v in conf.items():
                spark.conf.set(k, v)
            for path in (tiny, few):
                src = spark.read.parquet(path)
                assert _estimated_scan_partitions(src) == \
                    src.rdd.getNumPartitions(), (conf, path)
            _restore_confs(spark, {k: saved[k] for k in conf})
    finally:
        _restore_confs(spark, saved)

    # a single small file is one row group: Spark cuts it into byte ranges
    # (with no open cost, one per core) but only one of them reads rows,
    # so it estimates as 1 and gets re-spread
    one = str(tmp_path / "one")
    df.coalesce(1).write.mode("overwrite").parquet(one)
    assert _estimated_scan_partitions(spark.read.parquet(one)) == 1
    key = "spark.sql.files.openCostInBytes"
    prev = spark.conf.get(key)
    try:
        spark.conf.set(key, "0")
        single = spark.read.parquet(one)
        assert single.rdd.getNumPartitions() > 1
        assert _estimated_scan_partitions(single) == 1
    finally:
        spark.conf.set(key, prev)


class TestReviewFixes:
    """Regression tests for the round-3 deep-review findings."""

    def test_assert_sorted_detects_violations(self, spark):
        from quad_processor_util_spark.operators.grouping import (
            assert_sorted, sorted_group_scan,
        )

        rows = [("k%d" % (i % 5), (i * 37) % 100) for i in range(200)]
        df = spark.createDataFrame(rows, "k string, v int")
        # one partition of unsorted rows MUST show violations (the old
        # window formulation returned 0 on any input)
        assert assert_sorted(df.coalesce(1), "k", "v") > 0
        assert assert_sorted(sorted_group_scan(df, "k", "v"), "k", "v") == 0

    def test_parse_paths_agree_on_whitespace_edges(self, nt_parse_checked):
        lines = [
            "<http://s><http://p><http://o>.",          # zero whitespace
            "<http://s>\t<http://p> <http://o> .",       # tab separators
            "<http://s>\f<http://p> <http://o> .",       # \f: malformed
            '<http://s> <http://p> "x"@en<http://g> .',  # no ws before graph
        ]
        assert len(nt_parse_checked(lines)) == 3  # the \f line is dropped

    def test_format_expr_bad_uri_and_control_char_parity(self, spark):
        from quad_processor_util_spark.functions.nt import (
            format_nt_exact, format_nt_expr,
        )

        rows = [
            ("http://ex.org/a<b", "http://p/x", "http://o/y",
             None, None, None, None),                  # '<' in URI: bad
            ("http://s/ok", "http://p/x", "ctl\x01here",
             "http://www.w3.org/2001/XMLSchema#string", None, None, None),
            ("http://s/ok", "http://p/x", "clean",
             "http://www.w3.org/2001/XMLSchema#string", None, None, None),
        ]
        schema = ("subject string, predicate string, obj string, "
                  "datatype string, language string, graph string, "
                  "dataset string")
        df = spark.createDataFrame(rows, schema)
        jvm = sorted(r.line for r in format_nt_expr(df).collect())
        exact = sorted(r.line for r in format_nt_exact(df).collect())
        assert jvm == exact
        assert sum(1 for x in jvm if x.startswith("# ")) == 1
        assert any("\\u0001" in x for x in jvm)

    def test_salted_join_spreads_duplicate_hot_rows(self, spark):
        from quad_processor_util_spark.operators.joins import salted_join

        # 2000 CONTENT-IDENTICAL hot rows: content-hash salting put them
        # all in one bucket; per-row salting must spread them
        fact = spark.createDataFrame([(1, "same")] * 2000, "k int, payload string")
        dim = spark.createDataFrame([(1, "d")], "k int, dval string")
        out = salted_join(fact, dim, "k", salt_buckets=8)
        assert out.count() == 2000
        from pyspark.sql import functions as F2
        salts = (
            fact.withColumn(
                "__salt",
                F2.pmod(F2.xxhash64(F2.monotonically_increasing_id()), F2.lit(8)))
            .select("__salt").distinct().count()
        )
        assert salts > 1

    def test_is_globally_sorted_handles_nulls(self, spark):
        from quad_processor_util_spark.operators.sort import (
            is_globally_sorted, sort_quads,
        )

        rows = [(None,), ("b",), ("a",), (None,), ("c",)]
        df = spark.createDataFrame(rows, "subject string")
        assert is_globally_sorted(df.coalesce(1), "subject") is False
        s = sort_quads(df, "subject", num_partitions=2)
        assert is_globally_sorted(s, "subject") is True


def test_resume_touches_only_missing_buckets(spark, monkeypatch, tmp_path):
    acc = _counting_extract(spark, monkeypatch)
    tr = _transcripts(spark, n=400)
    gaz = build_gazetteer(build_entity_catalog())

    def process(df):
        return pl.extract_quads(df, gaz.surface_to_iri)

    from quad_processor_util_spark.plans.checkpoint import (
        Ledger, bucket_expr, run_checkpointed,
    )

    n_buckets = 4
    # bucket sizes under the same hash the checkpoint runner uses
    sizes = {
        r["b"]: r["n"]
        for r in tr.groupBy(bucket_expr("conv_id", n_buckets).alias("b"))
        .agg(F.count(F.lit(1)).alias("n")).collect()
    }
    assert sum(sizes.values()) == 400

    # interrupted run: crash after the first completed bucket
    boom = RuntimeError("simulated interrupt")
    calls = {"n": 0}

    def flaky(df):
        if calls["n"] >= 1:
            raise boom
        calls["n"] += 1
        return process(df)

    out1 = tmp_path / "out1"
    ledger1 = str(tmp_path / "ledger1.jsonl")
    try:
        run_checkpointed(tr, flaky, str(out1), ledger1, n_buckets=n_buckets)
        raise AssertionError("interrupt did not fire")
    except RuntimeError as e:
        assert e is boom
    done_after_crash = set(Ledger(ledger1).completed())
    assert len(done_after_crash) == 1

    # resumed run: the accumulator must grow by ONLY the missing buckets
    before = acc.value
    run_checkpointed(tr, process, str(out1), ledger1, n_buckets=n_buckets)
    touched = acc.value - before
    expected = sum(n for b, n in sizes.items() if b not in done_after_crash)
    assert touched == expected  # completed bucket NOT recomputed
    assert set(Ledger(ledger1).completed()) == set(range(n_buckets))

    # and the resumed output equals an uninterrupted run's output
    out2 = tmp_path / "out2"
    run_checkpointed(tr, process, str(out2), str(tmp_path / "ledger2.jsonl"),
                     n_buckets=n_buckets)

    def read_all(p):
        files = glob.glob(str(p / "bucket=*"))
        df = spark.read.parquet(*files)
        return sorted(tuple(r) for r in df.collect())

    assert read_all(out1) == read_all(out2)
