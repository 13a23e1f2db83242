"""End-to-end pipeline vs the pure-Python oracle: P/R >= 0.95 on the
5-field triple identity (the BASELINE.md correctness gate), plus the
per-turn invariant and the partitioned materialization."""

import os
import pickle
from collections import Counter

import pytest
from pyspark.sql import functions as F

from quad_processor_util_spark.datagen import (
    build_alias_edges,
    build_entity_catalog,
    build_gazetteer,
    build_transcripts,
)
from quad_processor_util_spark.functions.nt import QUAD_FIELDS
from quad_processor_util_spark.operators import cc
from quad_processor_util_spark.oracle import (
    Gazetteer,
    canonicalize_quads,
    dedup_quads,
    extract_conversation,
    resolve_canonical,
)
from quad_processor_util_spark.plans import pipeline
from quad_processor_util_spark.plans.pipeline import (
    extract_quads,
    run_pipeline,
    turn_numbers,
)


@pytest.fixture(scope="module")
def data(spark, fixtures_dir):
    transcripts = spark.read.parquet(os.path.join(fixtures_dir, "transcripts.parquet"))
    catalog = build_entity_catalog()
    edges_pdf = build_alias_edges(42)
    edges = spark.createDataFrame(edges_pdf)
    return transcripts, catalog, edges_pdf, edges


def _oracle_quads(catalog, edges_pdf, n_convs=120, seed=42, canonical=True):
    gaz = build_gazetteer(catalog)
    pdf = build_transcripts(n_convs, seed)
    quads = []
    for conv_id, grp in pdf.groupby("conv_id"):
        turns = list(zip(grp["turn_idx"], grp["role"], grp["text"], grp["tool"]))
        turns = [(int(a), b, c, (d if isinstance(d, str) else None)) for a, b, c, d in turns]
        quads.extend(extract_conversation(turns, gaz, conv_id))
    if canonical:
        mapping, excluded = resolve_canonical(
            list(zip(edges_pdf["src_iri"], edges_pdf["dst_iri"], edges_pdf["edge_kind"]))
        )
        quads = canonicalize_quads(quads, mapping, excluded)
    return {q.identity() for q in dedup_quads(quads)}


def test_extract_matches_oracle_exactly(spark, data):
    transcripts, catalog, edges_pdf, _ = data
    gaz = build_gazetteer(catalog)
    got = {
        (r.subject, r.predicate, r.obj, r.datatype, r.language)
        for r in extract_quads(transcripts, gaz.surface_to_iri).collect()
    }
    expected = _oracle_quads(catalog, edges_pdf, canonical=False)
    assert got == expected
    assert len(expected) > 100


def test_pipeline_precision_recall(spark, data):
    transcripts, catalog, edges_pdf, edges = data
    final = run_pipeline(spark, transcripts, catalog, edges)
    got = {
        (r.subject, r.predicate, r.obj, r.datatype, r.language)
        for r in final.collect()
    }
    expected = _oracle_quads(catalog, edges_pdf, canonical=True)
    tp = len(got & expected)
    precision = tp / len(got)
    recall = tp / len(expected)
    assert precision >= 0.95, f"precision {precision}"
    assert recall >= 0.95, f"recall {recall}"
    # with shared semantics it should in fact be exact:
    assert got == expected


def test_pipeline_canonicalization_routes_agree(spark, data, monkeypatch):
    """run_pipeline canonicalizes a driver-sized alias graph inside the
    extraction kernel; with cc.DRIVER_EDGES patched to 0 the same graph
    takes distributed connected components and canonicalize's broadcast
    joins. Both give the same 5-field identity multiset."""
    transcripts, catalog, _, edges = data

    def run():
        final = run_pipeline(spark, transcripts, catalog, edges,
                             fuzzy_link=True)
        plan = final._jdf.queryExecution().executedPlan().toString()
        ids = Counter(tuple(r)[:5]
                      for r in final.select(*QUAD_FIELDS).collect())
        return ids, "BroadcastHashJoin" in plan

    kernel, kernel_joins = run()
    monkeypatch.setattr(cc, "DRIVER_EDGES", 0)
    joined, joins = run()
    assert not kernel_joins and joins
    assert joined == kernel
    assert len(kernel) > 100


class _FakeBroadcast:
    """What a worker sees of a broadcast: its value."""

    def __init__(self, value):
        self.value = value


class _FakeContext:
    applicationId = "app-fake"

    def broadcast(self, value):
        return _FakeBroadcast(value)


def test_worker_cache_is_byte_capped(monkeypatch):
    """_broadcast_once ships each value's pickled size next to its key;
    _from_broadcast charges cache entries that size, evicts the oldest to
    stay under _WORKER_CACHE_BYTES, and builds a value over the cap on
    every call without caching it. No Spark: the broadcast and its context
    are stand-ins."""
    monkeypatch.setattr(pipeline, "_BC_CACHE", {})
    monkeypatch.setattr(pipeline, "_WORKER_CACHE", {})
    spark = type("FakeSpark", (), {"sparkContext": _FakeContext()})()
    bc = pipeline._broadcast_once(spark, "k", {"a": "b"})
    assert bc.value == ("k", len(pickle.dumps({"a": "b"},
                                              pickle.HIGHEST_PROTOCOL)),
                        {"a": "b"})
    assert pipeline._broadcast_once(spark, "k", {"a": "b"}) is bc

    monkeypatch.setattr(pipeline, "_WORKER_CACHE_BYTES", 100)
    builds = []

    def get(key, nbytes, value):
        return pipeline._from_broadcast(
            _FakeBroadcast((key, nbytes, value)),
            lambda v: builds.append(v) or [v])

    a = get("a", 40, 1)
    assert get("a", 40, 1) is a
    get("b", 50, 2)
    assert list(pipeline._WORKER_CACHE) == ["a", "b"]
    get("c", 30, 3)  # 40 + 50 + 30 > 100: the oldest entry goes
    assert list(pipeline._WORKER_CACHE) == ["b", "c"]
    assert get("big", 101, 4) == [4]
    assert get("big", 101, 4) == [4]
    assert list(pipeline._WORKER_CACHE) == ["b", "c"]
    assert get("full", 100, 5) == [5]  # exactly the cap: evicts the rest
    assert list(pipeline._WORKER_CACHE) == ["full"]
    assert builds == [1, 2, 3, 4, 4, 5]


def test_broadcast_canonical_rejects_non_string_iris(spark):
    """A driver-resolved graph with non-string IRIs (an alias table keyed
    by integers) fails on the driver, not in a task."""
    with pytest.raises(ValueError, match="strings"):
        pipeline.broadcast_canonical(spark, {1: 0}, set())
    with pytest.raises(ValueError, match="strings"):
        pipeline.broadcast_canonical(spark, {}, {7})


def test_stable_turn_ordering_invariant(spark, data):
    """per-turn text equality under stable turn ordering: the row_number
    over (conv_id, turn_idx) minus one equals turn_idx (dense 0-based)."""
    transcripts, *_ = data
    df = turn_numbers(transcripts)
    violations = df.where(F.col("rn") - 1 != F.col("turn_idx")).count()
    assert violations == 0
    # and texts keyed by (conv_id, turn_idx) are unique (equality well-defined)
    dup = (
        transcripts.groupBy("conv_id", "turn_idx")
        .agg(F.count_distinct("text").alias("n"))
        .where(F.col("n") > 1)
        .count()
    )
    assert dup == 0


def test_materialize_partitioned_by_predicate(spark, data, tmp_path):
    transcripts, catalog, _, edges = data
    out = str(tmp_path / "quads_out")
    run_pipeline(spark, transcripts, catalog, edges, out_path=out)
    parts = [p for p in os.listdir(out) if p.startswith("pred_label=")]
    assert len(parts) >= 3  # worksAt, bornIn, population, toolUsed, ...
    back = spark.read.parquet(out)
    # row conservation through the write (QuadSorter.scala:474 analog)
    assert back.count() == back.dropDuplicates(
        ["subject", "predicate", "obj", "datatype", "language"]
    ).count()
    # predicate pushdown: the partition filter must reach the scan (a plan
    # with PartitionFilters prunes to one directory; count()>0 alone would
    # also pass on a broken full scan)
    one = back.where(F.col("pred_label") == parts[0].split("=", 1)[1])
    plan = one._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [" in plan and "pred_label" in plan.split(
        "PartitionFilters", 1)[1][:200]
    assert one.count() > 0
    # and every file actually read lives under the single partition dir
    files = {r[0] for r in
             one.select(F.input_file_name()).distinct().collect()}
    assert files and all(f"/{parts[0]}/" in f for f in files)


class TestExtractBoundary:
    """The Spark side of extraction: what extract_quads hands the mapInArrow
    closure, and the plan shape that the extraction cost claims rest on."""

    COLS = ["conv_id", "turn_idx", "role", "text", "tool"]
    GAZ = {"Ada Lovelace": "http://e/ada", "Turing Institute": "http://e/ti"}

    @pytest.fixture(scope="class")
    def tiny(self, spark):
        import datetime

        ts = datetime.datetime(2026, 1, 1)
        return spark.createDataFrame(
            [("c1", 0, "user", "Ada Lovelace works at Turing Institute.", None, ts),
             ("c1", 1, "tool", "ran it", "calc", ts),
             ("c2", 0, "user", "Unknown Capitalized Run", None, ts)],
            "conv_id string, turn_idx int, role string, text string, "
            "tool string, ts timestamp")

    @staticmethod
    def _final_plan(df) -> str:
        """Executed plan text after an action; under AQE only the final
        plan (the initial one repeats every node)."""
        df.collect()
        plan = df._jdf.queryExecution().executedPlan().toString()
        if "== Final Plan ==" in plan:
            plan = plan.split("== Final Plan ==", 1)[1]
            plan = plan.split("== Initial Plan ==", 1)[0]
        return plan

    @pytest.mark.parametrize("bucketed", [False, True])
    def test_plan_shape(self, tiny, bucketed):
        import re

        plan = self._final_plan(
            extract_quads(tiny, self.GAZ, assume_bucketed=bucketed))
        assert plan.count("MapInArrow") == 1, plan
        for node in ("MapInPandas", "ArrowEvalPython", "BatchEvalPython"):
            assert node not in plan, plan
        # the closure's input is exactly the five columns: no `ts`, and the
        # boundary's string casts are simplified away for string columns
        args = re.search(r"MapInArrow \w+\(([^)]*)\)", plan).group(1)
        assert [re.sub(r"#\d+", "", a).strip()
                for a in args.split(",")] == self.COLS, plan
        assert "cast(" not in plan.lower(), plan
        exchanges = [ln for ln in plan.splitlines() if "Exchange " in ln]
        if bucketed:
            assert exchanges == [], plan
        else:
            assert len(exchanges) == 1, plan
            assert "hashpartitioning(conv_id" in exchanges[0], plan

    def test_missing_column_fails_on_driver(self, spark, tiny):
        jobs_before = spark.sparkContext.statusTracker().getJobIdsForGroup()
        with pytest.raises(ValueError, match=r"\['tool'\]"):
            extract_quads(tiny.drop("tool"), self.GAZ)
        assert (spark.sparkContext.statusTracker().getJobIdsForGroup()
                == jobs_before)

    def test_integer_tool_matches_oracle(self, spark):
        """A non-string `tool` column is cast to string at the boundary, so
        the Arrow path and the per-row oracle see the same values."""
        import pandas as pd

        from quad_processor_util_spark.plans.extract_vec import (
            _extract_batch_rows,
        )

        tools = [7, None, 0, 12]
        pdf = pd.DataFrame({
            "conv_id": ["c1", "c1", "c2", "c2"], "turn_idx": [0, 1, 0, 1],
            "role": ["tool", "tool", "tool", "user"],
            "text": ["Ada Lovelace works at Turing Institute.", "x", "y", "z"],
            "tool": pd.array(tools, dtype="Int64"),
        })
        df = spark.createDataFrame(
            pdf, "conv_id string, turn_idx int, role string, text string, "
                 "tool bigint")
        got = [tuple(r) for r in extract_quads(df, self.GAZ).collect()]
        exp = _extract_batch_rows(
            pdf.assign(tool=[None if t is None else str(t) for t in tools]),
            Gazetteer(self.GAZ), "LONGEST_DOMINANT_RIGHT", False)
        exp = [tuple(r) for r in exp.itertuples(index=False)]
        key = lambda q: tuple(x or "" for x in q)  # noqa: E731
        assert sorted(got, key=key) == sorted(exp, key=key)
        assert sum(q[1].endswith("toolUsed") for q in got) == 2

    @pytest.mark.parametrize("emit_unknown", [False, True])
    def test_large_var_types_match(self, spark, emit_unknown):
        """With Arrow large_string input (useLargeVarTypes) extraction
        returns the same rows as with the default string input."""
        from collections import Counter

        gaz = build_gazetteer(build_entity_catalog())
        df = spark.createDataFrame(build_transcripts(20, 1))
        conf = "spark.sql.execution.arrow.useLargeVarTypes"
        rows = {}
        try:
            for large in ("false", "true"):
                spark.conf.set(conf, large)
                rows[large] = Counter(tuple(r) for r in extract_quads(
                    df, gaz.surface_to_iri,
                    emit_unknown=emit_unknown).collect())
        finally:
            spark.conf.unset(conf)
        assert rows["false"] and rows["true"] == rows["false"]
