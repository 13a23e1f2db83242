"""Physical-plan contract for the declared queries at sf0.001.

Each CHECKS row lists regexes that must all appear in the query's formatted
physical plan, and no plan may contain a FORBIDDEN operator. Plans are
built with AQE off (the pre-execution plan then shows WholeStageCodegen
spans; AQE hides them until the final adaptive plan) and with
autoBroadcastJoinThreshold=-1, so a BroadcastHashJoin appears only where
the code asks for one with an explicit hint: removing an `F.broadcast`
fails its row instead of being papered over by size statistics.
"""

from __future__ import annotations

import os
import re
import shutil
import tempfile

import pytest
from pyspark.sql import functions as F

CHECKS = {
    "tpch_q1": ["PushedFilters", "codegen id", "HashAggregate"],
    "star_join": ["BroadcastHashJoin", "codegen id"],
    "salted_join": ["HashAggregate"],
    # no broadcast hint: the small side broadcasts only by size statistics
    "anti_join": ["LeftSemi|LeftAnti"],
    "dedup_exact": ["HashAggregate", "LeftSemi"],
    "stable_turn_order": ["Window", "ReadSchema"],
    "extract_kg": ["MapInArrow", "hashpartitioning"],
    # the non-bucketed path must show the explicit conv_id exchange + the
    # in-partition (conv_id, turn_idx) secondary sort before extraction
    "extract_kg_shuffled": ["MapInArrow", "hashpartitioning\\(conv_id", "Sort"],
    # explode of the template array (Generate) feeding Arrow-vectorized UDFs
    "mint_iri": ["Generate", "ArrowEvalPython", "ReadSchema"],
    "uri_to_iri": ["Generate", "ArrowEvalPython", "ReadSchema"],
    # IVF: Arrow-batched assignment, candidate join on list_id, window re-rank
    "ivf_topk": ["MapInPandas", "Window"],
    # synth + decode are two chained Arrow stages over the binary column
    "media_features": ["MapInPandas", "ReadSchema"],
    "cosine_topk": ["BroadcastNestedLoopJoin|BroadcastHashJoin", "Window"],
    # the Arrow parse stage sits at the plan root, under the column-pruning
    # Project: one parse route, no Union of split branches
    "quad_parse": [r"== Physical Plan ==\n\* Project \(\d+\)\n\+- MapInPandas"],
    "predicate_split_counts": ["HashAggregate", "ReadSchema"],
    # canonicalize's hinted broadcast of its alias dimension
    "pipeline_e2e": ["MapInArrow", "BroadcastHashJoin"],
    # pipeline_full links and canonicalizes inside the extraction
    # mapInArrow (one Arrow stage and no broadcast, pinned below) — no
    # persist, no split, no links join, no dimension join
    "pipeline_full": ["MapInArrow", "HashAggregate"],
    # the shingle codes (one vocabulary aggregate joined back onto the
    # shingle rows) are built eagerly under a localCheckpoint; the visible
    # plan is the coded-pair join and overlap aggregate over that checkpoint
    "jaccard_pairs": ["Scan ExistingRDD", "SortMergeJoin", "HashAggregate"],
    # map-only per-row folds / row expansion: no Exchange anywhere
    "repetition_metrics": ["codegen id", "ReadSchema"],
    "chunk_docs": ["Generate", "ReadSchema"],
    # the pair pipeline executes EAGERLY during query build (the CC
    # driver route collects the tiny edge set), so the
    # visible plan is docs ⟕ local component table — check that shape
    "dedup_clusters": ["SortMergeJoin LeftOuter|BroadcastHashJoin", "Scan parquet"],
    # distinct surfaces scored by the SurfaceLinker in one Arrow stage
    "fuzzy_link": ["HashAggregate", "MapInArrow"],
    "camelcase_mint": ["HashAggregate", "ReadSchema"],
    # per-document winnow selection in ONE Arrow stage after the
    # round-robin re-spread: no explode, no Window, no aggregate
    "winnow_fp": ["MapInPandas", "RoundRobinPartitioning"],
    "text_clean": ["codegen id", "ReadSchema"],
    "trix_format": ["codegen id", "ReadSchema"],
    "snapshots_union": ["Union", "HashAggregate"],
    "codepoint_order": ["Window", "ReadSchema"],
    "int_hex": ["codegen id", "ReadSchema"],
    "prefix_histogram": ["HashAggregate", "ReadSchema"],
    # LSH ANN: Arrow-batched bucket hashing, bucket join, window re-rank
    "lsh_topk": ["MapInPandas", "Window"],
    # shingle explode + the K min-aggs in ONE HashAggregate pass
    "minhash_dedup": ["Generate", "HashAggregate"],
    # corpus winnow in an Arrow stage + BROADCAST of the benchmark
    # fingerprint set — the corpus must never shuffle for the join
    "decontaminate": ["MapInPandas", "BroadcastHashJoin"],
    # like dedup_clusters, the pair pipeline + CC execute EAGERLY at build
    # time (driver fast path collects the tiny edge set); the visible plan
    # is the column-pruned corpus union ⟕ local component table
    "embedding_clusters": ["SortMergeJoin LeftOuter|BroadcastHashJoin",
                           "Union", "Scan parquet"],
    # hyperplane bucketing via Arrow batches; the pair dedup aggregates on
    # array-typed keys → SortAggregate (arrays have no hash-agg support),
    # which is the expected operator here
    "embedding_neardup": ["MapInPandas", "SortAggregate|HashAggregate"],
    # map-only hash filter: no Exchange, the whole sample fuses into the
    # scan's codegen stage
    "stratified_sample": ["codegen id", "ReadSchema"],
    # the row_number()<=quota filter must plan as WindowGroupLimit — the
    # map-side per-group top-N that bounds skewed groups pre-shuffle
    "group_quota": ["WindowGroupLimit", "Window"],
    # map-only hash-range labeling: pure codegen, no Exchange
    "hash_split": ["codegen id", "ReadSchema"],
    # LM fit (one HashAggregate shuffle) + broadcast vocab/totals into the
    # score pass — the corpus side must never shuffle for the join
    "unigram_logprob": ["HashAggregate", "BroadcastHashJoin",
                        "BroadcastNestedLoopJoin"],
    # two-pass distributed scan: per-bucket Window + broadcast of the
    # n_buckets-row offset dimension — never a global one-partition sort
    "shuffle_rank": ["Window", "BroadcastHashJoin"],
    # same scaffold + the block-span explode
    "pack_sequences": ["Window", "BroadcastHashJoin", "Generate"],
    "star_view": ["HashAggregate", "ReadSchema"],
    "sessionize": ["Window", "HashAggregate"],
    "window_topk": ["Window", "ReadSchema"],
    "nt_format": ["codegen id", "ReadSchema"],
    # word-frequency fold (one corpus HashAggregate) + pair explode +
    # bounded deterministic top-N (TakeOrdered, never a global sort)
    "bpe_pairs": ["Generate", "HashAggregate", "TakeOrderedAndProject"],
    # zero-shuffle corpus tokenization: ONE Arrow stage, md5 digest fused
    # into codegen; no Exchange anywhere
    "bpe_encode": ["MapInPandas", "codegen id"],
    # winnow occurrences (Arrow stage) -> shared-fp filter (two Windows
    # over one fp exchange) -> per-doc gaps-and-islands interval merge
    # (Window) -> span aggregate
    "dup_spans": ["MapInPandas", "Window", "HashAggregate"],
    # the iterative rounds ran eagerly at build time (localCheckpoint per
    # round); the visible plan is the final checkpointed rank table
    "entity_pagerank": ["Scan ExistingRDD", "codegen id"],
    # the MERGE executed at build time (copy-on-write snapshot written);
    # the visible plan is the new snapshot's pruned parquet scan
    "snapshot_merge": ["Scan parquet", "ReadSchema"],
    # compaction executed at build time; visible plan = new snapshot scan
    "compact_table": ["Scan parquet", "ReadSchema"],
    # exact multi-distinct census: ONE scan expanded (Expand) into the
    # 3×n_cols measures, two-phase aggregate, stack unpivot (Generate)
    "profile_events": ["Expand", "HashAggregate", "Generate"],
}

# CartesianProductExec is banned EVERYWHERE — cosine_topk's intentional
# broadcast-nested-loop is a different operator (BroadcastNestedLoopJoin)
# and needs no exemption; exempting it from this ban would let a planner
# degradation to a real cartesian pass the contract silently.
FORBIDDEN = ["CartesianProduct"]

_CONFS = {
    "spark.sql.adaptive.enabled": "false",
    "spark.sql.autoBroadcastJoinThreshold": "-1",
}


@pytest.fixture(scope="module")
def planning(spark, sf_dir):
    """(queries, sf0.001 dir) with the planning confs set on the shared
    session for this module only."""
    import __spark_entry__ as em

    saved = {k: spark.conf.get(k) for k in _CONFS}
    for k, v in _CONFS.items():
        spark.conf.set(k, v)
    try:
        yield em.queries(), os.path.join(os.path.dirname(sf_dir), "sf0.001")
    finally:
        for k, v in saved.items():
            spark.conf.set(k, v)


def _plan(spark, df) -> str:
    return spark.sparkContext._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted")


@pytest.mark.parametrize("name", list(CHECKS))
def test_plan_contract(spark, planning, name):
    qs, sf = planning
    plan = _plan(spark, qs[name](spark, sf))
    missing = [p for p in CHECKS[name] if not re.search(p, plan)]
    forbidden = [p for p in FORBIDDEN if re.search(p, plan)]
    assert not missing and not forbidden, (
        f"{name}: missing {missing}, forbidden {forbidden}\n{plan}")


def test_quad_parse_reads_its_source_once(spark, planning):
    """The N-Triples parser has one route per line, so its source is read
    once: exactly one FileScan and no Union in the physical plan."""
    qs, sf = planning
    plan = qs["quad_parse"](spark, sf)._jdf.queryExecution() \
        .executedPlan().toString()
    assert len(re.findall("FileScan", plan)) == 1, plan
    assert "Union" not in plan, plan


def test_pipeline_full_links_in_the_extraction_stage(spark, planning):
    """pipeline_full extracts, links and canonicalizes in the same
    mapInArrow: exactly one MapInArrow in the physical plan, not a second
    one over the quads, and no broadcast (join) of a dimension."""
    qs, sf = planning
    plan = qs["pipeline_full"](spark, sf)._jdf.queryExecution() \
        .executedPlan().toString()
    assert len(re.findall("MapInArrow", plan)) == 1, plan
    assert "Broadcast" not in plan, plan


def test_resumed_bucket_partition_prunes(spark, planning):
    """Over the bucket-partitioned-at-rest layout, the per-bucket resume
    filter lands as a PARTITION filter: a resumed job reads only the
    missing bucket's files instead of scanning the table once per bucket."""
    from __spark_entry__ import _events_as_transcripts
    from quad_processor_util_spark.plans.checkpoint import (
        write_bucketed_transcripts,
    )

    _, sf = planning
    layout = tempfile.mkdtemp(prefix="plans_bucketed_")
    try:
        write_bucketed_transcripts(
            _events_as_transcripts(spark, sf), layout, n_buckets=8)
        one = spark.read.parquet(layout).where(F.col("bucket") == 3)
        plan = _plan(spark, one)
    finally:
        shutil.rmtree(layout, ignore_errors=True)
    assert re.search(r"PartitionFilters: \[[^\]]*bucket", plan), plan
    assert re.search(r"Scan parquet", plan), plan
