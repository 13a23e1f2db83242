"""Dump physical plans for the headline queries and grep them for the
scale-critical properties: PushedFilters on scans, BroadcastHashJoin for dim
joins, WholeStageCodegen spans, no Cartesian products. Writes PLANS.md.

Usage: python tools/dump_plans.py [sf_dir]
"""

from __future__ import annotations

import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

CHECKS = {
    "tpch_q1": ["PushedFilters", "codegen id", "HashAggregate"],
    "star_join": ["BroadcastHashJoin", "codegen id"],
    "salted_join": ["HashAggregate"],
    "anti_join": ["BroadcastHashJoin", "LeftSemi|LeftAnti"],
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
    "quad_parse": ["codegen id"],
    "predicate_split_counts": ["HashAggregate", "ReadSchema"],
    "pipeline_e2e": ["MapInArrow", "BroadcastHashJoin"],
    # pipeline_full's extraction materializes ONCE into the linking split's
    # persist() — the three branches read the columnar cache
    "pipeline_full": ["InMemoryTableScan", "BroadcastHashJoin", "HashAggregate"],
    "jaccard_pairs": ["HashAggregate", "Window"],
    # map-only per-row folds / row expansion: no Exchange anywhere
    "repetition_metrics": ["codegen id", "ReadSchema"],
    "chunk_docs": ["Generate", "ReadSchema"],
    # the pair pipeline executes EAGERLY during query build (the CC
    # driver-threshold fast path collects the tiny edge set), so the
    # visible plan is docs ⟕ local component table — check that shape
    "dedup_clusters": ["SortMergeJoin LeftOuter|BroadcastHashJoin", "Scan parquet"],
    "fuzzy_link": ["BroadcastHashJoin", "Window"],
    "camelcase_mint": ["HashAggregate", "ReadSchema"],
    "winnow_fp": ["Window", "HashAggregate"],
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
    # corpus winnow pass (posexplode + window MIN) + BROADCAST of the
    # benchmark fingerprint set — the corpus must never shuffle for the join
    "decontaminate": ["Generate", "Window", "BroadcastHashJoin"],
    # like dedup_clusters, the pair pipeline + CC execute EAGERLY at build
    # time (driver fast path collects the tiny edge set); the visible plan
    # is the column-pruned corpus union ⟕ local component table
    "embedding_clusters": ["SortMergeJoin LeftOuter|BroadcastHashJoin",
                           "Union", "Scan parquet"],
    # hyperplane bucketing via Arrow batches; one side broadcast; the pair
    # dedup aggregates on array-typed keys → SortAggregate (arrays have no
    # hash-agg support), which is the expected operator here
    "embedding_neardup": ["MapInPandas", "BroadcastHashJoin",
                          "SortAggregate|HashAggregate"],
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
    # winnow occurrences (posexplode + window MIN) -> shared-fp index
    # (HashAggregate) -> per-doc gaps-and-islands interval merge (Window)
    "dup_spans": ["Generate", "Window", "HashAggregate"],
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
# degradation to a real cartesian pass the audit silently.
FORBIDDEN = ["CartesianProduct"]


def main(sf_dir: str) -> int:
    import __spark_entry__ as em
    from quad_processor_util_spark.session import get_spark

    # AQE off for inspection only: the pre-execution formatted plan then shows
    # WholeStageCodegen spans (AQE hides them until the final adaptive plan)
    spark = get_spark("plans", parallelism=8, shuffle_partitions=8,
                      extra_conf={"spark.sql.adaptive.enabled": "false"})
    spark.sparkContext.setLogLevel("ERROR")
    qs = em.queries()
    out_lines = ["# PLANS — physical-plan inspection of headline queries\n",
                 f"Generated by `python tools/dump_plans.py {sf_dir}`.",
                 "Checks: filters pushed to parquet, dims broadcast (`[codegen id : n]` = whole-stage codegen span), wide",
                 "codegen spans, no accidental cartesian products.\n"]
    bad = 0
    for name, want in CHECKS.items():
        df = qs[name](spark, sf_dir)
        plan = spark.sparkContext._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted"
        )
        marks = []
        for pat in want:
            ok = bool(re.search(pat, plan))
            marks.append(f"{'✓' if ok else '✗ MISSING'} {pat}")
            if not ok:
                bad += 1
        for pat in FORBIDDEN:
            if re.search(pat, plan):
                marks.append(f"✗ FORBIDDEN {pat}")
                bad += 1
        out_lines.append(f"## {name}\n")
        out_lines.extend(f"- {m}" for m in marks)
        # first 30 lines of the plan as evidence
        head = "\n".join(plan.splitlines()[:30])
        out_lines.append(f"\n```\n{head}\n```\n")
        print(name, "|", " ".join(marks))
    # resumed bucket over the bucket-partitioned-at-rest layout (round-4
    # verdict item 7): the per-bucket filter must land as a PARTITION
    # filter — the resumed job reads only the missing bucket's files
    # instead of scanning the table B times
    import shutil
    import tempfile

    from __spark_entry__ import _events_as_transcripts
    from quad_processor_util_spark.plans.checkpoint import (
        write_bucketed_transcripts,
    )
    from pyspark.sql import functions as F

    layout = tempfile.mkdtemp(prefix="plans_bucketed_")
    try:
        write_bucketed_transcripts(
            _events_as_transcripts(spark, sf_dir), layout, n_buckets=8)
        one = spark.read.parquet(layout).where(F.col("bucket") == 3)
        plan = spark.sparkContext._jvm.PythonSQLUtils.explainString(
            one._jdf.queryExecution(), "formatted")
        marks = []
        for pat in [r"PartitionFilters: \[[^\]]*bucket", r"Scan parquet"]:
            ok = bool(re.search(pat, plan))
            marks.append(f"{'✓' if ok else '✗ MISSING'} {pat}")
            if not ok:
                bad += 1
        out_lines.append("## resumed_bucket (run_checkpointed on "
                         "write_bucketed_transcripts layout)\n")
        out_lines.extend(f"- {m}" for m in marks)
        head = "\n".join(plan.splitlines()[:30])
        out_lines.append(f"\n```\n{head}\n```\n")
        print("resumed_bucket", "|", " ".join(marks))
    finally:
        shutil.rmtree(layout, ignore_errors=True)

    with open(os.path.join(os.path.dirname(os.path.dirname(
            os.path.abspath(__file__))), "PLANS.md"), "w") as f:
        f.write("\n".join(out_lines))
    spark.stop()
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"))
