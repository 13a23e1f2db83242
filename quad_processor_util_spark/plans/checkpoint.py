"""Per-partition checkpoint ledger + counter metrics.

Reinterprets the reference's resumable byte-limit scan (QuadReader.scala:
163-203: stop at a byte budget, resume from the recorded offset) and its
LogRecorder counters (log/LogRecorder.scala:234-251) at Spark granularity:
the conv_id space is hashed into B buckets; each bucket is one commit unit
with its own output partition, row counters, and ledger entry. A restarted
run skips buckets already in the ledger — no recomputation of completed
partitions (BASELINE.md resumability target).

The ledger is a JSON-lines file next to the output (the Iceberg
snapshot-summary analog; see sources/io.py)."""

from __future__ import annotations

import json
import os
import time
from collections.abc import Callable

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F


def bucket_expr(conv_col: str = "conv_id", n_buckets: int = 8):
    """Deterministic bucket id for a conversation (explicit partitioning of
    the input space — the resume unit)."""
    return F.pmod(F.xxhash64(F.col(conv_col)), F.lit(n_buckets)).cast("int")


class Ledger:
    """Append-only JSONL ledger of completed buckets with counters."""

    def __init__(self, path: str):
        # same driver-local constraint as write_table's sidecar: a remote
        # URI would silently become a LOCAL directory literally named
        # 's3:' and resumability would be lost across drivers (round-5
        # review finding)
        scheme = path.split("://", 1)[0] if "://" in path else ""
        if scheme not in ("", "file"):
            raise NotImplementedError(
                f"Ledger is driver-local; {scheme}:// paths need a "
                f"remote-commit backend (BENCH/ICEBERG.md)")
        if path.startswith("file://"):
            path = path[len("file://"):]
        self.path = path
        os.makedirs(os.path.dirname(path) or ".", exist_ok=True)

    def completed(self) -> dict[int, dict]:
        done: dict[int, dict] = {}
        if os.path.exists(self.path):
            with open(self.path) as f:
                lines = [ln.strip() for ln in f]
            lines = [ln for ln in lines if ln]
            for i, line in enumerate(lines):
                try:
                    rec = json.loads(line)
                except json.JSONDecodeError:
                    if i == len(lines) - 1:
                        # torn trailing append (crash mid-write): the record
                        # never committed — ignore it, the bucket re-runs
                        continue
                    raise
                done[rec["bucket"]] = rec
        return done

    def record(self, bucket: int, metrics: dict) -> dict:
        rec = {
            "bucket": bucket,
            "committed_at": time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime()),
            **metrics,
        }
        with open(self.path, "a") as f:
            f.write(json.dumps(rec, sort_keys=True) + "\n")
        return rec


def write_bucketed_transcripts(
    transcripts: DataFrame,
    path: str,
    n_buckets: int = 8,
    conv_col: str = "conv_id",
    bucket_col: str = "bucket",
) -> None:
    """Lay the transcript table out partitioned by the resume bucket —
    the 'bucket-partitioned at rest' input run_checkpointed wants.

    Without this layout, each of the B per-bucket filters re-scans the
    whole table (B× read amplification — the docstring caveat below);
    with it, `WHERE bucket = b` is a PARTITION filter and each bucket
    job reads exactly its own files (PartitionFilters in the scan node,
    pinned by tests/test_plan_contract.py). The Iceberg analog is a
    `bucket(n_buckets, conv_id)` partition-spec transform — this is the
    plain-parquet spelling of the same layout. One shuffle on the bucket
    id groups each partition's rows into one writer task so the layout
    lands as B directories of one file each, not B×tasks fragments. Rows
    inside each bucket are sorted by (conv_col, turn_idx) so the layout
    satisfies extract_quads(assume_bucketed=True)'s contract — clustered
    by conv_id, turn-ordered at rest — exactly like the Iceberg
    `bucket(N, conv_id)` spec + `sort_order(turn_idx)` sorted write it
    mirrors (round-5 review finding: without the sort, a green per-turn
    gate would mask breakage of any future order-sensitive extraction)."""
    (
        transcripts
        .withColumn(bucket_col, bucket_expr(conv_col, n_buckets))
        .repartition(n_buckets, F.col(bucket_col))
        # bucket_col LEADS the sort: repartition is hash-based, so a task
        # almost surely holds several bucket values and the dynamic-
        # partition writer would otherwise insert its own (unstable) sort
        # by bucket alone, scrambling turn order inside files (round-5
        # review finding)
        .sortWithinPartitions(bucket_col, conv_col, "turn_idx")
        .write.mode("overwrite")
        .partitionBy(bucket_col)
        .parquet(path)
    )


def run_checkpointed(
    transcripts: DataFrame,
    process: Callable[[DataFrame], DataFrame],
    out_path: str,
    ledger_path: str,
    n_buckets: int = 8,
    conv_col: str = "conv_id",
    bucket_col: str | None = None,
) -> dict[int, dict]:
    """Process the transcript table bucket-by-bucket with resume.

    Each bucket: filter (partition-pruned by the bucket column once the
    input is bucket-partitioned at rest) → `process` → write under
    bucket=<b>/ → ledger entry {turns_in, quads_out}. Buckets present in the
    ledger are skipped entirely. Dedup inside `process` is bucket-local;
    run a final global dedup compaction if cross-bucket identity collisions
    matter (conversations never span buckets, so graph-scoped quads cannot
    collide; only identical cross-conversation triples can).
    Returns the full ledger state.

    `bucket_col`: name of an AT-REST bucket partition column written by
    write_bucketed_transcripts (same n_buckets/conv_col — the caller owns
    that contract, exactly as an Iceberg reader owns matching the table's
    partition spec). When set, the per-bucket filter targets the partition
    column, so Spark prunes to that bucket's files instead of scanning the
    whole table B times; the column is dropped before `process` sees the
    frame. When None (default), the bucket id is computed on the fly and
    every bucket job scans the full input (fine for one-shot jobs; the
    at-rest layout is the 100 TB path).

    Counters ride the write itself via df.observe() — ONE job, ONE scan of
    the input per bucket (the reference's LogRecorder counters accumulate
    during the pass, LogRecorder.scala:234-251; a pre-count plus an output
    re-read would triple-touch every byte at 100 TB). CONTRACT: `process`
    must return a frame derived from its input WITHOUT breaking lineage
    (no .rdd round-trips / checkpoint()) — the observe() counters live in
    the plan, and a write whose plan lost the CollectMetrics node would
    leave obs.get waiting forever (documented limitation; Observation has
    no timeout API)."""
    ledger = Ledger(ledger_path)
    done = ledger.completed()
    # a ledger written under a different bucketing covers DIFFERENT conv_id
    # subsets — resuming against it would silently skip or double-process
    # no defaults: a record MISSING these fields (older/hand-edited
    # ledger) must fail the guard, not auto-match it (round-5 review)
    for b, rec in done.items():
        if rec.get("n_buckets") != n_buckets or \
                rec.get("conv_col") != conv_col:
            raise ValueError(
                f"ledger {ledger_path} was written with n_buckets="
                f"{rec.get('n_buckets')}/conv_col={rec.get('conv_col')!r}; "
                f"refusing to resume with n_buckets={n_buckets}/"
                f"conv_col={conv_col!r}"
            )
    if bucket_col is not None:
        if bucket_col not in transcripts.columns:
            raise ValueError(
                f"bucket_col={bucket_col!r} not in input columns "
                f"{transcripts.columns}; write the layout with "
                f"write_bucketed_transcripts first")
        # a layout bucketed with MORE buckets than this run processes would
        # silently drop every row with bucket >= n_buckets (the loop never
        # filters for them, the ledger still completes cleanly — round-5
        # review finding). One limit(1) probe; on a partition-column layout
        # it prunes to the offending partitions' footers, near-free.
        stray = (
            transcripts
            .where((F.col(bucket_col) >= n_buckets)
                   | (F.col(bucket_col) < 0)
                   | F.col(bucket_col).isNull())
            .limit(1).count()
        )
        if stray:
            raise ValueError(
                f"input has {bucket_col} values outside [0, {n_buckets}) "
                f"or NULL; "
                f"the at-rest layout was bucketed differently — rerun "
                f"write_bucketed_transcripts with n_buckets={n_buckets} or "
                f"pass the layout's own bucket count")
        with_bucket = transcripts
        _bc = bucket_col
    else:
        with_bucket = transcripts.withColumn(
            "__bucket", bucket_expr(conv_col, n_buckets))
        _bc = "__bucket"
    for b in range(n_buckets):
        if b in done:
            continue
        sub = with_bucket.where(F.col(_bc) == b).drop(_bc)
        obs_in = Observation()
        sub = sub.observe(obs_in, F.count(F.lit(1)).alias("turns_in"))
        result = process(sub)
        obs_out = Observation()
        result = result.observe(obs_out, F.count(F.lit(1)).alias("quads_out"))
        target = os.path.join(out_path, f"bucket={b}")
        result.write.mode("overwrite").parquet(target)
        metrics = {
            "turns_in": obs_in.get["turns_in"],
            "quads_out": obs_out.get["quads_out"],
            "output": target,
            "n_buckets": n_buckets,
            "conv_col": conv_col,
        }
        # store the SAME timestamped record the ledger wrote, so resumed
        # and freshly-processed entries have one shape (round-5 review)
        done[b] = ledger.record(b, metrics)
    return done
