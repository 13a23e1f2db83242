"""Structured Streaming ingest of transcripts.

The reference is batch-only (SURVEY.md §2.11) — its closest notions are the
resumable byte-limit scan and async sink pipelining. This module adds the
genuinely streaming path a transcript firehose needs: readStream over the
transcript directory → the same extraction mapInArrow as batch (code is
shared — DataFrame fns are execution-mode agnostic) → append sink, with
event-time watermarking for the windowed turn-rate aggregation.

Checkpointing is Spark-native here (writeStream.option(checkpointLocation)),
complementing the batch bucket ledger in plans/checkpoint.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..session import worker_kernel
from ..sources.io import TRANSCRIPTS_SCHEMA


def read_transcript_stream(spark: SparkSession, path: str) -> DataFrame:
    """File-source stream of transcript parquet drops (schema fixed by
    BASELINE.json input_hint)."""
    return (
        spark.readStream.schema(TRANSCRIPTS_SCHEMA)
        .option("maxFilesPerTrigger", 8)
        .parquet(path)
    )


def streaming_extract(
    stream: DataFrame,
    surface_to_iri: dict[str, str],
    policy: str = "LONGEST_DOMINANT_RIGHT",
) -> DataFrame:
    """Extraction over the stream — same Arrow-batch closure as batch
    (mapInArrow since round 6), with the same overlap policy forwarded
    (batch↔stream parity is the contract). Stable
    intra-conversation ordering is not meaningful on an unbounded stream
    and extraction is per-turn, so the batch path's stable_order
    repartition+sort (forbidden on streams anyway) is skipped without
    changing semantics."""
    from ..functions.nt import QUAD_SCHEMA
    from ..plans.pipeline import broadcast_gazetteer, make_extract_fn

    bc = broadcast_gazetteer(stream.sparkSession, surface_to_iri)
    return stream.mapInArrow(
        worker_kernel(make_extract_fn(bc, policy)), QUAD_SCHEMA
    )


def turn_rate_windows(stream: DataFrame, window: str = "5 minutes",
                      watermark: str = "10 minutes") -> DataFrame:
    """Windowed turn counts per role with late-data watermark — the
    streaming analog of LogRecorder's periodic throughput report
    (log/LogRecorder.scala:234-251)."""
    return (
        stream.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window), "role")
        .agg(F.count(F.lit(1)).alias("turns"))
    )


def _sessionize_update(key, pdfs, state, gap: float):
    """Per-key state transition for streaming_sessionize (module-level so
    the multi-chunk / out-of-order behavior is unit-testable with a fake
    GroupState). A key's rows within one trigger may arrive as SEVERAL
    Arrow chunks — drain them all and sort ONCE, or chunk boundaries would
    feed out-of-order timestamps into the gap logic."""
    import numpy as np
    import pandas as pd

    if state.exists:
        last_ts, n_sess, n_turns = state.get
    else:
        last_ts, n_sess, n_turns = None, 0, 0
    chunks = [pdf["ts"] for pdf in pdfs if len(pdf)]
    if chunks:
        ts = np.sort(
            pd.concat(chunks).to_numpy().astype("datetime64[us]")
            .astype("int64")
        ) / 1e6
        prev = np.empty_like(ts)
        prev[0] = last_ts if last_ts is not None else -1e18
        prev[1:] = ts[:-1]
        n_sess += int(((ts - prev) > gap).sum())
        n_turns += int(len(ts))
        # monotone high-water mark: a LATE trigger (file-source drops are
        # not event-time ordered) whose max ts precedes the stored last_ts
        # must not regress the state — otherwise the next on-time trigger
        # measures its gap from the stale older timestamp and over-counts
        # sessions (round-4 review finding)
        last_ts = float(ts[-1]) if last_ts is None \
            else max(last_ts, float(ts[-1]))
    state.update((last_ts, int(n_sess), int(n_turns)))
    yield pd.DataFrame(
        {"conv_id": [key[0]], "n_sessions": [n_sess], "n_turns": [n_turns]}
    )


def streaming_sessionize(
    stream: DataFrame, gap_minutes: int = 30
) -> DataFrame:
    """Custom stateful operator via applyInPandasWithState: per-conversation
    session counting with a 30-minute inactivity gap (the streaming analog
    of the batch `sessionize` gate query). State per conv_id = (last event
    time, running session count, running turn count); each trigger emits the
    running totals in `update` mode.

    The per-key update is numpy-vectorized over the trigger's rows — no
    per-row Python on the hot path; state is one tuple per conversation.
    """
    from pyspark.sql.streaming.state import GroupStateTimeout

    gap = float(gap_minutes) * 60.0
    out_schema = "conv_id string, n_sessions long, n_turns long"
    state_schema = "last_ts double, n_sessions long, n_turns long"

    def fn(key, pdfs, state):
        yield from _sessionize_update(key, pdfs, state, gap)

    return stream.groupBy("conv_id").applyInPandasWithState(
        fn, out_schema, state_schema, "update", GroupStateTimeout.NoTimeout
    )


def streaming_dedup(
    stream: DataFrame,
    keys: list[str],
    watermark_col: str | None = None,
    delay: str = "10 minutes",
) -> DataFrame:
    """Streaming exact dedup — the streaming face of the batch U1 identity
    dedup (operators/dedup.py): keep the first occurrence of each key.

    With ``watermark_col`` set, uses ``dropDuplicatesWithinWatermark`` so
    per-key state is EVICTED once the watermark passes the key's event
    time + ``delay`` — the 100 TB firehose path: state is bounded by the
    key arrival rate × delay window, not by stream lifetime, and the
    guarantee is correspondingly scoped (duplicates arriving within
    ``delay`` of each other are dropped; a replay older than the
    watermark may re-emit). Without it, plain ``dropDuplicates`` gives
    the exact batch-distinct guarantee at the cost of unbounded state —
    only for bounded replays/tests.

    First-occurrence semantics make the drained output deterministic for
    IDENTICAL duplicate rows regardless of which trigger wins the race;
    rows that share keys but differ elsewhere drain nondeterministically
    (whichever arrived first) — dedup on the full identity when exact
    replay matters, as the gate does."""
    if watermark_col is not None:
        return (stream.withWatermark(watermark_col, delay)
                .dropDuplicatesWithinWatermark(keys))
    return stream.dropDuplicates(keys)


def run_stream_to_parquet(
    quad_stream: DataFrame, out_path: str, checkpoint_path: str
):
    """Append quads to parquet with exactly-once file-sink semantics; caller
    awaits/stops. availableNow drains all pending input then stops — the
    batch-parity trigger used in tests."""
    return (
        quad_stream.writeStream.outputMode("append")
        .format("parquet")
        .option("path", out_path)
        .option("checkpointLocation", checkpoint_path)
        .trigger(availableNow=True)
        .start()
    )
