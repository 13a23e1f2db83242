"""Driver contract for the spark-graft builder (PySpark target).

`entry(spark)` runs the flagship KG-extraction pipeline on sf0.001.
`queries()` exposes one entry per implemented operator (SURVEY.md §2);
`oracle_sql()` gives the DuckDB-equivalent SQL on the same parquet views.

Column names are aliased identically on both sides; float aggregations go
through decimal (associativity-safe) before a final double cast; outputs
avoid raw timestamp columns (session-TZ hazards).
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from quad_processor_util_spark.functions import text as T
from quad_processor_util_spark.functions.nt import parse_nt_lines
from quad_processor_util_spark.functions.uri import local_name
from quad_processor_util_spark.operators.cc import connected_components
from quad_processor_util_spark.operators.dedup import (
    exact_dedup,
    minhash_dedup,
    ngram_jaccard_pairs,
    simhash_signatures,
)
from quad_processor_util_spark.operators.joins import salted_join
from quad_processor_util_spark.operators.similarity import cosine_topk, lsh_topk
from quad_processor_util_spark.plans.pipeline import extract_quads

SF_DEFAULT = "/root/testdata/sf0.001"

# the flagship derivation + demo gazetteer live in the package (demo.py) so
# the spark-submit --py-files launch path runs the SAME job; these aliases
# keep the oracle-SQL builders and the scaling bench on one set of constants
from quad_processor_util_spark.demo import (  # noqa: E402
    DBR as _DBR,
    GAZETTEER as _GAZ,
    ORGS as _ORGS,
    PEOPLE as _PEOPLE,
    events_to_transcripts as _events_as_transcripts,
    read_table as _t_pkg,
)


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return _t_pkg(spark, sf_dir, name)


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: events-derived transcripts -> stable order -> vectorized
    mention detection + triple extraction -> distinct quads.

    assume_bucketed: the row_number window in _events_as_transcripts already
    leaves rows conv-grouped and (ts, event_id)-ordered per conv — exactly
    the clustering stable_order would re-create; re-shuffling it is a wasted
    pass (the same zero-shuffle fast path an Iceberg bucket(conv_id)+sorted
    layout gets)."""
    # delegate to the gated flagship query — ONE definition, so entry()
    # and the extract_kg correctness gate can never silently run different
    # jobs (round-4 review finding)
    return _q_extract_kg(spark, SF_DEFAULT)


# ---------------------------------------------------------------------------
# queries
# ---------------------------------------------------------------------------


def _q_tpch_q1(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    dec = lambda c: F.col(c).cast("decimal(18,4)")  # noqa: E731
    return (
        li.where(F.col("l_shipdate") <= F.lit("1998-09-02"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum(dec("l_quantity")).cast("double").alias("sum_qty"),
            F.sum(dec("l_extendedprice")).cast("double").alias("sum_base_price"),
            F.sum((dec("l_extendedprice") * (F.lit(1).cast("decimal(18,4)") - dec("l_discount"))))
            .cast("double").alias("sum_disc_price"),
            F.count(F.lit(1)).alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


def _q_star_join(spark, sf_dir):
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region")
    return (
        o.join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy("r_name", "n_name")
        .agg(
            F.sum(F.col("o_totalprice").cast("decimal(18,4)")).cast("double").alias("revenue"),
            F.count(F.lit(1)).alias("n_orders"),
        )
        .orderBy("r_name", "n_name")
    )


def _q_stable_turn_order(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return ev.select(
        "user_id", "event_id", (F.row_number().over(w) - 1).alias("turn_idx")
    )


def _q_dedup_exact(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    return exact_dedup(docs).select("doc_id")


def _q_predicate_split_counts(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    pred = F.concat(F.lit("http://example.org/ontology/"), F.col("event_type"))
    return (
        ev.select(pred.alias("predicate"))
        .groupBy("predicate")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(local_name(F.col("predicate")).alias("pred_label"), "n")
        .orderBy("pred_label")
    )


def _q_nt_format(spark, sf_dir):
    from quad_processor_util_spark.functions.nt import format_nt_expr

    docs = _t(spark, sf_dir, "documents")
    quads = docs.select(
        F.concat(F.lit("http://example.org/doc/"), F.col("doc_id")).alias("subject"),
        F.lit("http://example.org/ontology/lang").alias("predicate"),
        F.col("lang").alias("obj"),
        F.lit("http://www.w3.org/2001/XMLSchema#string").alias("datatype"),
        F.lit(None).cast("string").alias("language"),
        F.lit(None).cast("string").alias("graph"),
        F.lit(None).cast("string").alias("dataset"),
    )
    return format_nt_expr(quads).orderBy("line")


def _q_quad_parse(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    lines = docs.select(
        F.concat(
            F.lit("<http://example.org/doc/"), F.col("doc_id"),
            F.lit("> <http://example.org/ontology/source> \""), F.col("source"),
            F.lit('" <http://example.org/g/'), F.col("lang"), F.lit("> ."),
        ).alias("line")
    )
    return parse_nt_lines(lines).select("subject", "predicate", "obj", "datatype", "graph")


def _q_star_group(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    return (
        ev.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.count_distinct("event_type").alias("n_types"),
            F.min("event_type").alias("first_type"),
            F.array_join(F.sort_array(F.collect_set("event_type")), ",").alias("types_csv"),
        )
    )


def _q_text_metrics(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        T.token_count(F.col("text")).alias("n_tokens"),
        T.punct_ratio(F.col("text")).alias("punct_ratio"),
        T.fingerprint(F.col("text")).alias("fp"),
    )


def _q_cosine_topk(spark, sf_dir):
    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.where(F.col("vec_id") < 10)
    return cosine_topk(emb, queries, k=3).select("query_id", "rank", "neighbor_id")


def _q_jaccard_pairs(spark, sf_dir):
    # max_shingle_df effectively unbounded: the oracle replays UNCAPPED
    # all-pairs Jaccard, and the production default (1000) changes both the
    # candidate set and the set sizes once a shingle goes hot — a
    # data-dependent divergence that would only surface at larger sf
    # (round-4 review finding). The cap itself is pytest-covered.
    docs = _t(spark, sf_dir, "documents")
    return ngram_jaccard_pairs(docs, shingle_n=3, threshold=0.5,
                               max_shingle_df=1 << 31).select(
        "id_a", "id_b", F.round("jaccard", 6).alias("jaccard")
    )


def _q_salted_join(spark, sf_dir):
    orders = _t(spark, sf_dir, "orders").withColumnRenamed("o_custkey", "k")
    customer = _t(spark, sf_dir, "customer").withColumnRenamed("c_custkey", "k")
    return (
        salted_join(orders, customer, "k", salt_buckets=4)
        .groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("o_totalprice").cast("decimal(18,4)")).cast("double").alias("revenue"),
        )
        .orderBy("c_mktsegment")
    )


def _q_anti_join(spark, sf_dir):
    customer = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders")
    return customer.join(
        orders.select(F.col("o_custkey").alias("c_custkey")).distinct(),
        "c_custkey", "left_anti",
    ).select("c_custkey")


def _q_sessionize(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    # interval comparison is TZ-free, exact on fractional seconds, and
    # accepts TIMESTAMP_NTZ (driver parquet)
    is_gap = F.col("ts") > F.expr("__prev + INTERVAL 30 MINUTES")
    new_sess = F.when(F.col("__prev").isNull() | is_gap, 1).otherwise(0)
    return (
        ev.withColumn("__prev", F.lag("ts").over(w))
        .withColumn("__new", new_sess)
        .groupBy("user_id")
        .agg(F.sum("__new").alias("n_sessions"), F.count(F.lit(1)).alias("n_events"))
    )


def _q_connected_components(spark, sf_dir):
    nation = _t(spark, sf_dir, "nation")
    edges = nation.select(
        F.format_string("n%02d", F.col("n_nationkey")).alias("src_iri"),
        F.format_string("r%02d", F.col("n_regionkey")).alias("dst_iri"),
    )
    return connected_components(edges).orderBy("node")


def _q_lang_id(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    return docs.select("doc_id", T.lang_id_heuristic(F.col("text")).alias("lang_guess"))


def _q_extract_kg(spark, sf_dir):
    # assume_bucketed: the turn_idx window already conv-groups + turn-orders
    # the rows (see entry()); stable_order's re-shuffle would be redundant
    tr = _events_as_transcripts(spark, sf_dir)
    quads = extract_quads(tr, _GAZ, assume_bucketed=True)
    return quads.select("subject", "predicate", "obj", "graph").distinct()


def _q_extract_kg_shuffled(spark, sf_dir):
    """The NON-bucketed extraction path: assume_bucketed=False forces
    stable_order's explicit repartition-by-conv_id + in-partition secondary
    sort before extraction (plans/pipeline.py:77) — the path a fresh or
    unclustered table takes (reference sorted-group traversal,
    QuadReader.scala:44-62). Same oracle as extract_kg: the shuffle must not
    change the emitted quads."""
    tr = _events_as_transcripts(spark, sf_dir)
    quads = extract_quads(tr, _GAZ, assume_bucketed=False)
    return quads.select("subject", "predicate", "obj", "graph").distinct()


def _q_resume_pipeline(spark, sf_dir):
    """Checkpoint/resume gate (BASELINE.md resumability target, driver-gated
    per round-3 verdict item 6; ref QuadReader.scala:163-203 resumable scan).

    Inside one query: (1) run the bucketed extraction through
    run_checkpointed and CRASH it mid-job after 3 of 8 bucket commits (a
    raising process callable = the driver dying between commits); (2) resume
    against the same ledger — asserting in-query that the resumed run
    invokes the process for EXACTLY the 5 missing buckets, never the
    committed ones; (3) read the combined on-disk output back. The oracle
    SQL computes the uninterrupted full extraction independently, so the
    hash match proves crash+resume ≡ one clean run. Side effects live in a
    fresh temp dir (left for /tmp cleanup — the returned DataFrame lazily
    reads from it, so deleting here would break the driver's collect)."""
    import tempfile

    tr = _events_as_transcripts(spark, sf_dir)
    workdir = tempfile.mkdtemp(prefix="resume_gate_")
    out = os.path.join(workdir, "out")
    _crash_resume(tr, out, os.path.join(workdir, "ledger.jsonl"),
                  n_buckets=8, crash_after=3)
    return (
        spark.read.parquet(out)
        .select("subject", "predicate", "obj", "graph").distinct()
    )


def _crash_resume(tr, out, ledger, n_buckets, crash_after, bucket_col=None):
    """Shared crash/resume scaffolding for the two resume gates: run the
    bucketed extraction through run_checkpointed, CRASH after `crash_after`
    of `n_buckets` bucket commits, resume against the same ledger, and
    assert the resumed run invokes the process for EXACTLY the missing
    buckets. A dedicated exception class keeps a genuine Spark/py4j
    RuntimeError raised before the injected crash from being misread as
    the simulated failure (round-4 advice) — the gate must never "resume"
    against a ledger whose state it doesn't actually know."""
    from quad_processor_util_spark.plans.checkpoint import run_checkpointed

    def _process(df):
        return extract_quads(df, _GAZ, assume_bucketed=True).select(
            "subject", "predicate", "obj", "graph")

    class _SimulatedCrash(RuntimeError):
        pass

    calls = {"n": 0}

    def _crashing(df):
        if calls["n"] >= crash_after:
            raise _SimulatedCrash("simulated driver crash between bucket commits")
        calls["n"] += 1
        return _process(df)

    crashed = False
    try:
        run_checkpointed(tr, _crashing, out, ledger, n_buckets=n_buckets,
                         bucket_col=bucket_col)
    except _SimulatedCrash:
        crashed = True
    if not crashed:
        raise AssertionError("resume gate: simulated crash did not fire")

    resumed = {"n": 0}

    def _counting(df):
        resumed["n"] += 1
        return _process(df)

    run_checkpointed(tr, _counting, out, ledger, n_buckets=n_buckets,
                     bucket_col=bucket_col)
    if resumed["n"] != n_buckets - crash_after:
        raise AssertionError(
            f"resume gate: resumed run processed {resumed['n']} buckets, "
            f"expected {n_buckets - crash_after} (completed buckets must be "
            f"skipped, missing ones must all run)")


def _q_resume_bucketed(spark, sf_dir):
    """Bucket-partitioned-at-rest resume gate (round-5 verdict item 7): the
    transcripts are first LAID OUT by the ledger bucket
    (write_bucketed_transcripts — plain-parquet spelling of an Iceberg
    bucket(n, conv_id) partition spec), then run_checkpointed(bucket_col=
    'bucket') crashes after 2 of 6 bucket commits and resumes. Unlike
    resume_pipeline (compute-bucket-on-the-fly: B full scans), every
    per-bucket filter here hits the PARTITION column — the gate asserts
    in-query that the scan plan carries a PartitionFilters entry on
    `bucket` (the pruned plan is also pinned by
    tests/test_plan_contract.py::test_resumed_bucket_partition_prunes).
    Oracle: the uninterrupted full extraction — layout + crash + pruned
    resume must be invisible in the output."""
    import tempfile

    from quad_processor_util_spark.plans.checkpoint import (
        write_bucketed_transcripts,
    )

    workdir = tempfile.mkdtemp(prefix="resume_bucketed_")
    layout = os.path.join(workdir, "transcripts_bucketed")
    out = os.path.join(workdir, "out")
    n_buckets = 6

    write_bucketed_transcripts(
        _events_as_transcripts(spark, sf_dir), layout, n_buckets=n_buckets)
    at_rest = spark.read.parquet(layout)

    pruned_plan = (
        at_rest.where(F.col("bucket") == 0)
        ._jdf.queryExecution().executedPlan().toString())
    if "PartitionFilters" not in pruned_plan or \
            "bucket" not in pruned_plan.split("PartitionFilters", 1)[1][:200]:
        raise AssertionError(
            "resume_bucketed gate: bucket predicate did not land as a "
            "partition filter — the at-rest layout is not pruning")

    _crash_resume(at_rest, out, os.path.join(workdir, "ledger.jsonl"),
                  n_buckets=n_buckets, crash_after=2, bucket_col="bucket")
    return (
        spark.read.parquet(out)
        .select("subject", "predicate", "obj", "graph").distinct()
    )


def _q_pipeline_metrics(spark, sf_dir):
    """Counter-metrics gate (A3, LogRecorder analog — round 4 upgrades it
    from pytest-only): input/output row counters ride the extraction job as
    df.observe() aggregates (ZERO extra passes — the reference's counters
    accumulate during the write, LogRecorder.scala:234-251), then surface as
    a (metric, value) table. Oracle: both counters equal count(events) —
    every events-derived turn mentions exactly one (person, org) pair, so
    pre-dedup extraction emits exactly one quad per turn."""
    import pandas as pd

    from quad_processor_util_spark.plans.metrics import observed_counts

    tr = _events_as_transcripts(spark, sf_dir)
    # one plan carries BOTH CollectMetrics nodes — names must differ
    tr_obs, obs_in = observed_counts(tr, "turns_in")
    quads = extract_quads(tr_obs, _GAZ, assume_bucketed=True)
    quads_obs, obs_out = observed_counts(quads, "quads_out")
    quads_obs.count()  # ONE action populates both observations
    final = pd.DataFrame({
        "metric": ["quads_out", "turns_in"],
        "value": [int(obs_out.get["rows"]), int(obs_in.get["rows"])],
    })
    return spark.createDataFrame(final)


def _q_stream_extract(spark, sf_dir):
    """Structured-Streaming gate (§2.11, round-4: upgrades streaming from
    pytest-only to a driver CORRECTNESS row): transcripts written as 16
    parquet file drops → readStream (maxFilesPerTrigger=8, so ≥2
    micro-batches) → the SAME extraction mapInPandas as batch → exactly-once
    parquet append sink (availableNow drains everything, then stops) → read
    back. Oracle = the batch extraction SQL: stream and batch must emit
    identical quads."""
    import tempfile

    from quad_processor_util_spark.streaming.ingest import (
        read_transcript_stream, run_stream_to_parquet, streaming_extract,
    )

    workdir = tempfile.mkdtemp(prefix="stream_gate_")
    in_dir = os.path.join(workdir, "in")
    out_dir = os.path.join(workdir, "out")
    ckpt = os.path.join(workdir, "ckpt")
    # events parquet carries TIMESTAMP_NTZ; the stream source schema declares
    # LTZ — cast before writing the drops (monotone, so gap logic unchanged)
    (_events_as_transcripts(spark, sf_dir)
     .withColumn("ts", F.col("ts").cast("timestamp"))
     .repartition(16).write.parquet(in_dir))
    quads = streaming_extract(read_transcript_stream(spark, in_dir), _GAZ)
    run_stream_to_parquet(quads, out_dir, ckpt).awaitTermination()
    return (
        spark.read.parquet(out_dir)
        .select("subject", "predicate", "obj", "graph").distinct()
    )


def _q_stream_sessionize(spark, sf_dir):
    """Stateful-streaming gate: applyInPandasWithState session counting must
    converge to the batch answer once the stream drains. Input files are
    clustered by conv_id (each conversation fully inside one file drop →
    one trigger sees all its rows in event order; cross-trigger state is
    still exercised across the 2 micro-batches). The update-mode rows are
    captured per-trigger via foreachBatch and the LAST emission per
    conversation is the final state — one row per conv per trigger, bounded
    driver work by construction (gate harness only; production points the
    update sink at a store)."""
    import tempfile

    import pandas as pd

    from quad_processor_util_spark.streaming.ingest import (
        read_transcript_stream, streaming_sessionize,
    )

    workdir = tempfile.mkdtemp(prefix="stream_sess_")
    in_dir = os.path.join(workdir, "in")
    ckpt = os.path.join(workdir, "ckpt")
    (_events_as_transcripts(spark, sf_dir)
     .withColumn("ts", F.col("ts").cast("timestamp"))
     .repartition(16, "conv_id").write.parquet(in_dir))
    sess = streaming_sessionize(
        read_transcript_stream(spark, in_dir), gap_minutes=30)
    acc: list = []

    def _capture(bdf, bid):
        acc.append(bdf.toPandas().assign(__b=bid))

    (sess.writeStream.outputMode("update").foreachBatch(_capture)
     .option("checkpointLocation", ckpt)
     .trigger(availableNow=True).start().awaitTermination())
    allb = pd.concat(acc, ignore_index=True)
    final = (allb.sort_values(["conv_id", "__b"], kind="stable")
             .groupby("conv_id", sort=False).tail(1)
             [["conv_id", "n_sessions", "n_turns"]])
    return spark.createDataFrame(final)


def _q_stream_dedup(spark, sf_dir):
    """Streaming exact-dedup gate (§2.11, 4th streaming gate — the
    streaming face of the batch U1 identity dedup): the transcripts table
    is written TWICE into the stream directory (8 + 8 file drops, so the
    two copies of every row land in different micro-batches at
    maxFilesPerTrigger=8) → dropDuplicatesWithinWatermark on
    (conv_id, turn_idx) with a delay spanning the whole event range —
    state is never evicted during the drain, so the drained append sink
    must equal batch DISTINCT exactly (production narrows the delay to
    bound state; the guarantee narrows with it). Duplicates are identical
    in every column, so first-occurrence semantics are deterministic."""
    import tempfile

    from quad_processor_util_spark.streaming.ingest import (
        read_transcript_stream, run_stream_to_parquet, streaming_dedup,
    )

    workdir = tempfile.mkdtemp(prefix="stream_dedup_")
    in_dir = os.path.join(workdir, "in")
    out_dir = os.path.join(workdir, "out")
    ckpt = os.path.join(workdir, "ckpt")
    tr = (_events_as_transcripts(spark, sf_dir)
          .withColumn("ts", F.col("ts").cast("timestamp")))
    tr.repartition(8).write.parquet(in_dir)
    tr.repartition(8).write.mode("append").parquet(in_dir)
    deduped = streaming_dedup(
        read_transcript_stream(spark, in_dir),
        ["conv_id", "turn_idx"], watermark_col="ts", delay="3650 days")
    run_stream_to_parquet(deduped, out_dir, ckpt).awaitTermination()
    return spark.read.parquet(out_dir).select(
        "conv_id", "turn_idx", "role", "text")


def _q_entity_pagerank(spark, sf_dir):
    """Entity-importance gate (round-5): damped PageRank with dangling-mass
    redistribution over the extracted worksAt KG (person -> org edges; all
    orgs are dangling, so the redistribution path is load-bearing, not
    decorative). 3 synchronous rounds, ranks rounded to 6 dp; the oracle
    unrolls the 3 rounds as CTEs over the same extraction SQL — the
    fixed-iteration face of an iterative algorithm, like the recursive-CTE
    closure oracle of dedup_clusters."""
    from quad_processor_util_spark.operators.pagerank import pagerank

    quads = extract_quads(
        _events_as_transcripts(spark, sf_dir), _GAZ, assume_bucketed=True)
    edges = quads.select(F.col("subject").alias("src"),
                         F.col("obj").alias("dst"))
    pr = pagerank(edges, iterations=3)
    return pr.select("node", F.round("rank", 6).alias("rank"))


def _pagerank_oracle_sql(iters: int = 3, damping: float = 0.85) -> str:
    """Unroll `iters` PageRank rounds as CTEs (the iteration count is
    data, the SQL is mechanical — same pattern as _bpe_encode_oracle_sql)."""
    parts = [f"""
        WITH e AS (
          SELECT DISTINCT subject AS src, obj AS dst
          FROM ({_EXTRACT_CORE_SQL}) core
        ),
        nodes AS (SELECT src AS node FROM e UNION SELECT dst FROM e),
        nn AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM nodes),
        outdeg AS (SELECT src, CAST(count(*) AS DOUBLE) AS deg
                   FROM e GROUP BY src),
        r0 AS (SELECT node, 1.0 / (SELECT n FROM nn) AS rank FROM nodes)"""]
    for i in range(1, iters + 1):
        parts.append(f""",
        d{i} AS (SELECT coalesce(sum(r.rank), 0) AS mass
                 FROM r{i - 1} r LEFT JOIN outdeg o ON r.node = o.src
                 WHERE o.src IS NULL),
        c{i} AS (SELECT e.dst AS node, sum(r.rank / o.deg) AS c
                 FROM e JOIN r{i - 1} r ON e.src = r.node
                        JOIN outdeg o ON e.src = o.src
                 GROUP BY e.dst),
        r{i} AS (SELECT nodes.node,
                        (1 - {damping}) / (SELECT n FROM nn)
                        + {damping} * (coalesce(c.c, 0)
                           + (SELECT mass FROM d{i}) / (SELECT n FROM nn))
                          AS rank
                 FROM nodes LEFT JOIN c{i} c USING (node))""")
    parts.append(f"""
        SELECT node, round(rank, 6) AS rank FROM r{iters}""")
    return "".join(parts)


def _q_snapshot_merge(spark, sf_dir):
    """Lakehouse MERGE gate (round-5): copy-on-write merge_upsert over the
    parquet+sidecar table, all three arms exercised deterministically —
    event_id % 7 rows updated (prefixed type, doubled value — exact in
    binary), % 11 rows deleted (including keys hit by both arms), % 13
    rows re-inserted under key + 1e9 (collision-free by range). The merged
    snapshot lands in a NEW directory whose sidecar commit records the
    parent; the oracle replays the three arms as UNION ALL branches."""
    import tempfile

    from quad_processor_util_spark.sources.io import merge_upsert, write_table

    workdir = tempfile.mkdtemp(prefix="merge_gate_")
    base_path = os.path.join(workdir, "base")
    out_path = os.path.join(workdir, "merged")
    ev = _t(spark, sf_dir, "events").select(
        "event_id", "user_id", "event_type", "value")
    write_table(ev, base_path)
    upd = ev.where((F.col("event_id") % 7 == 0)
                   | (F.col("event_id") % 11 == 0)).select(
        "event_id", "user_id",
        F.concat(F.lit("merged_"), F.col("event_type")).alias("event_type"),
        (F.col("value") * 2).alias("value"),
        (F.col("event_id") % 11 == 0).alias("__del"))
    ins = ev.where(F.col("event_id") % 13 == 0).select(
        (F.col("event_id") + F.lit(1000000000)).alias("event_id"),
        "user_id",
        F.lit("inserted").alias("event_type"),
        F.col("event_id").cast("double").alias("value"),
        F.lit(False).alias("__del"))
    out = merge_upsert(spark, base_path, upd.unionByName(ins),
                       ["event_id"], out_path, delete_col="__del")
    return out.select("event_id", "user_id", "event_type", "value")


def _q_compact_table(spark, sf_dir):
    """Small-file compaction gate (round-5, rewrite_data_files analog):
    the events projection deliberately shattered into 64 part files, then
    compacted into a new snapshot. The query asserts IN-LINE that the
    file count actually dropped to the sidecar's files_after and that the
    commit records the parent; the oracle checks content is untouched
    (compaction must be a physical-layout-only operation)."""
    import glob
    import tempfile

    from quad_processor_util_spark.sources.io import (
        compact_table, read_table_meta, write_table,
    )

    workdir = tempfile.mkdtemp(prefix="compact_gate_")
    base_path = os.path.join(workdir, "base")
    out_path = os.path.join(workdir, "compacted")
    ev = _t(spark, sf_dir, "events").select(
        "event_id", "user_id", "event_type", "value")
    write_table(ev.repartition(64), base_path)
    n_before = len(glob.glob(os.path.join(base_path, "*.parquet")))
    out = compact_table(spark, base_path, out_path,
                        target_file_bytes=64 << 20)
    n_after = len(glob.glob(os.path.join(out_path, "*.parquet")))
    m = read_table_meta(out_path)
    if not (n_before == 64 and n_after == m["files_after"]
            and n_after < n_before and m["parent"] == base_path
            and m["files_before"] == 64):
        raise AssertionError(
            f"compact_table gate: layout contract broken "
            f"(before={n_before}, after={n_after}, meta={m})")
    return out


def _q_profile_events(spark, sf_dir):
    """Single-pass table census (round-5): rows / nulls / exact distincts
    for every events column in ONE aggregate (multi-distinct planned as
    one Expand + two-phase agg over a single scan) + a stack unpivot. The
    oracle recomputes each column's census as a UNION ALL branch."""
    from quad_processor_util_spark.operators.profile import profile_table

    return profile_table(_t(spark, sf_dir, "events"))


def _profile_events_oracle_sql() -> str:
    cols = ["event_id", "ts", "user_id", "event_type", "value", "props"]
    branches = [
        f"""SELECT '{c}' AS col_name,
                   CAST(count(*) AS BIGINT) AS n_rows,
                   CAST(sum(CASE WHEN {c} IS NULL THEN 1 ELSE 0 END)
                        AS BIGINT) AS n_null,
                   CAST(count(DISTINCT {c}) AS BIGINT) AS n_distinct
            FROM events"""
        for c in cols
    ]
    return "\nUNION ALL\n".join(branches)


def _q_jsonl_roundtrip(spark, sf_dir):
    """JSONL interchange gate (round-5): the documents table exported as
    gzip JSONL shards (the LLM-training handoff format) and read back
    under an explicit schema must round-trip every row bit-for-bit — the
    oracle is the untouched projection. Exercises JSON string escaping
    (quotes/controls in text) through a real write+read, not expression
    evaluation."""
    import tempfile

    from quad_processor_util_spark.sources.io import read_jsonl, write_jsonl

    workdir = tempfile.mkdtemp(prefix="jsonl_gate_")
    path = os.path.join(workdir, "docs_jsonl")
    docs = _t(spark, sf_dir, "documents").select("doc_id", "lang", "text")
    write_jsonl(docs, path, compression="gzip")
    return read_jsonl(spark, path, "doc_id bigint, lang string, text string")


def _q_table_sidecar(spark, sf_dir):
    """File-sink + commit-metadata gate (S6, StreamSourceMetaData.scala:7-49
    header analog — round 4 upgrades it from pytest-only): write the
    transcripts through write_table with a row-count in the commit meta,
    then verify BOTH surfaces — the table re-read and the sidecar's
    recorded counter — agree with the oracle's count(events), and that an
    empty append commit grows the snapshot-log history to length 2."""
    import tempfile

    from quad_processor_util_spark.sources.io import (
        read_table_meta, write_table,
    )

    workdir = tempfile.mkdtemp(prefix="sidecar_")
    path = os.path.join(workdir, "tbl")
    tr = _events_as_transcripts(spark, sf_dir)
    # deliberate extra pass: the count must land INSIDE the commit's meta,
    # which write_table serializes before its write triggers any
    # observation — production counter-riding-the-job is pipeline_metrics'
    # gate (observe()) and run_checkpointed's ledger; this gate checks the
    # sidecar CONTENT, and two passes over sf0.01 is fine for a gate
    n = tr.count()
    write_table(tr, path, meta={"rows": n, "source": "events"})
    # empty append commit: table content unchanged, commit HISTORY grows —
    # the snapshot-log accumulation semantics
    write_table(tr.limit(0), path, mode="append", meta={"rows": 0})
    side = read_table_meta(path)
    rows = [
        ("table_rows", spark.read.parquet(path).count()),
        ("first_commit_rows", int(side["commits"][0]["rows"])),
        ("sidecar_commits", len(side["commits"])),
    ]
    return spark.createDataFrame(rows, "key string, value long")


def _q_turn_rate(spark, sf_dir):
    """Watermarked windowed-aggregation gate (§2.11 turn_rate_windows — the
    LogRecorder periodic-throughput analog, previously untested): 5-minute
    tumbling windows per role over the drained stream must equal batch
    time-bucketing. complete-mode foreachBatch capture; the LAST batch holds
    the full aggregation. Window starts surface as epoch seconds (container
    and both engines run UTC; Spark aligns tumbling windows to the epoch,
    so start = floor(epoch/300)*300 — exactly the oracle's bucketing)."""
    import tempfile

    import pandas as pd

    from quad_processor_util_spark.streaming.ingest import (
        read_transcript_stream, turn_rate_windows,
    )

    workdir = tempfile.mkdtemp(prefix="turnrate_")
    in_dir = os.path.join(workdir, "in")
    ckpt = os.path.join(workdir, "ckpt")
    (_events_as_transcripts(spark, sf_dir)
     .withColumn("ts", F.col("ts").cast("timestamp"))
     .repartition(16).write.parquet(in_dir))
    agg = turn_rate_windows(read_transcript_stream(spark, in_dir))
    acc: list = []

    def _cap(bdf, bid):
        acc.append(
            bdf.select(F.col("window.start").cast("long").alias("w_start"),
                       "role", "turns").toPandas().assign(__b=bid))

    (agg.writeStream.outputMode("complete").foreachBatch(_cap)
     .option("checkpointLocation", ckpt)
     .trigger(availableNow=True).start().awaitTermination())
    allb = pd.concat(acc, ignore_index=True)
    final = allb[allb["__b"] == allb["__b"].max()][["w_start", "role", "turns"]]
    return spark.createDataFrame(final)


def _q_multi_sink(spark, sf_dir):
    """Multi-sink fan-out gate (S7, CompositeDestination.scala:13-35 —
    previously pytest-only): ONE extraction fanned out to two sinks (full
    quads parquet; per-graph counts parquet) through write_composite's
    persist-once scan, then both sinks read back and combined. Oracle
    recomputes both from events (one quad per turn pre-dedup)."""
    import tempfile

    from quad_processor_util_spark.sources.io import write_composite

    workdir = tempfile.mkdtemp(prefix="multisink_")
    p1 = os.path.join(workdir, "quads")
    p2 = os.path.join(workdir, "by_graph")
    quads = extract_quads(_events_as_transcripts(spark, sf_dir), _GAZ,
                          assume_bucketed=True)
    write_composite(quads, [
        lambda d: d.write.mode("overwrite").parquet(p1),
        lambda d: (d.groupBy("graph").agg(F.count(F.lit(1)).alias("n"))
                   .write.mode("overwrite").parquet(p2)),
    ])
    totals = (spark.read.parquet(p1).agg(F.count(F.lit(1)).alias("n"))
              .select(F.lit("__total_quads").alias("key"), "n"))
    per_graph = (spark.read.parquet(p2)
                 .select(F.concat(F.lit("graph="), F.col("graph")).alias("key"),
                         "n"))
    return totals.unionByName(per_graph)


def _q_minhash_dedup(spark, sf_dir):
    # md5-based signatures + concat band buckets: the exact pipeline is
    # replayable in DuckDB (oracle below); default xxhash64 variant is the
    # production path, covered by pytest
    docs = _t(spark, sf_dir, "documents")
    return minhash_dedup(docs, num_hashes=36, bands=6, threshold=0.7,
                         hash_kind="md5", bucket_kind="concat").select("doc_id")


def _q_dedup_clusters(spark, sf_dir):
    """Cluster-form near-dup labeling: every doc gets the min doc id of its
    connected component over VERIFIED minhash-LSH pairs (transitive
    closure — the semantics large dedup pipelines keep, stronger than
    pair-loser dropping). md5/concat gate variant so DuckDB replays the
    signatures; closure replayed with a recursive CTE."""
    from quad_processor_util_spark.operators.dedup import dedup_clusters

    docs = _t(spark, sf_dir, "documents")
    return dedup_clusters(docs, num_hashes=36, bands=6, threshold=0.7,
                          hash_kind="md5", bucket_kind="concat")


def _dedup_clusters_oracle_sql(num_hashes: int = 36, bands: int = 6,
                               threshold: float = 0.7, seed: int = 42) -> str:
    """DuckDB replay of dedup_clusters: same signatures/banding/verify as
    the minhash oracle but WITHOUT the rep collapse (matching the gate
    variant), then connected components as a recursive reachability CTE
    with cluster id = least(own id, min reachable id)."""
    from quad_processor_util_spark.operators.dedup import _perm_coeffs

    coeffs = _perm_coeffs(num_hashes, seed)
    mh_aggs = ",\n         ".join(
        f"min((h * {a} + {b}) % {_MERSENNE}) AS mh_{i}"
        for i, (a, b) in enumerate(coeffs)
    )
    rpb = num_hashes // bands
    banded = "\n  UNION ALL\n".join(
        "  SELECT doc_id, {b} AS band, concat_ws('_', {cols}) AS bucket FROM sig"
        .format(b=b, cols=", ".join(f"mh_{b * rpb + r}" for r in range(rpb)))
        for b in range(bands)
    )
    return f"""
WITH RECURSIVE grams AS ({_GRAMS_SQL}),
h AS (
  SELECT doc_id,
         (('0x' || substr(md5(sh), 1, 15))::BIGINT % {_MERSENNE}) AS h
  FROM (SELECT doc_id, unnest(g) AS sh FROM grams)
),
sig AS (
  SELECT doc_id,
         {mh_aggs}
  FROM h GROUP BY doc_id
),
banded AS (
{banded}
),
cands AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b
  FROM banded a JOIN banded b USING (band, bucket)
  WHERE a.doc_id < b.doc_id
  GROUP BY 1, 2
),
ver AS (
  SELECT id_a, id_b
  FROM cands
  JOIN grams ga ON ga.doc_id = id_a
  JOIN grams gb ON gb.doc_id = id_b
  WHERE len(list_intersect(ga.g, gb.g)) * 1.0
        / len(list_distinct(ga.g || gb.g)) >= {threshold}
),
e AS (
  SELECT id_a AS a, id_b AS b FROM ver
  UNION
  SELECT id_b AS a, id_a AS b FROM ver
),
reach(node, r) AS (
  SELECT a, b FROM e
  UNION
  SELECT reach.node, e.b FROM reach JOIN e ON reach.r = e.a
)
SELECT d.doc_id,
       least(d.doc_id, coalesce(min(reach.r), d.doc_id)) AS cluster_id
FROM documents d
LEFT JOIN reach ON reach.node = d.doc_id
GROUP BY d.doc_id
"""


def _q_simhash(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    return simhash_signatures(docs, bits=60, hash_kind="md5").select(
        "doc_id", "simhash"
    )


# driver testdata embedding dimension (TESTDATA.md; array<float> schema does
# not carry a length, and a driver-side .first() per query build is a scan)
_EMB_DIM = 64


def _q_lsh_topk(spark, sf_dir):
    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.where(F.col("vec_id") < 10)
    return lsh_topk(emb, queries, dim=_EMB_DIM, k=3, planes=4, tables=16).select(
        "query_id", "rank", "neighbor_id"
    )


# Spherical-k-means centroids FITTED OFFLINE on the sf0.01 embeddings table
# (k-means++ cosine init, 40 Lloyd iterations on L2-normalized vectors,
# rounded to 8 decimals) and inlined as constants — per the round-4 verdict:
# the earlier seeded-random hyperplane centroids gave gate recall@3 = 0.57,
# understating the production k-means path. With fitted centroids the gate
# measures production-quality quantization (recall@3 = 0.867 at the driver's
# sf0.01 gate scale, scan fraction nprobe/n_lists = 6/16 = 0.375, same as the
# old 3/8) while staying exactly SQL-replayable: these literal float64 values
# are passed to ivf_topk AND inlined into the DuckDB oracle verbatim.
# Refit recipe: tools/fit_ivf_gate.py.
_IVF_GATE_NLISTS = 16
_IVF_GATE_NPROBE = 6
_IVF_FITTED_CENTROIDS = [
    [-0.0194598, 0.16237942, 0.0630267, 0.08837967, 0.0499348, -0.04806802, -0.08977407, -0.12174148, -0.10255735, -0.0192274, -0.00982012, 0.10699524, 0.12195717, -0.09758815, 0.07186651, -0.0609688, -0.20098433, 0.05262279, 0.13239613, -0.00549039, 0.03666031, 0.07101863, -0.15827373, 0.14156964, 0.03512701, 0.29678733, -0.07735587, -0.12529997, 0.1418781, 0.21514635, -0.07577645, -0.09045845, 0.03475821, -0.06872757, -0.14659475, -0.04658333, -0.07497056, -0.06372619, -0.05570274, -0.15751736, 0.16741134, -0.2114662, -0.06141463, -0.13162431, -0.16889988, 0.1422768, -0.06547482, 0.05445869, 0.02039568, -0.3253556, 0.0526968, -0.14883248, -0.03557748, 0.01259326, -0.21913184, -0.1252422, 0.13424363, 0.0858057, 0.26533712, -0.06398573, 0.01529118, 0.14031046, -0.20030857, 0.03496918],
    [-0.08199237, -0.01502369, 0.07018981, -0.13669165, 0.13878215, -0.0476276, -0.05676074, 0.3197734, -0.05383391, -0.08045663, 0.15113799, -0.0559721, 0.06149453, -0.11702351, -0.08174526, -0.09813863, -0.10910988, 0.17773747, -0.0089899, -0.0623656, -0.06012091, -0.1107386, -0.05790648, -0.127476, -0.11912771, 0.1272168, -0.1443922, 0.21250404, -0.13148513, 0.05314025, 0.0069256, -0.14664062, 0.1467299, 0.13374048, 0.16330195, 0.09303032, -0.11933052, 0.08867848, 0.05234538, 0.15426863, -0.09598628, -0.12290379, 0.23765133, 0.15996539, -0.21732474, 0.0534474, -0.08907337, -0.07570224, -0.07533923, 0.04802829, 0.13140019, 0.27586633, -0.10558941, 0.10198903, 0.31707023, -0.09533694, 0.01580001, -0.02705022, 0.00306455, -0.12182727, 0.00836259, -0.08257143, -0.05934364, 0.00449647],
    [0.01407703, -0.13916894, 0.12176684, -0.03070437, 0.03367637, -0.07493441, 0.14433521, -0.17837288, 0.17813204, 0.02566354, -0.08665618, -0.19508951, 0.14901976, 0.08390875, 0.00078231, -0.1047737, 0.10037653, -0.15280245, -0.26909832, 0.13626682, 0.20912078, 0.04387739, -0.10382685, -0.05662758, 0.20352456, 0.05361174, -0.13229829, 0.15064142, -0.03006731, 0.03007082, 0.03990457, -0.12727838, 0.1222951, -0.00205348, 0.16715156, -0.06222996, 0.11487573, -0.13427211, -0.15044858, 1.041e-05, -0.12575992, 0.07270204, 0.0976399, -0.09628269, -0.08781975, 0.05320825, -0.12070128, -0.04423501, -0.0301121, -0.15096029, -0.07159821, 0.06450566, 0.09703246, -0.11336723, 0.18302379, -0.03094517, -0.10275017, -0.11814303, 0.26025276, 0.27234248, -0.0396325, -0.12904772, 0.22939682, -0.06603934],
    [0.01163205, -0.05708794, 0.01278683, -0.02047974, -0.07646166, 0.14438877, 0.08922794, 0.000826, -0.02316424, -0.08880946, 0.03072447, 0.06429775, -0.12210963, 0.37837635, -0.02598216, -0.04657748, -0.20114945, -0.30233233, -0.12521551, 0.05089255, -0.07416614, -0.02919538, -0.16223179, 0.1517433, 0.1324419, 0.04676707, -0.03742175, -0.06187058, -0.17058081, -0.10445136, -0.04365163, 0.09093152, 0.04960191, -0.07754182, -0.08606304, -0.1117573, 0.05851904, 0.1724401, -0.09761836, 0.07778496, 0.01059745, -0.30535057, -0.18562366, -0.02755089, -0.02273192, 0.04506507, 0.00974856, -0.17122823, 0.15013561, 0.11998185, 0.23821525, 0.08313037, 0.08398485, 0.10640323, -0.09779811, 0.12365089, 0.0456503, -0.01432244, 0.04950632, 0.05424128, 0.18293339, -0.20861654, -0.01059854, -0.19931998],
    [0.06178119, -0.01387867, -0.12480568, 0.22592491, -0.12832592, 0.02100041, -0.00409432, -0.12307748, -0.2220323, -0.24492621, -0.06260779, 0.03679384, -0.09335884, 0.13520244, -0.06467377, -0.0849335, 0.05284194, 0.08771497, -0.06207562, 0.07682685, -0.11130556, 0.19934995, 0.09588614, 0.10686162, -0.12699209, 0.02923032, -0.20044364, -0.04305478, 0.04043351, -0.04613189, 0.26653238, -0.16198548, -0.19896193, -0.10984566, 0.10062939, 0.09205933, 0.08784756, -0.16268789, -0.13599461, 0.0621657, 0.04374627, 0.08524898, 0.0714014, -0.19591945, -0.03884035, 0.17289249, 0.08768975, -0.0205251, 0.03384864, 0.03568918, -0.18250215, -0.11157658, 0.08491233, -0.16688902, -0.19836247, 0.04116188, 0.04459918, -0.11917882, -0.26425962, -0.10665081, -0.04407568, 0.08844714, 0.12510496, -0.15886454],
    [0.05748443, 0.00838174, -0.17464746, -0.096041, 0.08587061, 0.11688064, -0.09418123, 0.01883705, -0.23220036, -0.18335103, -0.12464253, 0.05690627, -0.22775032, 0.05434801, -0.19285082, 0.18547299, -0.1464231, 0.24717455, 0.15069036, -0.02731921, -0.06363183, -0.10354027, 0.09700222, -0.16279843, -0.21705064, -0.30623307, -0.06436234, -0.05006241, 0.11460309, -0.01473284, 0.05081651, -0.15469444, -0.06384515, -0.00019604, 0.02232802, 0.05622101, -0.0021751, 0.2890389, 0.13821701, -0.02745397, -0.02116412, 0.03441868, 0.22092743, 0.10157698, 0.18013834, 0.0969185, -0.02086096, -0.03560646, 0.1916271, -0.11837245, 0.14307842, 0.05325484, 0.00507245, -0.05731621, 0.0497854, -0.00873836, -0.05917444, 0.03816097, -0.01574486, 0.16370375, -0.07632122, 0.0302443, -0.10058107, 0.07502165],
    [0.11522395, -0.02564465, -0.01701563, 0.10320615, 0.14817282, 0.2173806, -0.34486626, -0.02455648, -0.02765249, -0.02087702, 0.25066002, 0.14216765, 0.09495595, -0.13844391, 0.0502951, -0.01947915, -0.01269933, 0.0429456, 0.00270669, -0.00356398, 0.04614612, -0.09065851, -0.15994324, -0.08150851, 0.15039467, 0.19176164, 0.20691622, 0.1590975, -0.01425577, 0.19484724, 0.00936692, -0.09854431, 0.25445891, 0.10956038, 0.0550609, 0.01630563, -0.08005331, 0.13980322, 0.0286503, -0.11640111, -0.07079843, -0.09267445, -0.22137348, 0.01319041, 0.02114901, -0.04467761, 0.03742564, -0.1216331, -0.03567591, -0.08800744, 0.05294834, -0.06475015, -0.0568478, 0.05787285, -0.03584267, 0.10684371, 0.17996973, 0.01164784, -0.07265872, 0.02179141, 0.411565, 0.06411638, -0.01384452, 0.04363194],
    [-0.13820189, -0.07411573, 0.05125121, 0.03653335, -0.01318326, 0.21172626, 0.07361818, 0.08251107, 0.21633064, 0.31084223, 0.08031651, 0.12264936, -0.17157356, -0.09254406, 0.12035265, 0.03178121, 0.20641891, 0.03679045, 0.19820053, -0.02667339, -0.02077833, -0.02570437, -0.03956736, 0.05871087, -0.03331875, -0.03417222, -0.05950134, 0.08401232, -0.14541382, -0.03176958, 0.10741534, 0.03752741, 0.26452405, -0.20564162, -0.06879272, -0.11908442, 0.01165006, -0.07466307, -0.0378868, 0.05458103, -0.0811211, 0.03454586, -0.11493646, 0.23203023, -0.02653041, -0.14404205, 0.06606725, 0.23508303, -0.14576751, 0.08428471, 0.13418539, -0.02225298, 0.1922638, -0.03635832, 0.11988914, 0.08799427, 0.02559613, -0.14958944, 0.01786716, -0.17023653, 0.00336439, 0.00518316, -0.29510061, -0.11768768],
    [0.14679248, 0.05782311, -0.04857237, -0.23404062, -0.08266013, -0.08717697, -0.06280532, 0.25252962, 0.06625905, 0.18199493, 0.13242805, -0.12672364, 0.22897696, -0.2130778, 0.28609855, 0.25268954, -0.11016595, 0.11409352, -0.05639797, -0.0230258, 0.06571718, -0.11830822, 0.01225975, 0.108923, 0.03452275, -0.08035517, -0.1715168, 0.13251368, -0.02205021, 0.11612667, 0.05123975, -0.00146745, -0.07705104, 0.07716981, 0.08111948, -0.03783737, -0.0598406, -0.06904874, 0.12185492, -0.22022966, 0.05543392, -0.22043874, 0.04775983, -0.08920085, -0.02091266, 0.0597703, -0.02921934, 0.17410999, -0.00694453, 0.03750584, 0.10145859, -0.06565316, -0.13663585, -0.08272833, -0.01932397, 0.05062986, 0.0188581, -0.12256558, -0.27918896, -0.05298343, 0.02609413, -0.12204664, 0.06464944, -0.20415345],
    [-0.12027973, 0.14898989, 0.0006576, -0.20136902, -0.02180256, -0.04793287, 0.07718687, -0.08856971, 0.06090808, 0.03102932, -0.01669821, -0.05243251, -0.17514541, 0.05173879, -0.13444854, -0.1116165, 0.1786348, 0.17767779, 0.10111678, -0.05634195, 0.17230162, -0.05478326, 0.16730261, -0.28264569, 0.05751294, -0.01510752, 0.06840276, -0.03882126, -0.07615391, -0.02759755, -0.06414156, 0.26840208, -0.14943441, -0.09259946, -0.00881188, -0.11072005, 0.24744704, -0.10241289, -0.09236798, -0.05736016, 0.18080243, 0.21617072, -0.07674228, -0.09113776, 0.05337253, 0.01355341, 0.22178043, 0.05460385, -0.19951154, -0.01128515, -0.13065162, 0.27369576, -0.01037536, 0.0993718, 0.00469631, -0.03557716, 0.03739599, 0.16406833, -0.19543171, 0.12511261, -0.06300375, 0.01726008, 0.11582345, -0.07818423],
    [-0.2121482, -0.17282164, -0.14491447, 0.07901963, 0.0287049, 0.00101753, -0.11681583, 0.26553392, -0.05527135, 0.12508101, 0.10550621, 0.04578796, -0.0639098, 0.03234508, -0.05508282, -0.15018484, -0.02588477, -0.32795122, -0.11185767, 0.08692511, -0.05682903, 0.10225883, 0.32664411, -0.00405016, 0.06491966, 0.21529894, -0.01812289, -0.03812579, -0.03081736, 0.09683224, 0.05750707, 0.24582966, 0.00776506, -0.10771329, 0.02995423, 0.13692908, -0.08845657, 0.10922211, -0.15691926, 0.05693046, -0.01932922, -0.005929, -0.05917738, 0.21092993, -0.11671067, -0.00940742, 0.17749193, -0.00931836, -0.07645319, -0.05445279, -0.01212069, -0.02544027, 0.04953642, -0.04973797, -0.27415122, -0.14860761, 0.06254022, -0.17644198, -0.05096821, 0.11366998, -0.07640796, 0.13445511, -0.03477064, -0.12270401],
    [0.29173808, -0.04715444, 0.16057234, -0.01642616, -0.0165689, -0.01393977, 0.10805697, 0.04577754, 0.00361426, 0.20961186, -0.04137123, -0.11396512, 0.06448988, 0.08863817, 0.06726365, 0.00466748, 0.11393038, 0.08524513, -0.02709569, 0.10053356, -0.20605178, 0.0363213, -0.07293129, -0.16792261, -0.00456273, 0.06647542, 0.14106413, 0.02791646, 0.00497771, -0.21318156, -0.07144092, -0.11780949, -0.04742301, -0.09092907, 0.04377953, 0.3074273, -0.0284402, -0.2461498, 0.07048136, 0.09100845, 0.03246162, 0.0645512, 0.05716896, -0.0815162, 0.14629147, -0.21071645, -0.14398375, 0.06846177, -0.0018505, -0.00362088, -0.14351058, -0.09335142, 0.10467562, -0.11499856, 0.18168666, -0.01427434, -0.08493935, 0.19006043, -0.0642357, -0.25222593, 0.03159903, 0.13939576, -0.29139727, -0.0900638],
    [-0.13650398, -0.16217953, -0.11219342, -0.04344067, 0.08450533, 0.1738576, -0.24204069, 0.0771198, 0.15442374, -0.03175338, -0.27163238, 0.30541393, 0.01686911, -0.01466301, 0.01245547, 0.18664636, 0.04992559, -0.05856267, 0.07751467, -0.03575944, 0.00790341, 0.19115029, -0.03737805, -0.07740203, -0.14265609, 0.22181765, 0.19023113, 0.11679215, 0.07863136, -0.1816032, -0.08894221, 0.11603916, -0.07587219, 0.01061168, 0.01147171, 0.04005554, -0.0615453, 0.17456658, -0.08385349, 0.03225442, -0.17613123, -0.09571168, -0.00355082, -0.04554437, 0.02270675, -0.14976223, -0.19458522, 0.05421337, -0.10603682, 0.05721231, 0.0819447, -0.1320223, -0.03647106, -0.10332573, -0.10908147, -0.03589648, -0.0930557, 0.24485702, 0.02052416, -0.10375424, -0.25724865, 0.063975, 0.04947007, -0.04284694],
    [-0.03052046, -0.01272113, 0.26256857, 0.00977731, -0.17048365, -0.27616143, 0.14449713, 0.02999663, -0.07592657, -0.09891352, -0.07250614, 0.06460642, 0.06753815, 0.12302323, -0.02914443, 0.01856267, -0.10262393, -0.14915524, -0.00666841, -0.01464325, -0.02863619, 0.01751796, 0.11489623, 0.06158165, 0.06042022, 0.10877826, 0.07179796, -0.02296738, 0.19645331, 0.16911796, 0.04469825, -0.08136083, 0.12054501, 0.20240932, -0.12627295, -0.14141951, -0.05209799, -0.10352853, 0.3880752, 0.09184466, 0.12350754, 0.03768365, 0.07875006, -0.05295639, -0.11054463, 0.0589017, -0.04295683, -0.0846225, -0.05486516, 0.12297749, 0.08553481, 0.12316413, 0.09278432, -0.05471272, 0.04290443, -0.01885792, 0.04683083, -0.19442486, -0.09807251, -0.13284515, 0.13136582, 0.06574947, 0.20617933, 0.32968832],
    [0.26674184, 0.10886759, 0.15209682, 0.04149773, 0.08656933, -0.15835109, -0.1103938, -0.26262214, -0.00325834, -0.24637613, 0.15479786, -0.16013267, -0.15649764, -0.15119877, -0.10074458, 0.24799985, 0.26987234, 0.06460156, -0.18612761, 0.08726219, -0.12109861, 0.05778042, 0.06652124, 0.13225146, -0.17663147, -0.23180032, 0.10176081, -0.03622877, 0.10442136, 0.05031077, 0.02998142, 0.06935836, -0.12851928, 0.00918546, -0.02049339, 0.03158652, -0.10925337, -0.24940249, 0.01493096, -0.05272379, 0.00777029, -0.05624182, -0.08753273, 0.04160987, -0.01041187, 0.10973565, 0.06165328, 0.05879314, 0.06053552, 0.09238665, 0.078691, -0.07711696, -0.02373099, -0.02884874, 0.19922163, -0.05135815, 0.01531636, -0.01063579, 0.13550532, 0.02108804, -0.17249289, -0.04765414, 0.15907281, -0.04938409],
    [0.00958014, 0.02091125, 0.042615, -0.00712036, 0.25574253, 0.11937276, -0.3065084, 0.00273003, -0.02507919, -0.00793664, 0.06709856, -0.17390273, 0.09267012, 0.09661899, 0.04420208, 0.09746921, 0.13844632, 0.0964169, 0.0521663, -0.19678175, 0.00498991, -0.07912029, 0.14409214, -0.1363626, 0.04890264, -0.20813004, 0.12058804, 0.00211881, -0.03736605, -0.30146075, -0.02800954, -0.18420316, 0.13135141, -0.02088451, -0.00611573, -0.15867962, -0.08234041, 0.05682182, 0.10243522, -0.03000745, -0.08230299, 0.05405382, 0.00508599, -0.06412433, -0.11830808, -0.03040903, 0.00910045, 0.07832622, 0.1760117, -0.26660107, -0.13453907, -0.21153874, 0.12903343, 0.22695915, 0.15498441, 0.04104009, -0.08536338, -2.568e-05, 0.03390772, -0.16815207, -0.02323486, 0.03934613, 0.20990179, 0.12440462],
]


def _ivf_gate_centroids(dim: int = _EMB_DIM, n_lists: int = _IVF_GATE_NLISTS):
    """The gate's fixed coarse quantizer: fitted-offline constants (above).
    The data-fit runtime variant (ivf_fit_centroids) stays pytest-covered;
    the gate uses constants so DuckDB can replay the identical assignment."""
    if n_lists != len(_IVF_FITTED_CENTROIDS) or dim != len(_IVF_FITTED_CENTROIDS[0]):
        raise ValueError(
            f"gate centroids are fitted for ({len(_IVF_FITTED_CENTROIDS)}, "
            f"{len(_IVF_FITTED_CENTROIDS[0])}); got ({n_lists}, {dim})")
    return _IVF_FITTED_CENTROIDS


def _q_ivf_topk(spark, sf_dir):
    """IVF ANN gate: corpus assigned to its nearest centroid list, queries
    probe their 3 nearest lists, exact cosine re-rank on candidates only
    (operators/similarity.py ivf_topk with explicit centroids). Assignment
    order is invariant to the row normalization (positive scaling), so the
    oracle ranks raw dot products."""
    from quad_processor_util_spark.operators.similarity import ivf_topk

    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.where(F.col("vec_id") < 10)
    return ivf_topk(emb, queries, dim=_EMB_DIM, k=3,
                    n_lists=_IVF_GATE_NLISTS, nprobe=_IVF_GATE_NPROBE,
                    centroids=_ivf_gate_centroids()).select(
        "query_id", "rank", "neighbor_id"
    )


def _ivf_topk_oracle_sql(dim: int = _EMB_DIM, k: int = 3,
                         n_lists: int = _IVF_GATE_NLISTS,
                         nprobe: int = _IVF_GATE_NPROBE) -> str:
    """DuckDB replay of ivf_topk with the gate's fixed centroids: rank each
    vector's centroid dot products (descending, list-index tie-break — the
    engine's stable argsort), corpus keeps rank 1, queries probe ranks
    1..nprobe, candidates join on list_id, exact cosine re-rank."""
    C = _ivf_gate_centroids(dim, n_lists)
    entries = ",\n    ".join(
        "{{'j': {j}, 'd': list_dot_product(v, [{vec}])}}".format(
            j=j, vec=", ".join(repr(x) for x in C[j]))
        for j in range(n_lists)
    )
    return f"""
WITH c AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
assign AS (
  SELECT vec_id, v, u.j AS list_id,
         row_number() OVER (PARTITION BY vec_id
                            ORDER BY u.d DESC, u.j) AS rnk
  FROM c, unnest([
    {entries}
  ]) AS t(u)
),
cb AS (SELECT vec_id, v, list_id FROM assign WHERE rnk = 1),
qb AS (
  SELECT vec_id AS query_id, v AS qv, list_id
  FROM assign WHERE rnk <= {nprobe} AND vec_id < 10
),
cand AS (
  SELECT DISTINCT q.query_id, b.vec_id AS neighbor_id
  FROM cb b JOIN qb q USING (list_id)
  WHERE b.vec_id != q.query_id
),
scored AS (
  SELECT query_id, neighbor_id,
         list_cosine_similarity(cq.v, cc.v) AS sim
  FROM cand
  JOIN c cq ON cq.vec_id = query_id
  JOIN c cc ON cc.vec_id = neighbor_id
),
ranked AS (
  SELECT query_id, neighbor_id,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY sim DESC, neighbor_id) AS rank
  FROM scored
)
SELECT query_id, rank, neighbor_id FROM ranked WHERE rank <= {k}
"""


def _events_quads(spark, sf_dir):
    """Deterministic quad table derived from events (shared by filter/star
    view queries and their SQL oracles)."""
    ev = _t(spark, sf_dir, "events")
    return ev.select(
        F.concat(F.lit("http://example.org/user/"), F.col("user_id")).alias("subject"),
        F.concat(F.lit("http://example.org/ontology/"), F.col("event_type")).alias("predicate"),
        F.col("event_id").cast("string").alias("obj"),
        F.lit("http://www.w3.org/2001/XMLSchema#string").alias("datatype"),
        F.lit(None).cast("string").alias("language"),
        F.when(F.col("event_id") % 3 == 0,
               F.concat(F.lit("http://example.org/g/"), F.col("event_type")))
        .alias("graph"),
        F.lit(None).cast("string").alias("dataset"),
    )


def _q_quad_filter(spark, sf_dir):
    from quad_processor_util_spark.operators.quadfilter import (
        QuadFilterParams, quad_filter,
    )

    quads = _events_quads(spark, sf_dir)
    p = QuadFilterParams(
        predicates=["http://example.org/ontology/click",
                    "http://example.org/ontology/view"],
        graphs=["http://example.org/g/click"],
    )
    return quad_filter(quads, p).select("subject", "predicate", "obj", "graph")


def _q_title_filter(spark, sf_dir):
    from quad_processor_util_spark.operators.quadfilter import title_filter

    docs = _t(spark, sf_dir, "documents")
    subj = F.concat(
        F.lit("http://dbpedia.org/resource/"),
        F.when(F.col("doc_id") % 5 == 0, F.concat(F.lit("File:D"), F.col("doc_id")))
        .when(F.col("doc_id") % 5 == 1, F.concat(F.lit("Template:D"), F.col("doc_id")))
        .when(F.col("doc_id") % 5 == 2, F.concat(F.lit("Category:D"), F.col("doc_id")))
        .otherwise(F.concat(F.lit("D"), F.col("doc_id"))),
    )
    df = docs.select(subj.alias("subject"))
    return title_filter(df).select("subject")


def _q_star_view(spark, sf_dir):
    from quad_processor_util_spark.operators.grouping import star_view

    ev = _t(spark, sf_dir, "events")
    # per-user star: label quads from event types, plus type quads
    quads = ev.select(
        F.concat(F.lit("http://example.org/user/"), F.col("user_id")).alias("subject"),
        F.when(F.col("event_id") % 2 == 0,
               F.lit("http://www.w3.org/2000/01/rdf-schema#label"))
        .otherwise(F.lit("http://www.w3.org/1999/02/22-rdf-syntax-ns#type"))
        .alias("predicate"),
        F.col("event_type").alias("obj"),
        F.lit(None).cast("string").alias("datatype"),
        F.lit(None).cast("string").alias("language"),
        F.lit(None).cast("string").alias("graph"),
        F.lit(None).cast("string").alias("dataset"),
    )
    sv = star_view(quads)
    return sv.select(
        "subject",
        "label",
        F.array_join("altLabels", ",").alias("alt_csv"),
        F.array_join("types", ",").alias("types_csv"),
        "n_quads",
    )


def _q_window_topk(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(F.desc("value"), F.asc("event_id"))
    return (
        ev.withColumn("rnk", F.row_number().over(w))
        .where(F.col("rnk") <= 2)
        .select("user_id", "rnk", "event_id")
    )


def _q_token_stats(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        T.bpe_ish_token_count(F.col("text")).alias("n_bpe_tokens"),
        F.length("text").alias("n_chars2"),
    )


def _e2e_alias_edges(spark):
    """Deterministic alias graph over the _GAZ entities (both engines know
    these constants): a depth-2 chain that REWRITES Ada's subject IRI, a
    sameAs that rewrites Turing Institute objects, a depth-12 redirect chain
    into Grace Hopper (exercises the log-round CC without changing output),
    and a disambiguation source that drops Knuth Press quads."""
    rows = [
        (_DBR + "Ada_Lovelace_(mathematician)", _DBR + "Ada_Lovelace", "redirect"),
        (_DBR + "A0_Ada", _DBR + "Ada_Lovelace_(mathematician)", "sameAs"),
        (_DBR + "AA_TI", _DBR + "Turing_Institute", "sameAs"),
        (_DBR + "Knuth_Press", _DBR + "Knuth_Press_(publisher)", "disambiguation"),
    ]
    prev = _DBR + "Grace_Hopper"
    for d in range(12):
        node = _DBR + f"ZZGH_alias_{d}"
        rows.append((node, prev, "redirect" if d % 2 == 0 else "sameAs"))
        prev = node
    return spark.createDataFrame(
        rows, "src_iri string, dst_iri string, edge_kind string"
    )


def _q_pipeline_e2e(spark, sf_dir):
    """End-to-end composition gate: extract -> CC canonicalize (+ excluded
    anti-join) -> distinct quads. Mirrors the reference's solr-loader flow
    (SolrLoader.scala:96-244) over driver tables."""
    from quad_processor_util_spark.operators.cc import canonical_mapping
    from quad_processor_util_spark.plans.pipeline import canonicalize

    tr = _events_as_transcripts(spark, sf_dir)
    quads = extract_quads(tr, _GAZ, assume_bucketed=True)
    mapping, excluded = canonical_mapping(_e2e_alias_edges(spark))
    canon = canonicalize(quads, mapping, excluded)
    return canon.select("subject", "predicate", "obj", "graph").distinct()


def _q_pipeline_full(spark, sf_dir):
    """The complete 4-stage composition the reference's solr-loader runs
    (SolrLoader.scala:96-244): extract with fuzzy entity linking -> CC
    canonicalize + exclusion -> distinct, on run_pipeline's production
    route for a driver-sized alias graph: extract_quads(catalog=...,
    canonical=...) links and canonicalizes in the one mapInArrow
    (pipeline_e2e keeps canonical_mapping + canonicalize's broadcast
    joins). The transcripts carry a deterministic unknown surface ('Hoppr
    Labs', a typo of a catalog org) in every turn; linking resolves it by
    char-3-gram Jaccard x weight scoring over the catalog — and the oracle
    REPLAYS that scoring in SQL to derive the linked entity rather than
    stating it."""
    import pandas as pd

    from quad_processor_util_spark.operators.cc import driver_canonical

    ev = _t(spark, sf_dir, "events")
    people = F.array(*[F.lit(p) for p in _PEOPLE])
    orgs = F.array(*[F.lit(o) for o in _ORGS])
    a = F.element_at(people, (F.col("event_id") % 4 + 1).cast("int"))
    b = F.element_at(orgs, (F.floor((F.col("event_id") % 16) / 4) + 1).cast("int"))
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    tr = ev.select(
        F.col("user_id").cast("string").alias("conv_id"),
        (F.row_number().over(w) - 1).cast("int").alias("turn_idx"),
        F.lit("user").alias("role"),
        F.concat(a, F.lit(" works at "), b,
                 F.lit(". also met Hoppr Labs today.")).alias("text"),
        F.lit(None).cast("string").alias("tool"),
        F.col("ts"),
    )
    catalog = pd.DataFrame(
        [(n, _GAZ[n], 1.0) for n in _PEOPLE + _ORGS],
        columns=["surface_form", "entity_iri", "form_weight"],
    )
    canon = extract_quads(tr, _GAZ, assume_bucketed=True, catalog=catalog,
                          canonical=driver_canonical(_e2e_alias_edges(spark)))
    return canon.select("subject", "predicate", "obj", "graph").distinct()


def _q_camelcase_mint(spark, sf_dir):
    """camelCase predicate minting from tool names (RichString.scala:70-74
    toCamelCase; SURVEY §2 X10)."""
    from quad_processor_util_spark.functions.uri import camel_case_expr, tool_predicate

    ev = _t(spark, sf_dir, "events")
    raw = F.concat(F.col("event_type"), F.lit("_tool_name"))
    return (
        ev.select(raw.alias("raw")).distinct()
        .select(
            "raw",
            camel_case_expr(F.col("raw")).alias("camel"),
            tool_predicate(F.col("raw")).alias("predicate"),
        )
        .orderBy("raw")
    )


def _q_fuzzy_link(spark, sf_dir):
    """Fuzzy entity linking gate: surfaces are the people names with spaces
    stripped (a deterministic 'unseen spelling' both engines derive from the
    same constants), linked against the inline catalog by char-3-gram
    Jaccard × form-weight scoring (operators/linking.py — the Solr candidate
    retrieval + payload-boost analog, SolrHandler.java:296-322)."""
    from quad_processor_util_spark.operators.linking import link_surface_forms

    ev = _t(spark, sf_dir, "events")
    people = F.array(*[F.lit(p) for p in _PEOPLE])
    surf = F.regexp_replace(
        F.element_at(people, (F.col("event_id") % 4 + 1).cast("int")), " ", ""
    )
    mentions = ev.select(surf.alias("surface")).distinct()
    catalog = spark.createDataFrame(
        [(n, _GAZ[n], 1.0) for n in _PEOPLE + _ORGS],
        "surface_form string, entity_iri string, form_weight double",
    )
    return link_surface_forms(mentions, catalog).orderBy("surface")


# Messy-surface-form templates for the canonical-IRI minting gate (X3-X6):
# surface = pre + token + post. Each row carries the hand-derived expected
# single-decode (dpre/dpost) and expected minted local name (epre/epost,
# cap = token leads and gets capitalize_first) so the DuckDB oracle states
# the transform per template INDEPENDENTLY of the engine's decode/encode
# code. Coverage: space/underscore collapse, %20, double-encoding to
# fixpoint, malformed-%XX leniency + re-escape, wikiEncode reserved set
# ("?#), UTF-8 multibyte decode, unicode/ligature capitalize, control-char
# whitespace, '+' NOT a space, parens kept raw.
# Ref: utils/UriUtils.scala:61-138, utils/WikiUtil.scala:56-112,
# uri/UriDecoder.java:41-102.
_MINT_TEMPLATES = [
    # (name, pre, post, dec_pre, dec_post, exp_pre, exp_post, cap_token)
    ("spaces", "foo  bar ", "", "foo  bar ", "", "Foo_bar_", "", False),
    ("underscores", "foo_bar__", "", "foo_bar__", "", "Foo_bar_", "", False),
    ("pct_space", "foo%20bar%20", "", "foo bar ", "", "Foo_bar_", "", False),
    ("double_enc", "foo%2520bar%2520", "", "foo%20bar%20", "", "Foo_bar_", "", False),
    ("malformed", "foo%2Gbar ", "", "foo%2Gbar ", "", "Foo%252Gbar_", "", False),
    ("reserved", "", ' "q?" #x', "", ' "q?" #x', "", "_%22q%3F%22_%23x", True),
    ("unicode", "caf%C3%A9 ", "", "café ", "", "Café_", "", False),
    ("unicode_cap", "école de ", "", "école de ", "", "École_de_", "", False),
    ("eszett", "ßtraße ", "", "ßtraße ", "", "ßtraße_", "", False),
    ("ctrl", "a%0Ab ", "", "a\nb ", "", "A_b_", "", False),
    ("plus", "a+b ", "", "a+b ", "", "A+b_", "", False),
    ("parens", "(", ") %28x%29", "(", ") (x)", "(", ")_(x)", False),
    ("qmark", "", "?sec#frag", "", "?sec#frag", "", "%3Fsec%23frag", True),
    ("dbl_utf8", "%25C3%25A9 ", "", "%C3%A9 ", "", "É_", "", False),
]


def _q_mint_iri(spark, sf_dir):
    """Canonical DBpedia-IRI minting gate (X3-X6): messy surface forms —
    percent-encoded (incl. double-encoded and malformed sequences), unicode,
    parens, ?/# reserved chars, space/underscore runs — derived from document
    md5 tokens, pushed through the REAL minting chain (percent_decode_udf
    single decode; mint_iri_udf = decode-to-fixpoint + cleanSpace +
    capitalize_first + wikiEncode). The oracle derives the expected strings
    per template, never calling the engine's code."""
    from quad_processor_util_spark.functions.uri import (
        mint_iri_udf, percent_decode_udf,
    )

    docs = _t(spark, sf_dir, "documents")
    tok = F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8)
    entries = [
        F.struct(
            F.lit(name).alias("tmpl"),
            F.concat(F.lit(pre), F.col("t"), F.lit(post)).alias("surface"),
        )
        for name, pre, post, *_ in _MINT_TEMPLATES
    ]
    surfaces = (
        docs.select("doc_id", tok.alias("t"))
        .select("doc_id", F.explode(F.array(*entries)).alias("s"))
        .select("doc_id", "s.tmpl", "s.surface")
    )
    return surfaces.select(
        "doc_id", "tmpl", "surface",
        percent_decode_udf(F.col("surface")).alias("decoded"),
        mint_iri_udf(F.col("surface")).alias("iri"),
    )


def _mint_iri_oracle_sql() -> str:
    """DuckDB replay of _q_mint_iri: the same surface construction, with the
    decoded/minted forms stated per template as an independent hand
    derivation (constants + token capitalization) — the oracle never runs
    the engine's decode/encode functions."""

    def q(s: str) -> str:
        return "'" + s.replace("'", "''") + "'"

    rows = ",\n      ".join(
        f"({q(name)}, {q(pre)}, {q(post)}, {q(dpre)}, {q(dpost)}, "
        f"{q(epre)}, {q(epost)}, {str(cap).lower()})"
        for name, pre, post, dpre, dpost, epre, epost, cap in _MINT_TEMPLATES
    )
    return f"""
WITH tok AS (
  SELECT doc_id, substr(md5(CAST(doc_id AS VARCHAR)), 1, 8) AS t
  FROM documents
), tmpl(tmpl, pre, post, dpre, dpost, epre, epost, cap) AS (
  VALUES
      {rows}
)
SELECT doc_id, tmpl,
       pre || t || post AS surface,
       dpre || t || dpost AS decoded,
       'http://dbpedia.org/resource/' || epre ||
         CASE WHEN cap THEN upper(substr(t, 1, 1)) || substr(t, 2)
              ELSE t END || epost AS iri
FROM tok CROSS JOIN tmpl
"""


# URI->IRI decode templates (X4, UriToIriDecoder.java:47-127): surface =
# pre + token + post; expected = exp_pre + token + exp_post, hand-derived
# per template. Coverage: '+'-to-space rule (and its leading-'+' and
# %20-suppression quirks), IRI-reserved %XX kept encoded (case-sensitive,
# so lowercase '%3f' also kept — via the `<= 'F'` validity guard), basic
# and multibyte UTF-8 runs, bracket-guarded sections, truncated escapes,
# and the sub-'0' invalid-hex path that yields U+FFFD.
_U2I_TEMPLATES = [
    ("plus_space", "a+b ", "", "a b ", ""),
    ("plus_at_zero", "+ab ", "", "+ab ", ""),
    ("plus_pct20", "a+b%20", "", "a+b ", ""),
    ("reserved", "x%3Fy%23z", "", "x%3Fy%23z", ""),
    ("reserved_bracket", "x%5B%5Dy", "", "x%5B%5Dy", ""),
    ("res_lower", "x%3fy", "", "x%3fy", ""),
    ("basic", "a%41b", "", "aAb", ""),
    ("utf8_run", "c%C3%A9f", "", "céf", ""),
    ("bracket", "[%41]%41", "", "[%41]A", ""),
    ("truncated", "", "%4", "", "%4"),
    ("trailing", "", "%", "", "%"),
    ("mixed_run", "a%20%3F%20b", "", "a %3F b", ""),
    ("invalid_low", "a%:0b", "", "a�b", ""),
]


def _q_uri_to_iri(spark, sf_dir):
    """URI->IRI decode gate (X4): reference-faithful reserved-set handling
    and edge-case quirks over document md5 tokens. The oracle states the
    expected decode per template as hand-derived constants — it never runs
    the engine's decoder."""
    from quad_processor_util_spark.functions.uri import uri_to_iri_udf

    docs = _t(spark, sf_dir, "documents")
    tok = F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8)
    entries = [
        F.struct(
            F.lit(name).alias("tmpl"),
            F.concat(F.lit(pre), F.col("t"), F.lit(post)).alias("surface"),
        )
        for name, pre, post, _, _ in _U2I_TEMPLATES
    ]
    surfaces = (
        docs.select("doc_id", tok.alias("t"))
        .select("doc_id", F.explode(F.array(*entries)).alias("s"))
        .select("doc_id", "s.tmpl", "s.surface")
    )
    return surfaces.select(
        "doc_id", "tmpl", "surface",
        uri_to_iri_udf(F.col("surface")).alias("iri_form"),
    )


def _uri_to_iri_oracle_sql() -> str:
    def q(s: str) -> str:
        return "'" + s.replace("'", "''") + "'"

    rows = ",\n      ".join(
        f"({q(name)}, {q(pre)}, {q(post)}, {q(epre)}, {q(epost)})"
        for name, pre, post, epre, epost in _U2I_TEMPLATES
    )
    return f"""
WITH tok AS (
  SELECT doc_id, substr(md5(CAST(doc_id AS VARCHAR)), 1, 8) AS t
  FROM documents
), tmpl(tmpl, pre, post, epre, epost) AS (
  VALUES
      {rows}
)
SELECT doc_id, tmpl,
       pre || t || post AS surface,
       epre || t || epost AS iri_form
FROM tok CROSS JOIN tmpl
"""


def _q_media_features(spark, sf_dir):
    """Multimodal gate: synthesize REAL media binaries (P6 PPM images +
    PCM-16 WAV audio, every byte a function of md5(doc_id)), push them
    through the real library-free decoders (multimodal.decode_media:
    numpy PPM parse, stdlib wave) and the feature extractors (average-hash,
    RMS, zero-crossing rate). The oracle re-derives every feature from md5
    hex arithmetic in SQL — it never sees the binary, so the decode path is
    independently checked end-to-end."""
    from quad_processor_util_spark.multimodal import (
        decode_media, synth_media_from_ids,
    )

    docs = _t(spark, sf_dir, "documents").select("doc_id")
    feats = decode_media(synth_media_from_ids(docs))
    return feats.select(
        "media_id", "kind", "n_bytes", "width", "height",
        F.round("duration_ms", 9).alias("duration_ms"),
        F.round("rms", 9).alias("rms"),
        F.round("zcr", 9).alias("zcr"),
        "ahash",
    )


def _media_features_oracle_sql() -> str:
    """DuckDB replay of _q_media_features from md5 hex alone.

    Image: 4×4 pixels with equal RGB channels = md5 byte i → the 8×8
    nearest-neighbor thumbnail repeats each pixel 2×2, grays are exact
    integers, the average is sum/16, and the average-hash bit for thumbnail
    position p is (m[i(p)] > avg) — folded row-major MSB-first, i.e. weight
    2^(63-p), with the p=0..? group of pixel 0 wrapping negative in two's
    complement. The integer comparison m_i*16 > sum(m) is exactly numpy's
    float compare (both sides exact in float64).
    Audio: sample i = (m_i-128)*256 → normalized x_i = (m_i-128)/128;
    x_i² is a multiple of 2^-14 so the RMS sum is order-independent exact:
    rms = sqrt(Σ(m_i-128)² / 262144). ZCR = sign-flip count / 15 (signbit
    of -0.0..: sample 0 is positive, so the predicate is m_i < 128)."""
    mdef = ",\n         ".join(
        f"('0x' || substr(h, {2 * j + 1}, 2))::BIGINT AS m{j}"
        for j in range(16)
    )
    # per-pixel ahash weights: pixel i covers thumbnail cells
    # (2r..2r+1, 2c..2c+1); weight = sum of 2^(63-p), two's-complement signed
    weights = []
    for i in range(16):
        r, c = divmod(i, 4)
        w = 0
        for y in (2 * r, 2 * r + 1):
            for x in (2 * c, 2 * c + 1):
                w += 1 << (63 - (y * 8 + x))
        if w >= 1 << 63:
            w -= 1 << 64
        weights.append(w)
    msum = " + ".join(f"m{j}" for j in range(16))
    ahash = "\n             + ".join(
        f"(CASE WHEN m{j} * 16 > ({msum}) THEN CAST({weights[j]} AS BIGINT) "
        f"ELSE 0 END)"
        for j in range(16)
    )
    sumsq = " + ".join(f"(m{j} - 128) * (m{j} - 128)" for j in range(16))
    flips = " + ".join(
        f"(CASE WHEN (m{j} < 128) != (m{j - 1} < 128) THEN 1 ELSE 0 END)"
        for j in range(1, 16)
    )
    return f"""
WITH m AS (
  SELECT doc_id,
         {mdef}
  FROM (SELECT doc_id, md5(CAST(doc_id AS VARCHAR)) AS h FROM documents)
)
SELECT doc_id AS media_id, 'image' AS kind,
       CAST(59 AS BIGINT) AS n_bytes,
       4 AS width, 4 AS height,
       CAST(NULL AS DOUBLE) AS duration_ms,
       CAST(NULL AS DOUBLE) AS rms,
       CAST(NULL AS DOUBLE) AS zcr,
       CAST({ahash} AS BIGINT) AS ahash
FROM m
UNION ALL
SELECT doc_id + 1099511627776 AS media_id, 'audio' AS kind,
       CAST(76 AS BIGINT) AS n_bytes,
       CAST(NULL AS INT) AS width, CAST(NULL AS INT) AS height,
       round(16.0 / 8000.0 * 1000.0, 9) AS duration_ms,
       round(sqrt(({sumsq})::DOUBLE / 262144.0), 9) AS rms,
       round(({flips})::DOUBLE / 15.0, 9) AS zcr,
       CAST(NULL AS BIGINT) AS ahash
FROM m
"""


def _q_codepoint_order(spark, sf_dir):
    """Global code-point ordering parity (the reference's CodePointComparator,
    sort/CodePointComparator.scala:19-43): rank every document by binary
    UTF-8 order of its text — Spark UTF8_BINARY == DuckDB BINARY collation ==
    code-point order, incl. astral planes. Verifies the comparator the
    global sort (operators/sort.py) relies on."""
    # Explicit NULLS-LAST: Spark's ASC default is nulls-FIRST, DuckDB's is
    # nulls-LAST — with any null text the ranks would shift by one (round-4
    # review finding; current test data has no nulls, but the gate must not
    # depend on that). Unpartitioned window = one task by design: this is a
    # COMPARATOR-parity gate over a bounded table, not the scale sort path
    # (that's operators/sort.py's range-partitioned sort).
    docs = _t(spark, sf_dir, "documents")
    w = Window.orderBy(F.asc_nulls_last("text"), F.asc_nulls_last("doc_id"))
    return docs.select("doc_id", F.row_number().over(w).alias("rn"))


def _q_prefix_histogram(spark, sf_dir):
    """Key-prefix skew survey (QuadSorter.extractCharMap,
    sort/QuadSorter.scala:114-127) over document text."""
    from quad_processor_util_spark.operators.sort import prefix_histogram

    docs = _t(spark, sf_dir, "documents")
    return prefix_histogram(docs, "text", prefix_len=2)


def _q_group_runs(spark, sf_dir):
    """Run-boundary group traversal gate (S2, QuadReader.readSortedQuads,
    QuadReader.scala:44-62): repartition-by-key + in-partition secondary
    sort + mapInPandas with carry-over of split tails between Arrow batches
    (operators/grouping.run_boundary_groups) — grouping without groupBy.
    Per-user ordered event-type concatenation proves whole-group delivery
    AND intra-group order survive batch boundaries."""
    import pandas as pd

    from quad_processor_util_spark.operators.grouping import run_boundary_groups

    ev = _t(spark, sf_dir, "events").select("user_id", "event_id", "event_type")

    def agg_group(grp: pd.DataFrame) -> pd.DataFrame:
        return pd.DataFrame({
            "user_id": [grp["user_id"].iloc[0]],
            "n_events": [len(grp)],
            "types_csv": [",".join(grp["event_type"])],
        })

    return run_boundary_groups(
        ev, "user_id", agg_group,
        "user_id long, n_events long, types_csv string",
        order="event_id",
    )


def _q_sorted_check(spark, sf_dir):
    """Sortedness-violation survey (O5, the QuadSorterTest invariant,
    QuadSorterTest.scala:36-54): per-user count of adjacent event pairs
    (ordered by event_id) whose timestamps go backwards — the lag-window
    monotonicity check the sorted-write path relies on, summarized as a
    distribution so the result is data-dependent, not trivially zero."""
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("event_id")
    flags = (
        ev.withColumn("__prev", F.lag("ts").over(w))
        .where(F.col("__prev").isNotNull() & (F.col("__prev") > F.col("ts")))
        .groupBy("user_id").agg(F.count(F.lit(1)).alias("n_violations"))
    )
    return (
        ev.select("user_id").distinct()
        .join(flags, "user_id", "left")
        .select("user_id",
                F.coalesce("n_violations", F.lit(0)).alias("n_violations"))
    )


def _q_snapshots_union(spark, sf_dir):
    """Multi-snapshot union scan (QuadReader.scala:92-156 analog): the same
    table read as two snapshots, grouped downstream (merge order is an
    artifact; grouping is the semantics)."""
    from quad_processor_util_spark.sources.io import read_snapshots_union

    p = os.path.join(sf_dir, "events.parquet")
    return (
        read_snapshots_union(spark, [p, p])
        .groupBy("event_id")
        .agg(F.count(F.lit(1)).alias("n"))
    )


def _q_embedding_neardup(spark, sf_dir):
    """Embedding near-dup pairs via hyperplane-bucket self-join. The corpus
    is the embeddings table UNION a scaled copy (×1.5, ids offset by
    10^7 — far above any real vec_id at every SF, so planted ids can never
    collide with data ids): scaling preserves every hyperplane sign bit,
    so each (i, i+10^7) pair is
    GUARANTEED co-bucketed in all tables, and cosine(v, 1.5v) = 1.0 —
    while the strongest natural pair in the data is ~0.51, far below the
    0.95 threshold. Output is therefore exactly one planted pair per
    corpus vector; the
    oracle REPLAYS the seeded hyperplane bucketing + cosine filter in SQL
    over the same corpus rather than assuming the planted construction."""
    from quad_processor_util_spark.operators.similarity import (
        embedding_cosine_dedup_pairs,
    )

    emb = _t(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    dup = emb.select(
        (F.col("vec_id") + 10_000_000).alias("vec_id"),
        F.transform("embedding", lambda x: x * F.lit(1.5)).alias("embedding"),
    )
    corpus = emb.unionByName(dup)
    pairs = embedding_cosine_dedup_pairs(
        corpus, dim=_EMB_DIM, threshold=0.95, planes=6, tables=6
    )
    return pairs.select("id_a", "id_b", F.round("cosine_sim", 6).alias("sim"))


def _q_embedding_clusters(spark, sf_dir):
    """Embedding CLUSTER labeling over the same planted corpus as
    embedding_neardup (round 5): embedding_dedup_clusters = hyperplane-
    bucketed cosine pairs → transitive closure, the semantic-dedup
    counterpart of dedup_clusters. Each (i, i+10^7) planted pair forms a
    2-element cluster labeled min = i; pairless vectors label themselves.
    The oracle replays the bucketing + cosine verification from the data
    and closes it with a recursive reachability CTE."""
    from quad_processor_util_spark.operators.dedup import (
        embedding_dedup_clusters,
    )

    emb = _t(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    dup = emb.select(
        (F.col("vec_id") + 10_000_000).alias("vec_id"),
        F.transform("embedding", lambda x: x * F.lit(1.5)).alias("embedding"),
    )
    corpus = emb.unionByName(dup)
    return embedding_dedup_clusters(
        corpus, dim=_EMB_DIM, threshold=0.95, planes=6, tables=6
    ).select(F.col("vec_id").cast("long").alias("vec_id"), "cluster_id")


def _q_int_hex(spark, sf_dir):
    """int <-> hex roundtrip (X16, utils/StringUtils intToHex/hexToInt —
    native hex()/conv() on Spark, to_hex/hex-cast on DuckDB)."""
    ev = _t(spark, sf_dir, "events")
    return ev.select(
        "event_id",
        F.hex(F.col("event_id")).alias("hx"),
        F.conv(F.hex(F.col("event_id")), 16, 10).cast("long").alias("back"),
    )


def _q_rdf_json(spark, sf_dir):
    """RDF/JSON serialization gate (X15, formatters/RDFJSONBuilder.scala:
    8-104): object kind dispatched to uri / literal(+lang/+datatype),
    xsd:string omitted, null fields dropped by to_json. The events-derived
    quads are JSON-escape-free by construction, so the oracle can state the
    exact serialized text by string concatenation — field order and
    compactness must match Jackson's byte-for-byte."""
    from quad_processor_util_spark.functions.nt import format_rdf_json

    return format_rdf_json(_events_quads(spark, sf_dir))


def _q_prefixed_name(spark, sf_dir):
    """Namespace-registry gate (X17, utils/RdfNamespace.scala:45-56,138-141
    + the DumpSplitter dataset naming, scripts/DumpSplitter.scala:49-57):
    IRIs from the registered namespaces (and one unregistered) mapped to
    `prefix-localName` via the longest-namespace-wins Catalyst chain, plus
    full_uri expansion replayed on the driver constants."""
    from quad_processor_util_spark.functions.uri import local_name, prefixed_name

    ev = _t(spark, sf_dir, "events")
    iri = (
        F.when(F.col("event_id") % 4 == 0,
               F.concat(F.lit("http://example.org/ontology/"), F.col("event_type")))
        .when(F.col("event_id") % 4 == 1,
              F.concat(F.lit("http://www.w3.org/2000/01/rdf-schema#"), F.col("event_type")))
        .when(F.col("event_id") % 4 == 2,
              F.concat(F.lit("http://dbpedia.org/resource/E"), F.col("event_id")))
        .otherwise(F.concat(F.lit("http://unregistered.example/x/"), F.col("event_type")))
    )
    return ev.select(
        "event_id",
        iri.alias("iri"),
        prefixed_name(iri).alias("pref"),
        local_name(iri).alias("local"),
    )


def _q_trix_format(spark, sf_dir):
    """TriX serialization (TriXBuilder.scala:28-60 semantics incl. the
    literal 'BAD URI: null' context for graph-less quads in quads mode and
    NO xsd:string omission)."""
    from quad_processor_util_spark.functions.nt import format_trix

    return format_trix(_events_quads(spark, sf_dir), quads_mode=True)


def _q_text_clean(spark, sf_dir):
    """Training-data text hygiene: HTML strip + PII redaction (email /
    phone / IPv4) + whitespace collapse, pure Catalyst with Java/RE2-parity
    regexes."""
    docs = _t(spark, sf_dir, "documents")
    return docs.select("doc_id", T.clean_text(F.col("text")).alias("clean"))


def _q_winnow_fp(spark, sf_dir):
    """Robust-winnowing document fingerprints (rolling k-gram hash +
    min-in-window selection, Schleimer et al.) — the rolling-hash
    fingerprinting entry of the training-data family."""
    from quad_processor_util_spark.functions.text import winnow_fingerprints

    docs = _t(spark, sf_dir, "documents")
    return winnow_fingerprints(docs, k=7, window=4)


def _q_decontaminate(spark, sf_dir):
    """Test-set decontamination gate (round-5, training-data family): every
    20th document plays the benchmark/eval set (texts verbatim), and
    decontaminate() flags corpus docs sharing winnowing fingerprints with
    it. Benchmark members flag themselves by construction; any other doc
    flags iff it shares a >= k+window-1 = 23-normalized-char substring —
    the winnowing guarantee, replayed exactly by the oracle (the benchmark
    fingerprints are a doc_id%20 filter of the corpus fingerprint CTE).
    k=20 (vs winnow_fp's 7) keeps BOTH classes populated over the
    small-vocabulary synthetic texts (~30% contaminated at gate scales:
    benchmark members + docs genuinely sharing long spans), so the
    zero-hit left-join path is exercised by the gate, not just pytest."""
    from quad_processor_util_spark.operators.dedup import decontaminate

    docs = _t(spark, sf_dir, "documents")
    benchmark = docs.where(F.col("doc_id") % 20 == 0)
    return decontaminate(docs, benchmark, k=20, window=4)


_MIX_FRACTIONS = {"en": 0.5, "de": 1.0, "es": 0.25, "fr": 0.1, "zh": 0.75}
_SPLIT_WEIGHTS = {"train": 0.8, "val": 0.1, "test": 0.1}


def _q_stratified_sample(spark, sf_dir):
    """Deterministic training-mix sampling gate (round-5): per-language
    Bernoulli rates over the documents table, decided by a content hash of
    (doc_id, seed) — stable under retry/backfill, NESTED across fractions,
    zero shuffle. The oracle replays the md5-60bit draw and the per-stratum
    thresholds verbatim."""
    from quad_processor_util_spark.operators.sampling import (
        stratified_sample)

    docs = _t(spark, sf_dir, "documents")
    return stratified_sample(docs, "lang", _MIX_FRACTIONS,
                             seed=42).select("doc_id", "lang")


def _q_group_quota(spark, sf_dir):
    """Per-source quota gate (round-5): keep the 5 longest documents per
    source (ties broken by doc_id), the "at most N pages per domain" cap.
    Plans as WindowGroupLimit on Spark >= 3.5 (map-side top-N per group
    before the one shuffle — pinned by tests/test_plan_contract.py); the oracle is the same
    row_number window in DuckDB."""
    from quad_processor_util_spark.operators.sampling import group_quota

    docs = _t(spark, sf_dir, "documents").select(
        "doc_id", "source", "n_chars")
    out = group_quota(docs, "source", 5, order_by=[("n_chars", False)],
                      rank_col="rk")
    return out.withColumn("rk", F.col("rk").cast("long"))


def _q_hash_split(spark, sf_dir):
    """Stable train/val/test holdout gate (round-5): hash-range labels over
    documents (80/10/10, seed 7). A doc's split is a pure function of
    (doc_id, seed) so it can never migrate between buckets across
    reprocessing; the oracle replays the same draw and thresholds."""
    from quad_processor_util_spark.operators.sampling import hash_split

    docs = _t(spark, sf_dir, "documents")
    return hash_split(docs, _SPLIT_WEIGHTS, seed=7).select(
        "doc_id", "split")


def _q_unigram_logprob(spark, sf_dir):
    """CCNet-style LM quality scoring gate (round-5): self-fit unigram LM
    over documents, per-doc mean ln-probability. min_count=100 prunes the
    corpus's one rare token ('dup', ~28 occurrences at gate scales) so the
    OOV-floor path (pruned token -> p = 1/total) is exercised by the gate,
    not just pytest. The oracle refits the LM and recomputes the scores
    end-to-end in SQL; scores rounded to 6 dp on both sides."""
    from quad_processor_util_spark.operators.scoring import (
        unigram_logprob_score)

    docs = _t(spark, sf_dir, "documents")
    out = unigram_logprob_score(docs, min_count=100)
    return out.select("doc_id", "n_tokens",
                      F.round("avg_logprob", 6).alias("avg_logprob"))


def _q_shuffle_rank(spark, sf_dir):
    """Deterministic global training-order shuffle (round-5): every doc
    gets its 0-based position in md5(id:seed) order via the two-pass
    distributed scan (range-bucket on the key's high bits -> per-bucket
    window -> broadcast bucket offsets) — no single-partition window.
    The oracle replays the order with one global row_number (fine at
    gate scale)."""
    from quad_processor_util_spark.operators.packing import shuffle_rank

    docs = _t(spark, sf_dir, "documents")
    return shuffle_rank(docs.select("doc_id"), seed=7, n_buckets=16) \
        .select("doc_id", "shuffle_pos")


def _q_pack_sequences(spark, sf_dir):
    """GPT-style concat-and-chunk sequence packing (round-5): documents
    laid end-to-end in the deterministic shuffle order, cut every 512
    tokens; one row per (doc x block) slice. Same whitespace tokenizer as
    the repetition/unigram gates. The oracle replays the layout with a
    global cumsum + generate_series explode."""
    from quad_processor_util_spark.functions.text import _words
    from quad_processor_util_spark.operators.packing import pack_sequences

    docs = _t(spark, sf_dir, "documents").select(
        "doc_id",
        F.size(_words(F.lower(F.col("text")))).alias("n_tokens"))
    return pack_sequences(docs, block_tokens=512, seed=7, n_buckets=16)


def _q_bpe_pairs(spark, sf_dir):
    """BPE tokenizer-fit inner statistic (round-5): corpus-weighted
    adjacent-character pair counts over the word-frequency table — the
    argmax of this table is BPE merge #1. Top 50 in the fit's own
    deterministic (count DESC, left, right) order. The iterative fit
    itself (operators.bpe.fit_bpe) is pytest-covered against a sequential
    reference — the SURVEY-sanctioned split for iterative algorithms."""
    from quad_processor_util_spark.operators.bpe import bpe_pair_counts

    return bpe_pair_counts(_t(spark, sf_dir, "documents"), top_n=50)


def _q_dup_spans(spark, sf_dir):
    """Substring-level dedup (round-5): spans of winnow-selected k-grams
    shared by >= 2 documents, merged per doc (Lee-et-al-style duplicated-
    passage flagging via the Schleimer fingerprint route — the scalable
    stand-in for a corpus suffix array). The oracle replays the full
    chain: winnow occurrences with recovered positions -> shared-fp
    inverted index -> gaps-and-islands interval merge."""
    from quad_processor_util_spark.operators.spans import duplicate_spans

    return duplicate_spans(
        _t(spark, sf_dir, "documents"), k=7, window=4, min_docs=2)


# BPE merge list for the encode gate: fitted OFFLINE by the sequential
# reference (== fit_bpe by test) on the sf0.01 documents table, 16 merges,
# inlined as constants so the oracle replays the exact same tokenizer —
# the fitted-IVF-centroids precedent. Recursion is real: mer<-m+er,
# join<-jo+in<-(j+o, i+n), hash<-h+ash<-as+h<-a+s, row<-r+ow.
_BPE_GATE_MERGES = [
    ("e", "r"), ("i", "n"), ("o", "w"), ("o", "r"), ("s", "t"),
    ("m", "er"), ("a", "t"), ("l", "u"), ("a", "r"), ("p", "ar"),
    ("j", "o"), ("jo", "in"), ("a", "s"), ("as", "h"), ("h", "ash"),
    ("r", "ow"),
]


def _q_bpe_encode(spark, sf_dir):
    """BPE tokenization at corpus scale (round-5): apply the inlined
    fitted merge list to every document — zero-shuffle mapInPandas with a
    per-partition word memo. Gate output is the exact per-doc token count
    plus an md5 digest of the full ordered token stream; the oracle
    replays Sennrich greedy merging in pure SQL via the doubled-separator
    replace fold (each ' l  r ' -> ' lr ' replace consumes one flanking
    space and restores it, so leftmost non-overlapping replace == the
    greedy left-to-right merge scan; word gaps are 5-space runs no
    whitespace-free pattern can cross)."""
    from quad_processor_util_spark.operators.bpe import encode_bpe

    out = encode_bpe(_t(spark, sf_dir, "documents"), _BPE_GATE_MERGES)
    return out.select(
        "doc_id", "n_tokens",
        F.md5(F.concat_ws("\x1f", F.col("tokens"))).alias("toks_md5"))


def _bpe_encode_oracle_sql() -> str:
    """Generate the nested replace fold for _BPE_GATE_MERGES (the merge
    list is data, the SQL is mechanical)."""
    folds = "rep"
    for l, r in _BPE_GATE_MERGES:
        folds = f"replace({folds}, ' {l}  {r} ', ' {l}{r} ')"
    return rf"""
        WITH d AS (
          SELECT doc_id,
                 CASE WHEN text IS NULL THEN ''
                      ELSE regexp_replace(lower(trim(text)), '\s+', ' ', 'g')
                 END AS norm
          FROM documents
        ), r AS (
          SELECT doc_id,
                 '  ' || regexp_replace(norm, '(.)', '\1  ', 'g') AS rep
          FROM d
        ), c AS (
          SELECT doc_id,
                 list_filter(
                   string_split(replace({folds}, '     ', '  '), '  '),
                   x -> x != '' AND x != ' ') AS toks
          FROM r
        )
        SELECT doc_id,
               CAST(len(toks) AS BIGINT) AS n_tokens,
               md5(array_to_string(toks, chr(31))) AS toks_md5
        FROM c
    """


def _q_repetition_metrics(spark, sf_dir):
    """Gopher/MassiveText-style repetition filters: duplicate-line fraction
    (count- and char-weighted), duplicate word-5-gram fraction, and the
    character share of the most frequent word 2-gram (overlapping
    occurrences can push it above 1 — a repetition signal, not a
    partition). Pure per-row Catalyst: sort_array + index folds, zero
    shuffle — the map-only shape a 100 TB quality pass needs."""
    docs = _t(spark, sf_dir, "documents")
    t = F.col("text")
    return docs.select(
        "doc_id",
        F.round(T.dup_ngram_frac(t, 5), 6).alias("dup_5gram_frac"),
        F.round(T.dup_line_frac(t), 6).alias("dup_line_frac"),
        F.round(T.dup_line_char_frac(t), 6).alias("dup_line_char_frac"),
        F.round(T.top_ngram_char_frac(t, 2), 6).alias("top_2gram_char_frac"),
    )


_REPETITION_ORACLE = r"""
WITH base AS (
  SELECT doc_id, text,
         list_filter(string_split_regex(text, '\s+'), x -> x != '') AS toks,
         list_filter(string_split(text, chr(10)), x -> trim(x) != '') AS lines
  FROM documents
), grams AS (
  SELECT doc_id, text, lines,
         CASE WHEN len(toks) >= 5
              THEN [array_to_string(toks[i:i+4], ' ')
                    FOR i IN generate_series(1, len(toks) - 4)]
              ELSE [] END AS g5,
         CASE WHEN len(toks) >= 2
              THEN [array_to_string(toks[i:i+1], ' ')
                    FOR i IN generate_series(1, len(toks) - 1)]
              ELSE [] END AS g2
  FROM base
), linechar AS (
  SELECT doc_id,
         sum((cnt - 1) * len(line)) AS dup_chars,
         sum(cnt * len(line)) AS tot_chars
  FROM (
    SELECT doc_id, line, count(*) AS cnt
    FROM (SELECT doc_id, unnest(lines) AS line FROM base)
    GROUP BY doc_id, line
  ) GROUP BY doc_id
), top2 AS (
  SELECT doc_id, cnt, glen FROM (
    SELECT doc_id, cnt, len(gram) AS glen,
           row_number() OVER (PARTITION BY doc_id
                              ORDER BY cnt DESC, gram) AS rn
    FROM (
      SELECT doc_id, gram, count(*) AS cnt
      FROM (SELECT doc_id, unnest(g2) AS gram FROM grams)
      GROUP BY doc_id, gram
    )
  ) WHERE rn = 1
)
SELECT b.doc_id,
       round(CASE WHEN len(g.g5) > 0
                  THEN 1.0 - len(list_distinct(g.g5)) * 1.0 / len(g.g5)
                  ELSE 0.0 END, 6) AS dup_5gram_frac,
       round(CASE WHEN len(b.lines) > 0
                  THEN 1.0 - len(list_distinct(b.lines)) * 1.0 / len(b.lines)
                  ELSE 0.0 END, 6) AS dup_line_frac,
       round(CASE WHEN len(b.lines) <= 1 OR coalesce(lc.tot_chars, 0) <= 0
                  THEN 0.0
                  ELSE lc.dup_chars * 1.0 / lc.tot_chars END, 6)
           AS dup_line_char_frac,
       round(CASE WHEN len(g.g2) <= 0 OR len(b.text) <= 0 THEN 0.0
                  ELSE t.cnt * t.glen * 1.0 / len(b.text) END, 6)
           AS top_2gram_char_frac
FROM base b
JOIN grams g USING (doc_id)
LEFT JOIN linechar lc USING (doc_id)
LEFT JOIN top2 t USING (doc_id)
"""


def _q_chunk_docs(spark, sf_dir):
    """Token-window document chunking (context-window prep): 64-token
    windows with 16-token overlap, closed-form chunk count, pure Catalyst
    posexplode — map-side row expansion, zero shuffle."""
    from quad_processor_util_spark.functions.text import chunk_documents

    docs = _t(spark, sf_dir, "documents")
    return chunk_documents(docs, max_tokens=64, overlap=16)


_CHUNK_ORACLE = r"""
WITH base AS (
  SELECT doc_id,
         list_filter(string_split_regex(text, '\s+'), x -> x != '') AS toks
  FROM documents
), nn AS (
  SELECT doc_id, toks, len(toks) AS n,
         CASE WHEN len(toks) <= 0 THEN 0
              WHEN len(toks) <= 64 THEN 1
              ELSE CAST(ceil((len(toks) - 64) / 48.0) AS INT) + 1 END AS n_chunks
  FROM base
)
SELECT doc_id,
       k AS chunk_idx,
       len(toks[k * 48 + 1 : k * 48 + 64]) AS n_chunk_tokens,
       array_to_string(toks[k * 48 + 1 : k * 48 + 64], ' ') AS chunk_text
FROM nn, unnest(generate_series(0, n_chunks - 1)) AS t(k)
WHERE n > 0
"""

def _q_quality_score(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        T.quality_score(F.col("text")).alias("quality"),
        T.stopword_ratio(F.col("text")).alias("stop_ratio"),
    )


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    # ORDER MATTERS: the driver checks at most the FIRST 50 entries per
    # round, and 76 are registered. Round 4 left 8 queries without a
    # CORRECTNESS_r04 row (they were green in r03); per the round-4 verdict
    # they now run FIRST — followed by the round-5 gates — so
    # CORRECTNESS r04 ∪ r05 covers every registered query. The 26 displaced
    # into the tail (multi_sink .. rdf_json) all have green r04 rows.
    # Rotation documented in COVERAGE.md.
    return {
        "prefixed_name": _q_prefixed_name,
        "int_hex": _q_int_hex,
        "embedding_neardup": _q_embedding_neardup,
        # seeded-hash ops — gate variants use portable (md5 / inlined-
        # hyperplane) hashing so DuckDB can replay them exactly
        "minhash_dedup": _q_minhash_dedup,
        "dedup_clusters": _q_dedup_clusters,
        "simhash": _q_simhash,
        "lsh_topk": _q_lsh_topk,
        "ivf_topk": _q_ivf_topk,
        # round-5 gates, placed inside the first-50 window on arrival
        "resume_bucketed": _q_resume_bucketed,
        "decontaminate": _q_decontaminate,
        "embedding_clusters": _q_embedding_clusters,
        "stratified_sample": _q_stratified_sample,
        "group_quota": _q_group_quota,
        "hash_split": _q_hash_split,
        "unigram_logprob": _q_unigram_logprob,
        "shuffle_rank": _q_shuffle_rank,
        "pack_sequences": _q_pack_sequences,
        "bpe_pairs": _q_bpe_pairs,
        "bpe_encode": _q_bpe_encode,
        "dup_spans": _q_dup_spans,
        "stream_dedup": _q_stream_dedup,
        "entity_pagerank": _q_entity_pagerank,
        "snapshot_merge": _q_snapshot_merge,
        "compact_table": _q_compact_table,
        "profile_events": _q_profile_events,
        "jsonl_roundtrip": _q_jsonl_roundtrip,
        "tpch_q1": _q_tpch_q1,
        "star_join": _q_star_join,
        "stable_turn_order": _q_stable_turn_order,
        "dedup_exact": _q_dedup_exact,
        "predicate_split_counts": _q_predicate_split_counts,
        "nt_format": _q_nt_format,
        "quad_parse": _q_quad_parse,
        "star_group": _q_star_group,
        "text_metrics": _q_text_metrics,
        "cosine_topk": _q_cosine_topk,
        "ann_recall": _q_ann_recall,
        "jaccard_pairs": _q_jaccard_pairs,
        "salted_join": _q_salted_join,
        "anti_join": _q_anti_join,
        "sessionize": _q_sessionize,
        "connected_components": _q_connected_components,
        "lang_id": _q_lang_id,
        "extract_kg": _q_extract_kg,
        "extract_kg_shuffled": _q_extract_kg_shuffled,
        "resume_pipeline": _q_resume_pipeline,
        "stream_extract": _q_stream_extract,
        "stream_sessionize": _q_stream_sessionize,
        "pipeline_metrics": _q_pipeline_metrics,
        "turn_rate": _q_turn_rate,
        "multi_sink": _q_multi_sink,
        "table_sidecar": _q_table_sidecar,
        "mint_iri": _q_mint_iri,
        "media_features": _q_media_features,
        "uri_to_iri": _q_uri_to_iri,
        "quad_filter": _q_quad_filter,
        "title_filter": _q_title_filter,
        "star_view": _q_star_view,
        "window_topk": _q_window_topk,
        "token_stats": _q_token_stats,
        "quality_score": _q_quality_score,
        "pipeline_e2e": _q_pipeline_e2e,
        "pipeline_full": _q_pipeline_full,
        "camelcase_mint": _q_camelcase_mint,
        "fuzzy_link": _q_fuzzy_link,
        "codepoint_order": _q_codepoint_order,
        "prefix_histogram": _q_prefix_histogram,
        "snapshots_union": _q_snapshots_union,
        "group_runs": _q_group_runs,
        "sorted_check": _q_sorted_check,
        "winnow_fp": _q_winnow_fp,
        "repetition_metrics": _q_repetition_metrics,
        "chunk_docs": _q_chunk_docs,
        "text_clean": _q_text_clean,
        "trix_format": _q_trix_format,
        "rdf_json": _q_rdf_json,
    }


# ---------------------------------------------------------------------------
# DuckDB oracles
# ---------------------------------------------------------------------------

_PEOPLE_SQL = "['" + "','".join(_PEOPLE) + "']"
_ORGS_SQL = "['" + "','".join(_ORGS) + "']"
_PIRIS_SQL = "['" + "','".join(_DBR + p.replace(" ", "_") for p in _PEOPLE) + "']"
_OIRIS_SQL = "['" + "','".join(_DBR + o.replace(" ", "_") for o in _ORGS) + "']"

# THE worksAt extraction oracle — one definition for the six oracles that
# replay it (extract_kg, extract_kg_shuffled, resume_pipeline,
# stream_extract, and the q CTEs of pipeline_e2e/pipeline_full): a change
# to the person/org index arithmetic or the graph IRI now cannot silently
# leave a stale copy behind (round-4 review finding)
_EXTRACT_CORE_SQL = f"""SELECT {_PIRIS_SQL}[(event_id % 4 + 1)::INT] AS subject,
                   'http://example.org/ontology/worksAt' AS predicate,
                   {_OIRIS_SQL}[((event_id % 16) // 4 + 1)::INT] AS obj,
                   'http://example.org/conv/' || user_id AS graph
            FROM events"""

_NORM = "regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')"

def _winnow_sql(k: int, window: int, with_pos: bool = False) -> str:
    """DuckDB replay of functions.text.winnow_fingerprints(k, window) over
    the documents table — shared by the winnow_fp gate (k=7, window=4) and,
    at k=20, by the decontaminate gate's oracle (the larger k makes the
    contaminated boolean discriminative over the small-vocabulary synthetic
    texts — see _q_decontaminate). ``with_pos`` adds the 1-based selected
    position recovered from the packed key (winnow_occurrences parity, the
    dup_spans oracle's input)."""
    pos_col = ""
    if with_pos:
        pos_col = ", CAST(1048575 - (sel % 1048576) AS BIGINT) AS pos"
    return f"""
            WITH n AS (SELECT doc_id, {_NORM} AS t FROM documents),
            g0 AS (
              SELECT doc_id, greatest(len(t) - {k - 1}, 1) AS m,
                     unnest([{{'pos': i,
                              'h': ('0x' || substr(md5(substr(t, i, {k})), 1, 15))::BIGINT
                                   % 2147483647}}
                             FOR i IN generate_series(1, greatest(len(t) - {k - 1}, 1))]) AS u
              FROM n
            ), g AS (
              SELECT doc_id, m, u.pos AS pos, u.h AS h FROM g0
            ), s AS (
              SELECT doc_id, pos, m,
                     min(h * 1048576 + (1048575 - pos))
                       OVER (PARTITION BY doc_id ORDER BY pos
                             ROWS BETWEEN CURRENT ROW AND {window - 1} FOLLOWING) AS sel
              FROM g
            )
            SELECT DISTINCT doc_id, CAST(sel // 1048576 AS BIGINT) AS fp{pos_col}
            FROM s WHERE pos <= greatest(m - {window - 1}, 1)
"""


_WINNOW_SQL = _winnow_sql(7, 4)


_COSINE_TOPK_SQL = """
            WITH sims AS (
              SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
                     list_cosine_similarity(q.embedding::DOUBLE[], c.embedding::DOUBLE[]) AS sim
              FROM embeddings q JOIN embeddings c ON q.vec_id != c.vec_id
              WHERE q.vec_id < 10
            ), ranked AS (
              SELECT query_id, neighbor_id,
                     row_number() OVER (PARTITION BY query_id
                                        ORDER BY sim DESC, neighbor_id) AS rank
              FROM sims
            )
            SELECT query_id, rank, neighbor_id FROM ranked WHERE rank <= 3
        """


def _ann_recall_oracle_sql() -> str:
    """Recall@3 of both ANN paths vs brute force, computed END-TO-END in SQL
    by nesting the three gate oracles (same hyperplanes, same fixed
    centroids) — so the recall numbers themselves are oracle-checked, not
    self-reported."""
    return f"""
WITH exact AS (SELECT query_id, neighbor_id FROM ({_COSINE_TOPK_SQL}) t),
     lsh AS (SELECT query_id, neighbor_id FROM ({_lsh_topk_oracle_sql()}) t),
     ivf AS (SELECT query_id, neighbor_id FROM ({_ivf_topk_oracle_sql()}) t),
     ex_n AS (SELECT count(*) AS n FROM exact)
SELECT 'ivf' AS method, CAST(count(*) AS BIGINT) AS hits,
       (SELECT CAST(n AS BIGINT) FROM ex_n) AS expected,
       round(count(*)::DOUBLE / (SELECT n FROM ex_n), 6) AS recall
FROM ivf JOIN exact USING (query_id, neighbor_id)
UNION ALL
SELECT 'lsh', CAST(count(*) AS BIGINT),
       (SELECT CAST(n AS BIGINT) FROM ex_n),
       round(count(*)::DOUBLE / (SELECT n FROM ex_n), 6)
FROM lsh JOIN exact USING (query_id, neighbor_id)
"""


def _q_ann_recall(spark, sf_dir):
    """ANN quality gate: recall@3 of the LSH and IVF paths against the
    brute-force exact top-k, over the shared vec_id<10 query set. Puts a
    NUMBER on the 'recall < 1, cost ~ bucket size' trade the ANN docstrings
    claim; the oracle recomputes all three searches and the recall division
    in DuckDB (see _ann_recall_oracle_sql)."""
    from quad_processor_util_spark.operators.similarity import ivf_topk

    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.where(F.col("vec_id") < 10)
    exact = cosine_topk(emb, queries, k=3).select("query_id", "neighbor_id")
    approx = {
        "lsh": lsh_topk(emb, queries, dim=_EMB_DIM, k=3, planes=4,
                        tables=16).select("query_id", "neighbor_id"),
        "ivf": ivf_topk(emb, queries, dim=_EMB_DIM, k=3,
                        n_lists=_IVF_GATE_NLISTS, nprobe=_IVF_GATE_NPROBE,
                        centroids=_ivf_gate_centroids()
                        ).select("query_id", "neighbor_id"),
    }
    exact = exact.localCheckpoint(eager=False)  # 30 rows; scanned 3x
    n_exact = exact.count()
    rows = []
    for name, adf in sorted(approx.items()):
        hits = adf.join(exact, ["query_id", "neighbor_id"], "left_semi").count()
        rows.append((name, hits, n_exact, round(hits / n_exact, 6)))
    return spark.createDataFrame(
        rows, "method string, hits long, expected long, recall double")


_JACCARD_ORACLE = f"""
WITH toks AS (
  SELECT doc_id, string_split({_NORM}, ' ') AS t FROM documents
), grams AS (
  SELECT doc_id,
         CASE WHEN len(t) >= 3
              THEN list_distinct([array_to_string(t[i:i+2], ' ')
                                  FOR i IN generate_series(1, len(t) - 2)])
              ELSE [array_to_string(t, ' ')] END AS g
  FROM toks
), inv AS (
  SELECT doc_id, unnest(g) AS sh FROM grams
), sizes AS (
  SELECT doc_id, len(g) AS sz FROM grams
), inter AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS i
  FROM inv a JOIN inv b USING (sh)
  WHERE a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT id_a, id_b,
       round(i * 1.0 / (sa.sz + sb.sz - i), 6) AS jaccard
FROM inter
JOIN sizes sa ON sa.doc_id = id_a
JOIN sizes sb ON sb.doc_id = id_b
WHERE i * 1.0 / (sa.sz + sb.sz - i) >= 0.5
"""


_GRAMS_SQL = """
  SELECT doc_id,
         CASE WHEN len(t) >= 3
              THEN list_distinct([array_to_string(t[i:i+2], ' ')
                                  FOR i IN generate_series(1, len(t) - 2)])
              ELSE [array_to_string(t, ' ')] END AS g
  FROM (SELECT doc_id, string_split({norm}, ' ') AS t FROM documents)
""".format(norm=_NORM)

_MERSENNE = (1 << 31) - 1


def _minhash_oracle_sql(num_hashes: int = 36, bands: int = 6,
                        threshold: float = 0.7, seed: int = 42) -> str:
    """DuckDB replay of minhash_dedup(hash_kind='md5', bucket_kind='concat'):
    the exact same base hash (first 15 md5 hex chars as a 60-bit int), the
    same seeded affine permutations, signature-group collapse, band buckets,
    candidate pairs, exact-jaccard verification, and loser drop."""
    from quad_processor_util_spark.operators.dedup import _perm_coeffs

    coeffs = _perm_coeffs(num_hashes, seed)
    mh_aggs = ",\n         ".join(
        f"min((h * {a} + {b}) % {_MERSENNE}) AS mh_{i}"
        for i, (a, b) in enumerate(coeffs)
    )
    mh_cols = ", ".join(f"mh_{i}" for i in range(num_hashes))
    rpb = num_hashes // bands
    banded = "\n  UNION ALL\n".join(
        "  SELECT doc_id, {b} AS band, concat_ws('_', {cols}) AS bucket FROM reps"
        .format(b=b, cols=", ".join(f"mh_{b * rpb + r}" for r in range(rpb)))
        for b in range(bands)
    )
    return f"""
WITH grams AS ({_GRAMS_SQL}),
h AS (
  SELECT doc_id,
         (('0x' || substr(md5(sh), 1, 15))::BIGINT % {_MERSENNE}) AS h
  FROM (SELECT doc_id, unnest(g) AS sh FROM grams)
),
sig AS (
  SELECT doc_id,
         {mh_aggs}
  FROM h GROUP BY doc_id
),
reps AS (
  SELECT {mh_cols}, min(doc_id) AS doc_id FROM sig GROUP BY {mh_cols}
),
banded AS (
{banded}
),
cands AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b
  FROM banded a JOIN banded b USING (band, bucket)
  WHERE a.doc_id < b.doc_id
  GROUP BY 1, 2
),
ver AS (
  SELECT id_a, id_b
  FROM cands
  JOIN grams ga ON ga.doc_id = id_a
  JOIN grams gb ON gb.doc_id = id_b
  WHERE len(list_intersect(ga.g, gb.g)) * 1.0
        / len(list_distinct(ga.g || gb.g)) >= {threshold}
)
SELECT doc_id FROM documents
WHERE doc_id IN (SELECT doc_id FROM reps)
  AND doc_id NOT IN (SELECT id_b FROM ver)
"""


def _simhash_oracle_sql(bits: int = 60) -> str:
    """DuckDB replay of simhash_signatures(bits=60, hash_kind='md5')."""
    sums = ",\n         ".join(
        f"sum(CASE WHEN (h >> {i}) & 1 = 1 THEN 1 ELSE -1 END) AS b{i}"
        for i in range(bits)
    )
    pack = "\n       + ".join(
        f"(CASE WHEN b{i} > 0 THEN {1 << i} ELSE 0 END)" for i in range(bits)
    )
    return f"""
WITH toks AS (
  SELECT doc_id, unnest(string_split({_NORM}, ' ')) AS t FROM documents
),
h AS (
  SELECT doc_id, ('0x' || substr(md5(t), 1, 15))::BIGINT AS h FROM toks
),
sums AS (
  SELECT doc_id,
         {sums}
  FROM h GROUP BY doc_id
)
SELECT doc_id,
       CAST({pack} AS BIGINT) AS simhash
FROM sums
"""


def _lsh_topk_oracle_sql(dim: int = _EMB_DIM, k: int = 3, planes: int = 4,
                         tables: int = 16, seed: int = 42) -> str:
    """DuckDB replay of lsh_topk: the SAME seeded hyperplanes (inlined as
    literals — both engines derive them from one deterministic generator),
    sign-bit buckets per table, candidate bucket-join, exact cosine re-rank
    on candidates only."""
    from quad_processor_util_spark.operators.similarity import _hyperplanes

    P = _hyperplanes(dim, planes, tables, seed)

    def bucket_expr(t: int) -> str:
        return " + ".join(
            "((list_dot_product(v, [{vec}]) >= 0)::BIGINT << {p})".format(
                vec=", ".join(repr(x) for x in P[t][p]), p=p)
            for p in range(planes)
        )

    banded = "\n  UNION ALL\n".join(
        f"  SELECT vec_id, v, {t} AS tbl, {bucket_expr(t)} AS bucket FROM c"
        for t in range(tables)
    )
    return f"""
WITH c AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
banded AS (
{banded}
),
qb AS (
  SELECT vec_id AS query_id, tbl, bucket FROM banded WHERE vec_id < 10
),
cand AS (
  SELECT DISTINCT q.query_id, b.vec_id AS neighbor_id
  FROM banded b JOIN qb q ON b.tbl = q.tbl AND b.bucket = q.bucket
  WHERE b.vec_id != q.query_id
),
scored AS (
  SELECT query_id, neighbor_id,
         list_cosine_similarity(cq.v, cc.v) AS sim
  FROM cand
  JOIN c cq ON cq.vec_id = query_id
  JOIN c cc ON cc.vec_id = neighbor_id
),
ranked AS (
  SELECT query_id, neighbor_id,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY sim DESC, neighbor_id) AS rank
  FROM scored
)
SELECT query_id, rank, neighbor_id FROM ranked WHERE rank <= {k}
"""


def _embedding_pairs_core_sql(dim: int = _EMB_DIM, threshold: float = 0.95,
                              planes: int = 6, tables: int = 6,
                              seed: int = 42) -> str:
    """Shared CTE body replaying embedding_cosine_dedup_pairs over the
    planted corpus (embeddings UNION a ×1.5/+10^7 copy): the SAME seeded
    hyperplanes (inlined as literals), sign-bit buckets per table,
    candidate self-join on (table, bucket), exact cosine on candidates
    only. Ends with `scored` (id_a, id_b, sim) and `ver` (pairs above
    threshold) — consumed by both the embedding_neardup oracle (pair
    list) and the embedding_clusters oracle (recursive closure). Computes
    the pairs FROM THE DATA — the planted-pair closed form is not assumed
    (round-2 gate-hygiene fix)."""
    from quad_processor_util_spark.operators.similarity import _hyperplanes

    P = _hyperplanes(dim, planes, tables, seed)

    def bucket_expr(t: int) -> str:
        return " + ".join(
            "((list_dot_product(v, [{vec}]) >= 0)::BIGINT << {p})".format(
                vec=", ".join(repr(x) for x in P[t][p]), p=p)
            for p in range(planes)
        )

    banded = "\n  UNION ALL\n".join(
        f"  SELECT vec_id, v, {t} AS tbl, {bucket_expr(t)} AS bucket FROM c"
        for t in range(tables)
    )
    return f"""base AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
c AS (
  SELECT vec_id, v FROM base
  UNION ALL
  SELECT vec_id + 10000000 AS vec_id,
         list_transform(v, x -> x * 1.5) AS v
  FROM base
),
banded AS (
{banded}
),
pairs AS (
  SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
  FROM banded a JOIN banded b ON a.tbl = b.tbl AND a.bucket = b.bucket
  WHERE a.vec_id < b.vec_id
),
scored AS (
  SELECT id_a, id_b, list_cosine_similarity(ca.v, cb.v) AS sim
  FROM pairs
  JOIN c ca ON ca.vec_id = id_a
  JOIN c cb ON cb.vec_id = id_b
),
ver AS (SELECT id_a, id_b FROM scored WHERE sim >= {threshold})"""


def _embedding_neardup_oracle_sql(threshold: float = 0.95) -> str:
    return f"""
WITH {_embedding_pairs_core_sql(threshold=threshold)}
SELECT id_a, id_b, round(sim, 6) AS sim
FROM scored WHERE sim >= {threshold}
"""


def _embedding_clusters_oracle_sql(threshold: float = 0.95) -> str:
    """Recursive-CTE transitive closure over the verified embedding pairs
    — same reachability pattern as the dedup_clusters oracle — labeling
    every corpus vector (both planted halves) with its component-min id."""
    return f"""
WITH RECURSIVE {_embedding_pairs_core_sql(threshold=threshold)},
e AS (
  SELECT id_a AS a, id_b AS b FROM ver
  UNION
  SELECT id_b AS a, id_a AS b FROM ver
),
reach(node, r) AS (
  SELECT a, b FROM e
  UNION
  SELECT reach.node, e.b FROM reach JOIN e ON reach.r = e.a
)
SELECT CAST(c.vec_id AS BIGINT) AS vec_id,
       CAST(least(c.vec_id, coalesce(min(reach.r), c.vec_id)) AS BIGINT)
         AS cluster_id
FROM c LEFT JOIN reach ON reach.node = c.vec_id
GROUP BY c.vec_id
"""


def oracle_sql() -> dict[str, str]:
    return {
        "tpch_q1": """
            SELECT l_returnflag, l_linestatus,
                   CAST(sum(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sum_qty,
                   CAST(sum(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE) AS sum_base_price,
                   CAST(sum(CAST(l_extendedprice AS DECIMAL(18,4)) *
                            (CAST(1 AS DECIMAL(18,4)) - CAST(l_discount AS DECIMAL(18,4)))) AS DOUBLE)
                       AS sum_disc_price,
                   count(*) AS count_order
            FROM lineitem
            WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
            GROUP BY l_returnflag, l_linestatus
            ORDER BY l_returnflag, l_linestatus
        """,
        "star_join": """
            SELECT r_name, n_name,
                   CAST(sum(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS revenue,
                   count(*) AS n_orders
            FROM orders
            JOIN customer ON o_custkey = c_custkey
            JOIN nation ON c_nationkey = n_nationkey
            JOIN region ON n_regionkey = r_regionkey
            GROUP BY r_name, n_name
            ORDER BY r_name, n_name
        """,
        "stable_turn_order": """
            SELECT user_id, event_id,
                   row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) - 1
                       AS turn_idx
            FROM events
        """,
        "dedup_exact": f"""
            SELECT min(doc_id) AS doc_id FROM documents
            GROUP BY md5({_NORM})
        """,
        "predicate_split_counts": """
            SELECT event_type AS pred_label, count(*) AS n
            FROM events GROUP BY event_type ORDER BY pred_label
        """,
        "nt_format": """
            SELECT '<http://example.org/doc/' || doc_id ||
                   '> <http://example.org/ontology/lang> "' || lang || '" .' AS line
            FROM documents ORDER BY line
        """,
        "quad_parse": """
            SELECT 'http://example.org/doc/' || doc_id AS subject,
                   'http://example.org/ontology/source' AS predicate,
                   source AS obj,
                   'http://www.w3.org/2001/XMLSchema#string' AS datatype,
                   'http://example.org/g/' || lang AS graph
            FROM documents
        """,
        "star_group": """
            SELECT user_id, count(*) AS n_events,
                   count(DISTINCT event_type) AS n_types,
                   min(event_type) AS first_type,
                   string_agg(DISTINCT event_type, ',' ORDER BY event_type) AS types_csv
            FROM events GROUP BY user_id
        """,
        "text_metrics": f"""
            SELECT doc_id,
                   CASE WHEN trim(text) = '' THEN 0
                        ELSE len(string_split_regex(trim(text), '\\s+')) END AS n_tokens,
                   CASE WHEN len(text) > 0 THEN
                        round(len(regexp_replace(text, '[^.,;:!?''"()\\[\\]{{}}-]', '', 'g'))
                              * 1.0 / len(text), 6)
                        ELSE 0.0 END AS punct_ratio,
                   md5({_NORM}) AS fp
            FROM documents
        """,
        "cosine_topk": _COSINE_TOPK_SQL,
        "ann_recall": _ann_recall_oracle_sql(),
        "jaccard_pairs": _JACCARD_ORACLE,
        "salted_join": """
            SELECT c_mktsegment, count(*) AS n,
                   CAST(sum(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS revenue
            FROM orders JOIN customer ON o_custkey = c_custkey
            GROUP BY c_mktsegment ORDER BY c_mktsegment
        """,
        "anti_join": """
            SELECT c_custkey FROM customer
            WHERE c_custkey NOT IN (SELECT o_custkey FROM orders)
        """,
        "sessionize": """
            WITH g AS (
              SELECT user_id,
                     CASE WHEN ts > lag(ts) OVER
                              (PARTITION BY user_id ORDER BY ts, event_id)
                              + INTERVAL 30 MINUTE
                          OR lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
                          THEN 1 ELSE 0 END AS new_sess
              FROM events
            )
            SELECT user_id,
                   CAST(sum(new_sess) AS BIGINT) AS n_sessions,
                   CAST(count(*) AS BIGINT) AS n_events
            FROM g GROUP BY user_id
        """,
        "connected_components": """
            WITH canon AS (
              SELECT n_regionkey, format('n{:02d}', min(n_nationkey)) AS canonical
              FROM nation GROUP BY n_regionkey
            )
            SELECT format('n{:02d}', n_nationkey) AS node, c.canonical
            FROM nation n JOIN canon c USING (n_regionkey)
            UNION ALL
            SELECT format('r{:02d}', n_regionkey) AS node, canonical
            FROM canon
            ORDER BY node
        """,
        "lang_id": """
            WITH f AS (
              SELECT doc_id, ' ' || lower(text) || ' ' AS low FROM documents
            ), s AS (
              SELECT doc_id,
                (low LIKE '% the %')::INT + (low LIKE '% and %')::INT +
                (low LIKE '% of %')::INT + (low LIKE '% is %')::INT AS en,
                (low LIKE '% der %')::INT + (low LIKE '% die %')::INT +
                (low LIKE '% das %')::INT + (low LIKE '% und %')::INT AS de,
                (low LIKE '% el %')::INT + (low LIKE '% la %')::INT +
                (low LIKE '% los %')::INT + (low LIKE '% que %')::INT AS es,
                (low LIKE '% le %')::INT + (low LIKE '% les %')::INT +
                (low LIKE '% des %')::INT + (low LIKE '% est %')::INT AS fr
              FROM f
            )
            SELECT doc_id,
                   CASE WHEN greatest(en, de, es, fr) = 0 THEN 'other'
                        WHEN en = greatest(en, de, es, fr) THEN 'en'
                        WHEN de = greatest(en, de, es, fr) THEN 'de'
                        WHEN es = greatest(en, de, es, fr) THEN 'es'
                        ELSE 'fr' END AS lang_guess
            FROM s
        """,
        "extract_kg": f"""
            SELECT DISTINCT * FROM ({_EXTRACT_CORE_SQL}) core
        """,
        # crash-after-3-buckets + resume must equal ONE uninterrupted run:
        # same full-extraction SQL as extract_kg (the query itself asserts
        # the resumed run touched only the 5 missing buckets)
        "resume_pipeline": f"""
            SELECT DISTINCT * FROM ({_EXTRACT_CORE_SQL}) core
        """,
        # bucket-partitioned layout + crash + partition-pruned resume must
        # reproduce the one-clean-run extraction exactly
        "resume_bucketed": f"""
            SELECT DISTINCT * FROM ({_EXTRACT_CORE_SQL}) core
        """,
        # observe()-counters riding the extraction job: one quad per turn
        # pre-dedup, so both counters equal count(events)
        "pipeline_metrics": """
            SELECT 'quads_out' AS metric, CAST(count(*) AS BIGINT) AS value
            FROM events
            UNION ALL
            SELECT 'turns_in', CAST(count(*) AS BIGINT) FROM events
        """,
        # table re-read AND the first commit's recorded counter must both
        # equal count(events); the empty append makes commit history = 2
        "table_sidecar": """
            SELECT 'table_rows' AS key, CAST(count(*) AS BIGINT) AS value
            FROM events
            UNION ALL
            SELECT 'first_commit_rows', CAST(count(*) AS BIGINT) FROM events
            UNION ALL
            SELECT 'sidecar_commits', 2
        """,
        # drained 5-minute tumbling windows per role == batch time-bucketing
        # (windows align to the epoch; everything runs UTC)
        "turn_rate": """
            SELECT CAST(floor(epoch(ts) / 300) * 300 AS BIGINT) AS w_start,
                   'user' AS role,
                   CAST(count(*) AS BIGINT) AS turns
            FROM events GROUP BY 1
        """,
        # persist-once fan-out: both sinks must reflect the same single
        # extraction — total quads + per-graph counts
        "multi_sink": """
            SELECT '__total_quads' AS key, CAST(count(*) AS BIGINT) AS n
            FROM events
            UNION ALL
            SELECT 'graph=http://example.org/conv/' || user_id,
                   CAST(count(*) AS BIGINT)
            FROM events GROUP BY user_id
        """,
        # stream drain (availableNow over 16 file drops, ≥2 micro-batches)
        # must emit the SAME quads as one batch extraction
        "stream_extract": f"""
            SELECT DISTINCT * FROM ({_EXTRACT_CORE_SQL}) core
        """,
        # 3 PageRank rounds unrolled as CTEs over the same extraction SQL;
        # dangling (org) mass redistributed uniformly each round
        "entity_pagerank": _pagerank_oracle_sql(iters=3, damping=0.85),
        # per-column census recomputed as UNION ALL branches; sum(CASE)
        # handles the zero-null columns DuckDB's count(col) would too
        "profile_events": _profile_events_oracle_sql(),
        # gzip JSONL export + schema-enforced read-back must be the
        # identity on the projection (real write+read, not expressions)
        "jsonl_roundtrip": """
            SELECT doc_id, lang, text FROM documents
        """,
        # compaction is layout-only: content must equal the source
        # projection exactly (the gate asserts the file-count contract
        # in-line before returning)
        "compact_table": """
            SELECT event_id, user_id, event_type, value FROM events
        """,
        # copy-on-write MERGE replayed as three UNION ALL arms: kept rows
        # (neither updated nor deleted), updated rows (%7, not %11),
        # inserts under key + 1e9 (%13); deletes (%11) appear nowhere
        "snapshot_merge": """
            WITH base AS (
              SELECT event_id, user_id, event_type, value FROM events
            )
            SELECT event_id, user_id, event_type, value FROM base
            WHERE event_id % 7 != 0 AND event_id % 11 != 0
            UNION ALL
            SELECT event_id, user_id, 'merged_' || event_type, value * 2
            FROM base WHERE event_id % 7 = 0 AND event_id % 11 != 0
            UNION ALL
            SELECT event_id + 1000000000, user_id, 'inserted',
                   CAST(event_id AS DOUBLE)
            FROM base WHERE event_id % 13 = 0
        """,
        # two full copies streamed in separate drops; the drained
        # dedup-within-watermark sink (delay spans the data, no eviction)
        # == one batch-distinct transcripts derivation
        "stream_dedup": f"""
            SELECT CAST(user_id AS VARCHAR) AS conv_id,
                   CAST(row_number() OVER (
                     PARTITION BY user_id ORDER BY ts, event_id) - 1
                     AS INT) AS turn_idx,
                   'user' AS role,
                   {_PEOPLE_SQL}[(event_id % 4 + 1)::INT] || ' works at ' ||
                   {_ORGS_SQL}[((event_id % 16) // 4 + 1)::INT] || '.' AS text
            FROM events
        """,
        # the stateful operator's FINAL per-conversation state after the
        # stream drains == the batch 30-minute-gap sessionization
        "stream_sessionize": """
            WITH g AS (
              SELECT user_id,
                     CASE WHEN ts > lag(ts) OVER
                              (PARTITION BY user_id ORDER BY ts, event_id)
                              + INTERVAL 30 MINUTE
                          OR lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
                          THEN 1 ELSE 0 END AS new_sess
              FROM events
            )
            SELECT CAST(user_id AS VARCHAR) AS conv_id,
                   CAST(sum(new_sess) AS BIGINT) AS n_sessions,
                   CAST(count(*) AS BIGINT) AS n_turns
            FROM g GROUP BY user_id
        """,
        # same quads whether extraction ran on the bucketed fast path or
        # through stable_order's explicit repartition + secondary sort
        "extract_kg_shuffled": f"""
            SELECT DISTINCT * FROM ({_EXTRACT_CORE_SQL}) core
        """,
        "mint_iri": _mint_iri_oracle_sql(),
        "media_features": _media_features_oracle_sql(),
        "uri_to_iri": _uri_to_iri_oracle_sql(),
        "quad_filter": """
            SELECT 'http://example.org/user/' || user_id AS subject,
                   'http://example.org/ontology/' || event_type AS predicate,
                   CAST(event_id AS VARCHAR) AS obj,
                   CASE WHEN event_id % 3 = 0
                        THEN 'http://example.org/g/' || event_type END AS graph
            FROM events
            WHERE event_type IN ('click', 'view')
              AND (event_id % 3 <> 0 OR event_type = 'click')
        """,
        "title_filter": """
            SELECT 'http://dbpedia.org/resource/D' || doc_id AS subject
            FROM documents WHERE doc_id % 5 IN (2, 3, 4)
        """,
        "star_view": """
            WITH q AS (
              SELECT 'http://example.org/user/' || user_id AS subject,
                     CASE WHEN event_id % 2 = 0 THEN 'label' ELSE 'type' END AS kind,
                     event_type AS obj
              FROM events
            ), agg AS (
              SELECT subject,
                     list_sort(list_distinct(coalesce(
                         list(obj) FILTER (WHERE kind = 'label'), []))) AS labels,
                     list_sort(list_distinct(coalesce(
                         list(obj) FILTER (WHERE kind = 'type'), []))) AS types,
                     count(*) AS n_quads
              FROM q GROUP BY subject
            )
            SELECT subject,
                   labels[1] AS label,
                   array_to_string(labels[2:], ',') AS alt_csv,
                   array_to_string(types, ',') AS types_csv,
                   n_quads
            FROM agg
        """,
        "window_topk": """
            WITH r AS (
              SELECT user_id, event_id,
                     row_number() OVER (PARTITION BY user_id
                                        ORDER BY value DESC, event_id) AS rnk
              FROM events
            )
            SELECT user_id, rnk, event_id FROM r WHERE rnk <= 2
        """,
        "token_stats": r"""
            SELECT doc_id,
                   len(regexp_extract_all(text, '[A-Za-z0-9_]+|[^\sA-Za-z0-9_]'))
                       AS n_bpe_tokens,
                   len(text) AS n_chars2
            FROM documents
        """,
        "quality_score": r"""
            WITH b AS (
              SELECT doc_id, len(text) AS n,
                     CASE WHEN len(text) > 0 THEN
                          round(len(regexp_replace(text,
                                '[^.,;:!?''"()\[\]{}-]', '', 'g'))
                                * 1.0 / len(text), 6)
                          ELSE 0.0 END AS pr,
                     CASE WHEN len(string_split_regex(lower(trim(text)), '\s+')) > 0
                          THEN round(len(list_filter(
                                 string_split_regex(lower(trim(text)), '\s+'),
                                 x -> x IN ('the','a','an','and','or','of',
                                            'to','in','is','it')))
                               * 1.0
                               / len(string_split_regex(lower(trim(text)), '\s+')),
                               6)
                          ELSE 0.0 END AS sr
              FROM documents
            )
            SELECT doc_id,
                   round((CASE WHEN n BETWEEN 50 AND 5000 THEN 0.5 ELSE 0 END)::DOUBLE
                         + (CASE WHEN pr < 0.1 THEN 0.25 ELSE 0 END)
                         + (CASE WHEN sr > 0.05 THEN 0.25 ELSE 0 END), 6)::DOUBLE
                       AS quality,
                   sr::DOUBLE AS stop_ratio
            FROM b
        """,
        # seeded-hash ops replayed exactly in SQL: the gate variants use
        # md5-derived base hashes / concat band buckets / inlined seeded
        # hyperplanes, all computable on both engines
        "minhash_dedup": _minhash_oracle_sql(),
        "dedup_clusters": _dedup_clusters_oracle_sql(),
        "simhash": _simhash_oracle_sql(),
        "lsh_topk": _lsh_topk_oracle_sql(),
        # IVF with the gate's FIXED seeded centroids (data-fit k-means stays
        # pytest-only — a quantizer fit on a data sample is not SQL-replayable)
        "ivf_topk": _ivf_topk_oracle_sql(),
        # extract -> CC canonicalize -> excluded drop -> distinct: the
        # canonical mapping over _e2e_alias_edges is deterministic constants
        # (canonical = component-min IRI), inlined as CASE rewrites
        "pipeline_e2e": f"""
            WITH q AS (
              SELECT * FROM ({_EXTRACT_CORE_SQL}) core
            )
            SELECT DISTINCT
                   CASE subject WHEN '{_DBR}Ada_Lovelace'
                        THEN '{_DBR}A0_Ada' ELSE subject END AS subject,
                   predicate,
                   CASE obj WHEN '{_DBR}Turing_Institute'
                        THEN '{_DBR}AA_TI' ELSE obj END AS obj,
                   graph
            FROM q
            WHERE obj != '{_DBR}Knuth_Press'
        """,
        # 4-stage composition: worksAt quads (rewritten/excluded exactly as
        # pipeline_e2e) UNION the fuzzy-linked mention quads. The linked
        # entity for the planted 'Hoppr Labs' surface is DERIVED by
        # replaying the 3-gram jaccard × form-weight scoring over the
        # catalog in SQL (same replay as the fuzzy_link oracle), not stated
        # as a constant (round-2 gate-hygiene fix)
        "pipeline_full": f"""
            WITH cat(surface_form, entity_iri, form_weight) AS (
              VALUES {", ".join(
                  f"('{n}', '{_GAZ[n]}', 1.0)" for n in _PEOPLE + _ORGS)}
            ), sg AS (
              SELECT list_distinct([substr(lower(trim('Hoppr Labs')), i, 3)
                                    FOR i IN generate_series(
                                        1, len(lower(trim('Hoppr Labs'))) - 2)]) AS g
            ), cg AS (
              SELECT entity_iri, form_weight,
                     list_distinct([substr(lower(trim(surface_form)), i, 3)
                                    FOR i IN generate_series(
                                        1, len(lower(trim(surface_form))) - 2)]) AS g
              FROM cat
            ), linked AS (
              SELECT entity_iri FROM (
                SELECT c.entity_iri,
                       len(list_intersect(s.g, c.g)) * 1.0
                         / len(list_distinct(s.g || c.g)) AS jaccard,
                       len(list_intersect(s.g, c.g)) * 1.0
                         / len(list_distinct(s.g || c.g)) * c.form_weight AS score
                FROM sg s CROSS JOIN cg c
              ) WHERE jaccard >= 0.4
              ORDER BY score DESC, entity_iri LIMIT 1
            ), q AS (
              SELECT * FROM ({_EXTRACT_CORE_SQL}) core
            ), works AS (
              SELECT DISTINCT
                     CASE subject WHEN '{_DBR}Ada_Lovelace'
                          THEN '{_DBR}A0_Ada' ELSE subject END AS subject,
                     predicate,
                     CASE obj WHEN '{_DBR}Turing_Institute'
                          THEN '{_DBR}AA_TI' ELSE obj END AS obj,
                     graph
              FROM q
              WHERE obj != '{_DBR}Knuth_Press'
            ), turns AS (
              SELECT user_id,
                     row_number() OVER (PARTITION BY user_id
                                        ORDER BY ts, event_id) - 1 AS turn_idx
              FROM events
            ), mentions AS (
              SELECT DISTINCT
                     'http://example.org/conv/' || user_id || '/turn/'
                         || CAST(turn_idx AS VARCHAR) AS subject,
                     'http://example.org/ontology/mentions' AS predicate,
                     linked.entity_iri AS obj,
                     'http://example.org/conv/' || user_id AS graph
              FROM turns CROSS JOIN linked
            )
            SELECT * FROM works UNION ALL SELECT * FROM mentions
        """,
        "fuzzy_link": f"""
            WITH surf AS (
              SELECT DISTINCT
                     replace({_PEOPLE_SQL}[(event_id % 4 + 1)::INT], ' ', '')
                         AS surface
              FROM events
            ), cat(surface_form, entity_iri, form_weight) AS (
              VALUES {", ".join(
                  f"('{n}', '{_GAZ[n]}', 1.0)" for n in _PEOPLE + _ORGS)}
            ), sg AS (
              SELECT surface,
                     list_distinct([substr(lower(trim(surface)), i, 3)
                                    FOR i IN generate_series(
                                        1, len(lower(trim(surface))) - 2)]) AS g
              FROM surf
            ), cg AS (
              SELECT entity_iri, form_weight,
                     list_distinct([substr(lower(trim(surface_form)), i, 3)
                                    FOR i IN generate_series(
                                        1, len(lower(trim(surface_form))) - 2)]) AS g
              FROM cat
            ), scored AS (
              SELECT s.surface, c.entity_iri,
                     len(list_intersect(s.g, c.g)) * 1.0
                       / len(list_distinct(s.g || c.g)) * c.form_weight AS score,
                     len(list_intersect(s.g, c.g)) * 1.0
                       / len(list_distinct(s.g || c.g)) AS jaccard
              FROM sg s CROSS JOIN cg c
            ), ranked AS (
              SELECT surface, entity_iri, score,
                     row_number() OVER (PARTITION BY surface
                                        ORDER BY score DESC, entity_iri) AS rn
              FROM scored WHERE jaccard >= 0.4
            )
            SELECT surface, entity_iri, round(score, 6) AS score
            FROM ranked WHERE rn = 1 ORDER BY surface
        """,
        # the events-derived quads' URIs are valid and escape-free, so only
        # the literal object needs the XML escape chain (a no-op on digits,
        # kept for form); graph-less rows carry the reference's literal
        # 'BAD URI: null' context element
        # independent replay of the hyperplane bucketing + cosine filter
        # (the planted ×1.5 pairs are guaranteed co-bucketed and cos=1, but
        # the oracle derives the pairs from the data, not the construction)
        "embedding_neardup": _embedding_neardup_oracle_sql(),
        "embedding_clusters": _embedding_clusters_oracle_sql(),
        "int_hex": """
            SELECT event_id,
                   to_hex(event_id) AS hx,
                   CAST(('0x' || to_hex(event_id)) AS BIGINT) AS back
            FROM events
        """,
        "trix_format": """
            SELECT '  <graph>' || chr(10)
                   || CASE WHEN event_id % 3 = 0
                        THEN '    <uri>http://example.org/g/' || event_type
                             || '</uri>'
                        ELSE '    <uri>BAD URI: null</uri>' END || chr(10)
                   || '    <triple>' || chr(10)
                   || '      <uri>http://example.org/user/' || user_id
                   || '</uri>' || chr(10)
                   || '      <uri>http://example.org/ontology/' || event_type
                   || '</uri>' || chr(10)
                   || '      <typedLiteral datatype='
                   || '"http://www.w3.org/2001/XMLSchema#string">'
                   || replace(replace(replace(replace(
                        CAST(event_id AS VARCHAR),
                        '&', '&amp;'), '<', '&lt;'), '>', '&gt;'),
                        '"', '&quot;')
                   || '</typedLiteral>' || chr(10)
                   || '    </triple>' || chr(10)
                   || '  </graph>' || chr(10) AS trix
            FROM events
        """,
        # field order and compactness must match Jackson's to_json output
        # byte-for-byte; lang/datatype are null here and dropped, xsd:string
        # is omitted by the formatter's dispatch
        "rdf_json": """
            SELECT '{"subject":"http://example.org/user/' || user_id
                   || '","predicate":"http://example.org/ontology/' || event_type
                   || '","object":{"value":"' || event_id
                   || '","type":"literal"}}' AS json
            FROM events
        """,
        "prefixed_name": """
            SELECT event_id,
                   CASE WHEN event_id % 4 = 0
                        THEN 'http://example.org/ontology/' || event_type
                        WHEN event_id % 4 = 1
                        THEN 'http://www.w3.org/2000/01/rdf-schema#' || event_type
                        WHEN event_id % 4 = 2
                        THEN 'http://dbpedia.org/resource/E' || event_id
                        ELSE 'http://unregistered.example/x/' || event_type
                   END AS iri,
                   CASE WHEN event_id % 4 = 0 THEN 'ex-' || event_type
                        WHEN event_id % 4 = 1 THEN 'rdfs-' || event_type
                        WHEN event_id % 4 = 2 THEN 'dbr-E' || event_id
                        ELSE event_type END AS pref,
                   CASE WHEN event_id % 4 = 2 THEN 'E' || CAST(event_id AS VARCHAR)
                        ELSE event_type END AS local
            FROM events
        """,
        "text_clean": r"""
            SELECT doc_id,
                   trim(regexp_replace(
                     regexp_replace(
                       regexp_replace(
                         regexp_replace(
                           regexp_replace(text, '<[^>]+>', ' ', 'g'),
                           '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}',
                           '<EMAIL>', 'g'),
                         '\+?\d[\d()\-\s]{7,}\d', '<PHONE>', 'g'),
                       '\b(\d{1,3}\.){3}\d{1,3}\b', '<IP>', 'g'),
                     '\s+', ' ', 'g')) AS clean
            FROM documents
        """,
        "repetition_metrics": _REPETITION_ORACLE,
        "chunk_docs": _CHUNK_ORACLE,
        "winnow_fp": _WINNOW_SQL,
        # benchmark fps are a SUBSET of the corpus fps by construction
        # (the gate benchmark is documents with doc_id % 20 = 0, texts
        # verbatim, and winnowing is per-document), so the oracle derives
        # them by filtering the corpus fingerprints
        "decontaminate": f"""
            WITH corpus_fp AS ({_winnow_sql(20, 4)}),
            bench_fp AS (
              SELECT DISTINCT fp FROM corpus_fp WHERE doc_id % 20 = 0
            ),
            hits AS (
              SELECT c.doc_id, count(DISTINCT c.fp) AS h
              FROM corpus_fp c JOIN bench_fp b USING (fp)
              GROUP BY 1
            )
            SELECT d.doc_id,
                   CAST(coalesce(h.h, 0) AS BIGINT) AS hits,
                   coalesce(h.h, 0) >= 1 AS contaminated
            FROM documents d LEFT JOIN hits h USING (doc_id)
        """,
        # the sampling family replays operators/sampling.py's md5-60bit
        # unit draw: ('0x' || substr(md5(id || ':seed'), 1, 15))::BIGINT
        # % 1e6, compared against the inlined per-stratum thresholds
        "stratified_sample": """
            SELECT doc_id, lang FROM documents
            WHERE ('0x' || substr(md5(doc_id::VARCHAR || ':42'), 1, 15))::BIGINT
                  % 1000000
                < CASE lang WHEN 'en' THEN 500000 WHEN 'de' THEN 1000000
                            WHEN 'es' THEN 250000 WHEN 'fr' THEN 100000
                            WHEN 'zh' THEN 750000 ELSE 0 END
        """,
        "group_quota": """
            SELECT doc_id, source, n_chars, rk FROM (
              SELECT doc_id, source, n_chars,
                     row_number() OVER (PARTITION BY source
                                        ORDER BY n_chars DESC, doc_id) AS rk
              FROM documents)
            WHERE rk <= 5
        """,
        "hash_split": """
            SELECT doc_id,
                   CASE WHEN h < 800000 THEN 'train'
                        WHEN h < 900000 THEN 'val'
                        ELSE 'test' END AS split
            FROM (SELECT doc_id,
                         ('0x' || substr(md5(doc_id::VARCHAR || ':7'), 1, 15))::BIGINT
                         % 1000000 AS h
                  FROM documents)
        """,
        # refits the unigram LM and rescores end-to-end: same tokenization
        # as the repetition oracles, HAVING >= 100 replays min_count
        # pruning, OOV floor = 1/total via the coalesce
        "unigram_logprob": r"""
            WITH toks AS (
              SELECT doc_id,
                     unnest(list_filter(string_split_regex(lower(text), '\s+'),
                                        x -> x != '')) AS tok
              FROM documents
            ), vocab AS (
              SELECT tok, count(*) AS cnt FROM toks
              GROUP BY tok HAVING count(*) >= 100
            ), tot AS (SELECT sum(cnt)::DOUBLE AS total FROM vocab),
            scored AS (
              SELECT t.doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
                     avg(ln(coalesce(v.cnt, 1) / (SELECT total FROM tot)))
                       AS avg_lp
              FROM toks t LEFT JOIN vocab v USING (tok)
              GROUP BY t.doc_id
            )
            SELECT d.doc_id,
                   CAST(coalesce(s.n_tokens, 0) AS BIGINT) AS n_tokens,
                   round(s.avg_lp, 6) AS avg_logprob
            FROM documents d LEFT JOIN scored s USING (doc_id)
        """,
        # replays the deterministic shuffle order (md5-60bit key, id
        # tiebreak) with one global row_number — the distributed
        # bucket+offset scan must equal the naive total order
        "shuffle_rank": """
            SELECT doc_id,
                   CAST(row_number() OVER (
                     ORDER BY CAST(('0x' || substr(md5(doc_id || ':7'), 1, 15))
                              AS BIGINT), doc_id) - 1 AS BIGINT) AS shuffle_pos
            FROM documents
        """,
        # concat-and-chunk replay: same tokenizer as the repetition
        # oracles, global exclusive cumsum over the shuffle order, block
        # span exploded via generate_series
        "pack_sequences": r"""
            WITH d AS (
              SELECT doc_id,
                     CAST(len(list_filter(string_split_regex(lower(text), '\s+'),
                                          x -> x != '')) AS BIGINT) AS n,
                     CAST(('0x' || substr(md5(doc_id || ':7'), 1, 15))
                          AS BIGINT) AS k
              FROM documents
            ), p AS (
              SELECT doc_id, n,
                     CAST(coalesce(sum(n) OVER (ORDER BY k, doc_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                       0) AS BIGINT) AS s
              FROM d WHERE n > 0
            ), x AS (
              SELECT doc_id, s, s + n AS e,
                     unnest(generate_series(s // 512, (s + n - 1) // 512))
                       AS seq_id
              FROM p
            )
            SELECT doc_id,
                   CAST(seq_id AS BIGINT) AS seq_id,
                   CAST(greatest(s, seq_id * 512) - seq_id * 512 AS BIGINT)
                     AS block_offset,
                   CAST(greatest(s, seq_id * 512) - s AS BIGINT) AS tok_start,
                   CAST(least(e, (seq_id + 1) * 512) - greatest(s, seq_id * 512)
                        AS BIGINT) AS slice_len
            FROM x
        """,
        # refits the BPE merge-#1 statistic end-to-end: same whitespace
        # tokenizer as the repetition/unigram oracles, word-frequency
        # weighting, adjacent char pairs via generate_series; the
        # (count DESC, left, right) tie-break makes the top-50 set unique
        "bpe_pairs": r"""
            WITH wc AS (
              SELECT word, count(*) AS freq
              FROM (SELECT unnest(list_filter(
                             string_split_regex(lower(text), '\s+'),
                             x -> x != '')) AS word
                    FROM documents)
              GROUP BY word
            ), pairs AS (
              SELECT freq,
                     substr(word, i, 1) AS l, substr(word, i + 1, 1) AS r
              FROM (SELECT word, freq,
                           unnest(generate_series(1, len(word) - 1)) AS i
                    FROM wc WHERE len(word) >= 2)
            )
            SELECT l AS "left", r AS "right",
                   CAST(sum(freq) AS BIGINT) AS pair_count
            FROM pairs GROUP BY l, r
            ORDER BY pair_count DESC, "left", "right" LIMIT 50
        """,
        # replays BPE tokenization end-to-end: doubled-separator symbol
        # string, one replace() per fitted merge (leftmost non-overlapping
        # replace == the greedy left-to-right merge scan on this
        # representation), 5-space word gaps collapsed, token stream
        # digested with the same chr(31) join as the Spark side
        "bpe_encode": _bpe_encode_oracle_sql(),
        # replays the whole substring-dedup chain: winnow occurrences WITH
        # recovered positions (shared _winnow_sql core) -> fingerprints in
        # >= 2 distinct docs -> inverted-index join -> gaps-and-islands
        # interval merge (break when the gap since the previous selected
        # gram exceeds k=7; first row's NULL lag breaks, same as Spark's
        # otherwise(1))
        "dup_spans": f"""
            WITH occ AS ({_winnow_sql(7, 4, with_pos=True)}),
            shared AS (
              SELECT fp FROM occ
              GROUP BY fp HAVING count(DISTINCT doc_id) >= 2
            ), hits AS (
              SELECT o.doc_id, o.pos FROM occ o JOIN shared USING (fp)
            ), brk AS (
              SELECT doc_id, pos,
                     CASE WHEN pos - lag(pos) OVER (
                            PARTITION BY doc_id ORDER BY pos) <= 7
                          THEN 0 ELSE 1 END AS b
              FROM hits
            ), isl AS (
              SELECT doc_id, pos,
                     sum(b) OVER (PARTITION BY doc_id ORDER BY pos) AS g
              FROM brk
            )
            SELECT doc_id,
                   CAST(min(pos) AS BIGINT) AS span_start,
                   CAST(max(pos) + 7 AS BIGINT) AS span_end,
                   CAST(count(*) AS BIGINT) AS n_grams
            FROM isl GROUP BY doc_id, g
        """,
        "codepoint_order": """
            SELECT doc_id,
                   row_number() OVER (ORDER BY text, doc_id) AS rn
            FROM documents
        """,
        "prefix_histogram": """
            SELECT substr(text, 1, 2) AS prefix,
                   CAST(count(*) AS BIGINT) AS n
            FROM documents GROUP BY 1
        """,
        "snapshots_union": """
            SELECT event_id, CAST(count(*) AS BIGINT) AS n
            FROM (SELECT * FROM events UNION ALL SELECT * FROM events)
            GROUP BY event_id
        """,
        "group_runs": """
            SELECT user_id,
                   CAST(count(*) AS BIGINT) AS n_events,
                   string_agg(event_type, ',' ORDER BY event_id) AS types_csv
            FROM events GROUP BY user_id
        """,
        "sorted_check": """
            WITH f AS (
              SELECT user_id,
                     CASE WHEN lag(ts) OVER (PARTITION BY user_id
                                             ORDER BY event_id) > ts
                          THEN 1 ELSE 0 END AS v
              FROM events
            )
            SELECT user_id, CAST(sum(v) AS BIGINT) AS n_violations
            FROM f GROUP BY user_id
        """,
        "camelcase_mint": """
            WITH w AS (
              SELECT DISTINCT event_type || '_tool_name' AS raw FROM events
            ), p AS (
              SELECT raw,
                     list_filter(string_split_regex(raw, '[\\s_]+'),
                                 x -> x != '') AS parts
              FROM w
            ), c AS (
              SELECT raw,
                     parts[1] || array_to_string(
                         [upper(substr(x, 1, 1)) || substr(x, 2)
                          FOR x IN parts[2:]], '') AS camel
              FROM p
            )
            SELECT raw, camel,
                   'http://example.org/ontology/' || camel AS predicate
            FROM c ORDER BY raw
        """,
    }
