"""Table IO abstraction — Iceberg-shaped API over parquet directories.

The design target is Iceberg (snapshot scans, commit metadata = the
reference's StreamSourceMetaData file headers, file/StreamSourceMetaData.
scala:7-49), but the sandbox has no Iceberg runtime jar, so this module
implements the same contract over parquet directories + a JSON sidecar
(`_table_meta.json`) per commit: table format is one config flip, not a fork
(SURVEY.md §7 design stance).

Also here: the text source/sink for N-Triples parity files (gz/bz2 transparent
via Spark codecs — the reference's suffix-based wrapping, file/IOUtils.scala:
24-35, is native), and the partition-by-predicate quad sink
(scripts/DumpSplitter.scala:46-60 as `write.partitionBy`).
"""

from __future__ import annotations

import json
import os
import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.uri import safe_partition_value

TRANSCRIPTS_SCHEMA = (
    "conv_id string, turn_idx int, role string, text string, tool string, ts timestamp"
)


def read_table(spark: SparkSession, path: str) -> DataFrame:
    """Read a table (parquet file or directory)."""
    return spark.read.parquet(path)


def write_table(
    df: DataFrame,
    path: str,
    mode: str = "overwrite",
    partition_by: list[str] | None = None,
    meta: dict | None = None,
) -> None:
    """Write parquet + a commit-metadata sidecar (lineage + counters — the
    Iceberg snapshot-summary analog; reference: per-file header metadata,
    StreamSourceMetaData.scala:7-49 written by QuadSorter.scala:392-404).

    The sidecar is driver-local file IO, so the table path must be a
    local-filesystem path. Checked UP FRONT: on a remote path the parquet
    write would succeed and THEN the sidecar would fail (data committed,
    metadata lost) — or worse, append mode would silently restart commit
    history at one entry because os.path.exists can't see the remote
    sidecar (round-5 review finding). On a real deployment this function
    IS the Iceberg commit (BENCH/ICEBERG.md mapping contract) and the
    sidecar becomes snapshot-summary properties — no driver-local IO."""
    scheme = path.split("://", 1)[0] if "://" in path else ""
    if scheme not in ("", "file"):
        raise NotImplementedError(
            f"write_table: sidecar commit is driver-local; {scheme}:// "
            f"paths need the Iceberg-commit backend (BENCH/ICEBERG.md)")
    # a whitelisted file:// URI must be stripped for the os/open sidecar
    # calls below — they would otherwise target a local dir literally
    # named 'file:' and lose the metadata the guard exists to protect
    # (round-5 review finding)
    local = path[len("file://"):] if path.startswith("file://") else path
    if mode not in ("overwrite", "append", "error", "errorifexists"):
        # 'ignore' could no-op the data write while the sidecar below is
        # unconditionally rewritten — a phantom commit that wipes history
        # (round-5 review finding)
        raise ValueError(f"write_table: unsupported mode {mode!r}")
    w = df.write.mode(mode)
    if partition_by:
        w = w.partitionBy(*partition_by)
    w.parquet(path)
    commit = {
        "committed_at": time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime()),
        "partition_by": partition_by or [],
        **(meta or {}),
    }
    # append mode ACCUMULATES commit history (the Iceberg snapshot-log
    # analog); overwrite starts a fresh history
    prev = read_table_meta(local) if mode == "append" else None
    commits = (prev or {}).get("commits", [])
    commits.append(commit)
    sidecar = {**commit, "commits": commits}
    with open(os.path.join(local, "_table_meta.json"), "w") as f:
        json.dump(sidecar, f, indent=2, sort_keys=True)


def read_table_meta(path: str) -> dict | None:
    if path.startswith("file://"):
        path = path[len("file://"):]
    p = os.path.join(path, "_table_meta.json")
    if not os.path.exists(p):
        return None
    with open(p) as f:
        return json.load(f)


def merge_upsert(
    spark: SparkSession,
    target_path: str,
    updates: DataFrame,
    key_cols: list[str],
    out_path: str,
    delete_col: str | None = None,
    meta: dict | None = None,
) -> DataFrame:
    """MERGE INTO analog over the parquet+sidecar table — the lakehouse
    mutation the Iceberg-shaped API was missing (the reference is
    append-only; its closest notion is snapshot replacement,
    StreamSourceMetaData.scala:7-49). Copy-on-write semantics, Iceberg's
    MERGE default: matched keys are replaced by their update row, rows
    whose ``delete_col`` is true are deleted (a delete of an absent key is
    a no-op), unmatched update rows are inserted. The merged table is
    written to ``out_path`` as a NEW snapshot whose sidecar commit records
    ``parent`` — in-place overwrite of a path being lazily read is how
    Spark eats tables, and separate snapshot dirs are exactly the
    multi-snapshot model ``read_snapshots_union`` already scans.

    Plan shape: ONE left-anti equi-join of the target on the update keys
    (shuffle on the key — bucket both sides by key on a real cluster) +
    unionByName; the only driver datum is a bounded duplicate-key probe
    (``limit(1).count()`` — Iceberg likewise refuses multi-row matches).
    At 100 TB, partition the table and rewrite only touched partitions;
    this function is the per-partition kernel of that rewrite."""
    if os.path.realpath(out_path) == os.path.realpath(target_path):
        raise ValueError(
            "merge_upsert: out_path must differ from target_path — "
            "overwriting a path being lazily read destroys the table")
    target = read_table(spark, target_path)
    touched = updates.select(*key_cols)
    if delete_col is not None:
        upserts = updates.where(
            F.coalesce(F.col(delete_col), F.lit(False)) == F.lit(False)
        ).drop(delete_col)
    else:
        upserts = updates
    # metadata-only validation FIRST — a malformed call must not pay the
    # duplicate-probe Spark job below (round-5 review finding)
    if set(upserts.columns) != set(target.columns):
        raise ValueError(
            f"merge_upsert: update columns {sorted(upserts.columns)} != "
            f"target columns {sorted(target.columns)}")
    dup = (
        updates.groupBy(*key_cols).agg(F.count(F.lit(1)).alias("__n"))
        .where(F.col("__n") > 1).limit(1).count()
    )
    if dup:
        raise ValueError(
            "merge_upsert: updates contain duplicate keys — a MERGE row "
            "must match at most one update (Iceberg semantics)")
    merged = (
        target.join(touched, key_cols, "left_anti")
        .unionByName(upserts.select(*target.columns))
    )
    write_table(
        merged, out_path, mode="overwrite",
        meta={"op": "merge_upsert", "parent": target_path, **(meta or {})})
    return read_table(spark, out_path)


def compact_table(
    spark: SparkSession,
    target_path: str,
    out_path: str,
    target_file_bytes: int = 128 << 20,
    meta: dict | None = None,
) -> DataFrame:
    """Small-file compaction — the Iceberg ``rewrite_data_files`` analog
    (the reference's bash-cat concat, file/IOUtils.scala:96-134, solved
    the same small-output problem one file at a time). A streaming sink or
    a per-bucket resume leaves many small part files; scans then pay one
    task + one open per file. This rewrites the table as
    ``ceil(bytes / target_file_bytes)`` files into a NEW snapshot whose
    sidecar commit records parent + files_before/files_after.

    Shape: ONE round-robin repartition (no key — compaction balances
    bytes, not co-location; compact BEFORE establishing a clustered
    layout, or partition-wise with ``partition_by`` preserved upstream).
    Size comes from driver-local file metadata, the same local-path
    constraint the sidecar already imposes (checked by write_table)."""
    import math

    if target_file_bytes <= 0:
        raise ValueError("compact_table: target_file_bytes must be > 0")
    if os.path.realpath(out_path) == os.path.realpath(target_path):
        raise ValueError(
            "compact_table: out_path must differ from target_path — "
            "overwriting a path being lazily read destroys the table")
    files = [
        os.path.join(dp, f)
        for dp, _, fs in os.walk(target_path)
        for f in fs if f.endswith(".parquet")
    ]
    if not files:
        raise ValueError(f"compact_table: no parquet files under {target_path}")
    total = sum(os.path.getsize(f) for f in files)
    n_out = max(1, math.ceil(total / target_file_bytes))
    df = read_table(spark, target_path).repartition(n_out)
    write_table(
        df, out_path, mode="overwrite",
        meta={"op": "compact", "parent": target_path,
              "files_before": len(files), "target_files": n_out,
              **(meta or {})})
    # files_after is MEASURED, not the predicted partition count: Spark
    # writes no file for an empty task, so with fewer rows than n_out the
    # prediction overstates the layout (round-5 review finding). Patch the
    # just-written sidecar — same driver-local commit, one more field.
    # same recursive walk as files_before: a nested output layout (e.g. a
    # future partition_by here) must not read files_after as 0 and commit
    # wrong sidecar metadata (round-5 advice)
    n_actual = len([
        f for dp, _, fs in os.walk(out_path)
        for f in fs if f.endswith(".parquet")])
    sidecar_path = os.path.join(out_path, "_table_meta.json")
    with open(sidecar_path) as f:
        sidecar = json.load(f)
    sidecar["files_after"] = n_actual
    if sidecar.get("commits"):
        sidecar["commits"][-1]["files_after"] = n_actual
    with open(sidecar_path, "w") as f:
        json.dump(sidecar, f, indent=2, sort_keys=True)
    return read_table(spark, out_path)


def write_jsonl(df: DataFrame, path: str,
                compression: str | None = None) -> None:
    """JSONL shard export — the interchange format every LLM training
    ingestion reads (one JSON object per line). Spark's native json sink
    IS JSONL (one object per line per part file); this thin wrapper exists
    so the engine has one named, tested exit point with optional gzip
    (suffix-transparent on read, like the NT sinks — the reference's
    IOUtils.scala:24-35 wrapping is native here)."""
    w = df.write.mode("overwrite")
    if compression:
        w = w.option("compression", compression)
    w.json(path)


def read_jsonl(spark: SparkSession, path: str, schema: str,
               mode: str = "FAILFAST") -> DataFrame:
    """Schema-enforced JSONL read. An explicit schema is REQUIRED (at
    100 TB, schema inference is a full extra pass over the data) and the
    default parse mode is FAILFAST so a drifted field type fails loudly —
    Spark's PERMISSIVE default silently nulls malformed records; pass
    mode="PERMISSIVE" to opt in to that (round-5 review finding)."""
    if not schema:
        raise ValueError("read_jsonl: an explicit schema is required")
    return spark.read.schema(schema).option("mode", mode).json(path)


def write_nt_lines(lines: DataFrame, path: str, compression: str | None = None) -> None:
    """Text sink for formatted N-Triples output (WriterDestination.scala:20-45;
    multi-part output replaces the bash-cat concat, IOUtils.scala:96-134 —
    a table's files are already a logical whole)."""
    w = lines.write.mode("overwrite")
    if compression:
        w = w.option("compression", compression)
    w.text(path)


def read_snapshots_union(spark: SparkSession, paths: list[str]) -> DataFrame:
    """Multi-snapshot scan: union of table paths by name — the reference's
    multi-file batched read (QuadReader.scala:92-156) where merge order was
    an artifact and only grouping was semantic; downstream groupBy/join
    supplies the grouping."""
    if not paths:
        raise ValueError("read_snapshots_union: no snapshot paths")
    dfs = [spark.read.parquet(p) for p in paths]
    out = dfs[0]
    for d in dfs[1:]:
        out = out.unionByName(d, allowMissingColumns=True)
    return out


def write_composite(df: DataFrame, sinks: list) -> None:
    """Multi-sink fan-out (destination/CompositeDestination.scala:13-35):
    one logical dataset written to N sinks. DataFrames are re-usable plans;
    persist() makes the fan-out single-scan."""
    df = df.persist()
    try:
        df.count()  # materialize once
        for sink in sinks:
            sink(df)
    finally:
        df.unpersist()


def write_sorted_nt(
    quads: DataFrame,
    path: str,
    target: str = "subject",
    quads_mode: bool = False,
    compression: str | None = None,
    num_partitions: int | None = None,
) -> None:
    """The sort-quads launcher (SURVEY.md §3.1) end-to-end: globally sort by
    the target field (range partition + in-partition sort — the whole
    QuadSorter pipeline, sort/QuadSorter.scala:258-336) and write N-Triples/
    N-Quads text part files whose lexicographic file order preserves the
    global order (part-00000 < part-00001 …), replacing the reference's
    bash-cat concat (IOUtils.scala:96-134).

    The file-order contract rides Spark's %05d part numbering: beyond
    99,999 partitions 'part-100000' sorts BEFORE 'part-99999' and a
    name-ordered concat is globally mis-ordered — refused loudly rather
    than silently violated (round-5 review finding). 100k output
    partitions of a reasonably-sized dump is ~TB-scale text; shard the
    dump by prefix before asking for more."""
    from ..functions.nt import format_nt_exact
    from ..operators.sort import sort_quads

    if num_partitions is not None and num_partitions > 99_999:
        raise ValueError(
            "write_sorted_nt: >99,999 partitions breaks the lexicographic "
            "part-file order contract (%05d numbering); shard the dump")
    sorted_quads = sort_quads(quads, target, num_partitions)
    lines = format_nt_exact(sorted_quads, quads_mode=quads_mode)
    write_nt_lines(lines, path, compression)


def write_quads_partitioned_by_predicate(
    quads: DataFrame, path: str, mode: str = "overwrite", meta: dict | None = None
) -> None:
    """The predicate split (DumpSplitter.scala:46-60): one parquet table
    partitioned by a filesystem-safe predicate label. Dynamic directory
    creation per new predicate is native to partitionBy. The full predicate
    IRI stays as a column; the partition value is its sanitized local name
    (RdfNamespace.findPrefix naming, utils/RdfNamespace.scala:45-56)."""
    out = quads.withColumn("pred_label", safe_partition_value(F.col("predicate")))
    write_table(out, path, mode, partition_by=["pred_label"], meta=meta)
