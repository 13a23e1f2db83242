"""The KG-construction pipeline: extract → link → canonicalize → materialize.

Spark-first restatement of the reference's three launchers (SURVEY.md §3):
sorted-group traversal (QuadReader.scala:44-90) becomes an explicit
repartition-by-conv_id + in-partition secondary sort feeding Arrow batches;
the solr-loader's hash-map canonicalization (SolrLoader.scala:41-84) becomes
connected components + broadcast joins; the predicate splitter
(DumpSplitter.scala:46-60) becomes write.partitionBy.

Hot-path rules: extraction is mapInArrow (Arrow batches, no per-row Python
UDF calls, no extra shuffle beyond the one explicit conv_id repartition);
canonicalization joins broadcast the mapping; dedup is one shuffle on the
5-field identity.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.nt import QUAD_FIELDS, QUAD_SCHEMA, dedup_quads_df
from ..oracle import EX, Gazetteer
from ..sources.io import write_quads_partitioned_by_predicate

# Per-worker gazetteer cache, keyed by a CONTENT hash shipped inside the
# broadcast value. (Keying by id(bc) would never hit across tasks and —
# worse — an address-reuse collision in a reused Python worker could serve
# a stale gazetteer from a previous job.) Bounded: distinct gazetteers per
# app are few; cleared defensively if it ever grows past the cap.
_GAZ_CACHE: dict[str, Gazetteer] = {}
_GAZ_CACHE_CAP = 16

# Driver-side broadcast cache: repeated extract calls with the same
# gazetteer reuse ONE broadcast instead of pinning a new block per call
# (broadcasts must outlive the lazy DataFrames, so they are never destroyed
# here — reuse is the leak control).
_BC_CACHE: dict[tuple[str, str], object] = {}


def _gaz_content_key(surface_to_iri: dict[str, str]) -> str:
    import hashlib

    try:
        # non-cryptographic cache keying — the flag keeps FIPS-enforcing
        # builds from refusing md5 (round-5 review finding)
        h = hashlib.md5(usedforsecurity=False)
    except TypeError:  # interpreter predates the flag
        h = hashlib.md5()
    for k in sorted(surface_to_iri):
        kb, vb = k.encode(), surface_to_iri[k].encode()
        # length-prefixed frames: plain sentinel concatenation is ambiguous
        # (("a\x00", "b") vs ("a", "\x00b") hashed identical streams and
        # the cache served the WRONG gazetteer — round-5 review finding)
        h.update(b"%d:%d:" % (len(kb), len(vb)))
        h.update(kb)
        h.update(vb)
    return h.hexdigest()


def broadcast_gazetteer(spark: SparkSession, surface_to_iri: dict[str, str]):
    """Broadcast (content_key, dict) once per distinct gazetteer per app.

    Driver-side validation lives here (shared by batch AND streaming):
    a surface form containing the extraction mega-string's \\x00 row
    separator could match ACROSS row boundaries in the vectorized scan —
    rejected loudly instead of asserted in a docstring (round-5 review)."""
    bad = [repr(k) for k in surface_to_iri if "\x00" in k]
    if bad:
        raise ValueError(
            f"gazetteer surface forms must not contain \\x00 (the batch "
            f"row separator): {bad[:3]}")
    key = _gaz_content_key(surface_to_iri)
    app = spark.sparkContext.applicationId
    bc = _BC_CACHE.get((app, key))
    if bc is None:
        # purge entries of OTHER apps: a long-lived driver cycling
        # SparkSessions must not pin dead Broadcast handles forever
        # (round-5 review finding)
        for stale in [t for t in _BC_CACHE if t[0] != app]:
            del _BC_CACHE[stale]
        bc = spark.sparkContext.broadcast((key, dict(surface_to_iri)))
        _BC_CACHE[(app, key)] = bc
    return bc


def _get_gazetteer(bc) -> Gazetteer:
    key, mapping = bc.value
    g = _GAZ_CACHE.get(key)
    if g is None:
        if len(_GAZ_CACHE) >= _GAZ_CACHE_CAP:
            _GAZ_CACHE.clear()
        g = Gazetteer(mapping)
        _GAZ_CACHE[key] = g
    return g


def stable_order(transcripts: DataFrame) -> DataFrame:
    """Stable turn ordering per conversation: explicit repartition by conv_id
    (north rule) + in-partition sort on (conv_id, turn_idx). One shuffle;
    downstream per-conv work reuses this partitioning. The window-function
    equivalent (row_number over conv_id/turn_idx) is in turn_numbers().

    Partition count follows spark.sql.shuffle.partitions (cluster-sized by
    the session; a few× the core count so stragglers rebalance)."""
    spark = transcripts.sparkSession
    parts = int(spark.conf.get("spark.sql.shuffle.partitions", "200"))
    return transcripts.repartition(parts, "conv_id").sortWithinPartitions(
        "conv_id", "turn_idx"
    )


def turn_numbers(transcripts: DataFrame) -> DataFrame:
    """row_number per conv_id ordered by turn_idx — the invariant surface
    ('per-turn text equality under stable turn ordering'): for a dense
    0-based turn_idx, rn - 1 == turn_idx everywhere."""
    w = Window.partitionBy("conv_id").orderBy("turn_idx")
    return transcripts.withColumn("rn", F.row_number().over(w))


def extract_quads(
    transcripts: DataFrame,
    surface_to_iri: dict[str, str],
    policy: str = "LONGEST_DOMINANT_RIGHT",
    emit_unknown: bool = False,
    assume_bucketed: bool = False,
) -> DataFrame:
    """Mention detection + relation extraction per turn, as mapInArrow over
    conv-grouped, turn-ordered Arrow batches (extraction is per-turn, so
    batch boundaries cannot split semantics; ordering gives deterministic
    within-conversation quad order). Emits the 7-field quad table with
    graph = http://example.org/conv/<conv_id> provenance (context column,
    Quad.scala:37) and per-turn toolUsed quads for tool turns.

    With assume_bucketed=True the input is trusted to already be clustered
    by conv_id and sorted by (conv_id, turn_idx) at rest (the engine's own
    write path produces this; on Iceberg it is a bucket(conv_id) spec +
    sorted write) and the repartition+sort is skipped — extraction runs
    directly on scan partitions, zero shuffles before the dedup. This is the
    100 TB fast path: never re-shuffle what the table layout already
    guarantees (SURVEY.md §4, explicit conv_id bucketing).

    The input must have the columns conv_id, turn_idx, role, text and tool
    (ValueError on the driver otherwise). role, text and tool are cast to
    string here — the one place the extractor's string contract is set.
    """
    cols = ["conv_id", "turn_idx", "role", "text", "tool"]
    missing = [c for c in cols if c not in transcripts.columns]
    if missing:
        raise ValueError(
            f"extract_quads: transcripts lack column(s) {missing}; "
            f"need {cols}")
    spark = transcripts.sparkSession
    bc = broadcast_gazetteer(spark, surface_to_iri)
    src = transcripts if assume_bucketed else stable_order(transcripts)
    # project to the 5 columns the closure reads BEFORE the opaque
    # mapInArrow: Spark cannot see which columns the Python function
    # touches and would otherwise ship (and Arrow-convert) everything —
    # notably `ts`, whose timestamp→pandas conversion is the costliest
    # per-column transfer and which extraction never reads (guide §4.1).
    # A narrow projection preserves the stable_order partitioning. The
    # string casts vanish from the plan for string columns (SimplifyCasts).
    src = src.select("conv_id", "turn_idx",
                     *(F.col(c).cast("string").alias(c)
                       for c in ("role", "text", "tool")))
    return src.mapInArrow(
        make_extract_fn(bc, policy, emit_unknown), QUAD_SCHEMA
    )


def make_extract_fn(bc, policy: str = "LONGEST_DOMINANT_RIGHT",
                    emit_unknown: bool = False):
    """Build the Arrow-batch extraction closure (shared by batch extract_quads
    and streaming.ingest.streaming_extract). With emit_unknown, capitalized
    runs not covered by gazetteer mentions are emitted as
    (turn IRI, ex:mentionSurface, surface) placeholder quads for the fuzzy
    linking stage (link_unknown_mentions).

    The closure is BATCH-vectorized (plans/extract_vec.py): one gazetteer
    regex scan per DISTINCT text in the Arrow batch over a joined
    mega-string, numpy offset mapping, per-row Python only where mentions
    genuinely overlap. Round 6: the closure is a mapInArrow function
    (extract_batch_arrow) — only dictionary-encoded distinct texts ever
    become Python objects; per-row expansion is C-speed Arrow takes —
    semantics verified identical to the per-row oracle in
    tests/test_extract_vec.py."""
    from .extract_vec import extract_batch_arrow

    # fail FAST on the driver: a typo'd policy must not surface as a task
    # failure hours into a run whose early batches had no mentions — and
    # the \x00 per-row fallback route only raised for rows whose mentions
    # actually overlap, so it could even complete silently (round-5 review)
    if policy not in ("ALL", "NO_SUB", "LONGEST_DOMINANT_RIGHT"):
        raise ValueError(f"unknown overlap policy: {policy!r}")

    def _extract(batches):
        gaz = _get_gazetteer(bc)
        for rb in batches:
            out = extract_batch_arrow(rb, gaz, policy, emit_unknown)
            if out is not None:
                yield out

    return _extract


def canonicalize(
    quads: DataFrame, mapping: DataFrame, excluded: DataFrame
) -> DataFrame:
    """Rewrite subject + URI objects to canonical IRIs and drop quads
    touching disambiguation sources: the reference's in-memory redirect map
    plus its exclusion check (SolrLoader.scala:58-84,124-127), distributed
    as ONE broadcast dimension probed once per column.

    Exclusion parity with oracle.canonicalize_quads: a quad is dropped when
    the ORIGINAL or the canonical form is excluded, and object exclusion
    applies only to URI objects (datatype IS NULL). Both are pure functions
    of the original IRI, so the dimension dim(iri, canonical, __x) carries
    the rewrite target and the flag `iri ∈ EX ∨ mapping[iri] ∈ EX` (TRUE,
    else NULL) together.
    It is built from the two small inputs (mapping ⋈ EX, ∪ EX) and grouped
    to one row per IRI, so the left joins never duplicate a quad. For
    head-entity-skewed mapping tables swap the broadcast for
    operators.joins.salted_join."""
    exd = excluded.select("iri", F.lit(True).alias("__x"))
    dim = F.broadcast(
        mapping.join(exd, mapping["canonical"] == exd["iri"], "left")
        .select(mapping["node"].alias("iri"), "canonical", "__x")
        .union(exd.select("iri", F.lit(None).cast("string"), "__x"))
        .groupBy("iri")
        .agg(F.max("canonical").alias("canonical"), F.max("__x").alias("__x"))
    )
    out = (
        quads.join(dim.select(F.col("iri").alias("subject"),
                              F.col("canonical").alias("__cs"),
                              F.col("__x").alias("__xs")), "subject", "left")
        .join(dim.select(F.col("iri").alias("obj"),
                         F.col("canonical").alias("__co"),
                         F.col("__x").alias("__xo")), "obj", "left")
        .where(
            F.col("__xs").isNull()
            & (F.col("datatype").isNotNull() | F.col("__xo").isNull())
        )
        .select(
            F.coalesce("__cs", "subject").alias("subject"),
            "predicate",
            F.when(F.col("datatype").isNull(), F.coalesce("__co", "obj"))
            .otherwise(F.col("obj")).alias("obj"),
            "datatype", "language", "graph", "dataset",
        )
    )
    return out.select(*QUAD_FIELDS)


def link_unknown_mentions(
    quads: DataFrame,
    catalog: DataFrame,
    min_jaccard: float = 0.4,
    cache_registry: list | None = None,
    broadcast_links: bool = True,
) -> DataFrame:
    """Fuzzy entity linking for the unknown-mention placeholder quads emitted
    by extract_quads(emit_unknown=True): the ex:mentionSurface quads are
    replaced by (turn IRI, ex:mentions, <linked entity IRI>) object-property
    quads via n-gram-blocked scored linking (operators.linking — the Solr
    candidate retrieval + payload-BM25 analog, SolrHandler.java:296-322,
    PayloadBM25SimilarityFacory.java:38-41). Unresolvable surfaces drop out.
    Non-placeholder quads pass through unchanged."""
    from ..operators.linking import link_surface_forms

    surf_pred = EX + "mentionSurface"
    # The quad stream is consumed by THREE branches (placeholders, rest, and
    # the linking candidate surfaces): persist so the upstream extraction
    # materializes ONCE — the links-broadcast job populates the cache, the
    # main job reads it (verified by the row-touch accumulator test,
    # tests/test_round3.py). persist beats localCheckpoint here: lineage is
    # retained (an executor loss at 100 TB recomputes the lost partitions
    # instead of failing the job) and the columnar InMemoryRelation serves
    # the three different branch filters with batch-level pruning.
    # LIFECYCLE: CacheManager holds SQL cache entries until an explicit
    # unpersist/clearCache (ContextCleaner does NOT reap them). Scoped
    # release (round-3 advice): pass `cache_registry=[]` and, after the
    # final action on the returned frame, call .unpersist() on each entry —
    # this evicts ONLY this pipeline's cache, unlike the session-wide
    # spark.catalog.clearCache() that bench.py / tools/check_correctness.py
    # use between timed reruns (fine there, where nothing else is cached).
    quads = quads.persist()
    if cache_registry is not None:
        cache_registry.append(quads)
    placeholders = quads.where(F.col("predicate") == surf_pred)
    rest = quads.where(F.col("predicate") != surf_pred)
    links = link_surface_forms(
        placeholders.select(F.col("obj").alias("surface")),
        catalog, min_jaccard=min_jaccard,
    )
    # links cardinality = DISTINCT unknown surfaces — data-dependent,
    # unlike the fixed gazetteer dimension. Broadcast is right while that
    # set fits the driver/executors; at web scale (10^8+ distinct unknown
    # capitalized runs) pass broadcast_links=False for a shuffle hash join
    # on surface (round-5 review finding).
    link_side = F.broadcast(links) if broadcast_links else links
    linked = (
        placeholders.join(link_side,
                          placeholders.obj == links.surface)
        .select(
            F.col("subject"),
            F.lit(EX + "mentions").alias("predicate"),
            F.col("entity_iri").alias("obj"),
            F.lit(None).cast("string").alias("datatype"),
            F.lit(None).cast("string").alias("language"),
            F.col("graph"),
            F.col("dataset"),
        )
    )
    return rest.unionByName(linked)


def run_pipeline(
    spark: SparkSession,
    transcripts: DataFrame,
    catalog_pdf,
    alias_edges: DataFrame,
    out_path: str | None = None,
    policy: str = "LONGEST_DOMINANT_RIGHT",
    fuzzy_link: bool = False,
    cache_registry: list | None = None,
) -> DataFrame:
    """End-to-end: extract (→ optional fuzzy mention linking) → canonicalize
    (CC over alias edges) → dedup (→ optionally materialize partitioned by
    predicate). Returns the final quad DataFrame. `catalog_pdf` is the pandas
    entity catalog (gazetteer dimension — small by design, broadcast).
    `cache_registry`: optional list that collects any DataFrames this
    pipeline persist()s (the fuzzy-link split), so callers composing many
    pipelines in one session can .unpersist() exactly this pipeline's cache
    after their final action instead of a session-wide clearCache()."""
    from ..datagen import build_gazetteer
    from ..operators.cc import canonical_mapping

    gaz = build_gazetteer(catalog_pdf)
    quads = extract_quads(transcripts, gaz.surface_to_iri, policy,
                          emit_unknown=fuzzy_link)
    if fuzzy_link:
        spark_catalog = spark.createDataFrame(catalog_pdf)
        quads = link_unknown_mentions(quads, spark_catalog,
                                      cache_registry=cache_registry)
    mapping, excluded = canonical_mapping(alias_edges)
    canon = canonicalize(quads, mapping, excluded)
    final = dedup_quads_df(canon)
    if out_path:
        # write the already-deduped frame, so the write plan does not build
        # the identity-dedup a second time
        write_quads_partitioned_by_predicate(final, out_path)
    return final
