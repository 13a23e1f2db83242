"""The KG-construction pipeline: extract → link → canonicalize → materialize.

Spark-first restatement of the reference's three launchers (SURVEY.md §3):
sorted-group traversal (QuadReader.scala:44-90) becomes Arrow batches of
turns (extraction is per turn, so no grouping is needed for correctness;
stable_order's repartition-by-conv_id + in-partition sort remains for
callers that want a per-conversation output order); the solr-loader's
hash-map canonicalization (SolrLoader.scala:41-84) becomes connected
components plus a dimension applied per batch or broadcast-joined; the
predicate splitter (DumpSplitter.scala:46-60) becomes write.partitionBy.

Hot-path rules: extraction is mapInArrow (Arrow batches, no per-row Python
UDF calls); linking runs inside that same mapInArrow (the entity catalog is
a broadcast dimension, each distinct unknown surface of a batch one index
lookup — no persist, no join); for a driver-sized alias graph
canonicalization runs there too (extract_vec.canonicalize_batch over a
broadcast dimension), so run_pipeline is one Python pass over the scan
splits and one dedup shuffle on the 5-field identity. A larger graph is
canonicalized by broadcast joins against canonicalize's Catalyst
dimension.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.nt import QUAD_FIELDS, QUAD_SCHEMA, dedup_quads_df
from ..oracle import Gazetteer
from ..operators.linking import SurfaceLinker, catalog_rows
from ..session import job_description, worker_kernel
from ..sources.io import write_quads_partitioned_by_predicate

# Per-worker cache of the objects built from a broadcast (gazetteers,
# surface linkers, canonicalization dimensions), keyed by a CONTENT key
# shipped inside the broadcast value. (Keying by id(bc) would never hit
# across tasks and — worse — an address-reuse collision in a reused Python
# worker could serve a stale object from a previous job.) Capped in bytes:
# each entry is charged the pickled size of its broadcast value, measured
# once on the driver; the oldest entries are evicted to make room, and a
# value over the cap is built per task and never cached. The pickle is a
# proxy, not the built size: a canonicalization dimension for a graph at
# cc.DRIVER_EDGES pickles to ~7 MiB and adds ~14 MiB of RSS when built,
# so the cap holds several of them; a gazetteer's compiled regex and
# prefix tables are larger than its pickle too.
_WORKER_CACHE: dict[str, tuple[int, object]] = {}
_WORKER_CACHE_BYTES = 64 << 20

# Driver-side broadcast cache: repeated calls with the same gazetteer or
# catalog reuse ONE broadcast instead of pinning a new block per call
# (broadcasts must outlive the lazy DataFrames, so they are never destroyed
# here — reuse is the leak control).
_BC_CACHE: dict[tuple[str, str], object] = {}


def _content_key(frames) -> str:
    """md5 over length-prefixed string parts: unambiguous for frames with a
    fixed number of parts (plain sentinel concatenation hashed
    ("a\\x00", "b") and ("a", "\\x00b") identically and the cache served the
    WRONG gazetteer — round-5 review finding)."""
    import hashlib

    # non-cryptographic cache keying — the flag keeps FIPS-enforcing
    # builds from refusing md5 (round-5 review finding)
    h = hashlib.md5(usedforsecurity=False)
    for frame in frames:
        for part in frame:
            b = part.encode()
            h.update(b"%d:" % len(b))
            h.update(b)
    return h.hexdigest()


def _gaz_content_key(surface_to_iri: dict[str, str]) -> str:
    return _content_key(sorted(surface_to_iri.items()))


def _broadcast_once(spark: SparkSession, key: str, value):
    """Broadcast (key, pickled size of value, value) once per distinct key
    per app."""
    app = spark.sparkContext.applicationId
    bc = _BC_CACHE.get((app, key))
    if bc is None:
        import pickle

        # purge entries of OTHER apps: a long-lived driver cycling
        # SparkSessions must not pin dead Broadcast handles forever
        # (round-5 review finding)
        for stale in [t for t in _BC_CACHE if t[0] != app]:
            del _BC_CACHE[stale]
        nbytes = len(pickle.dumps(value, pickle.HIGHEST_PROTOCOL))
        bc = spark.sparkContext.broadcast((key, nbytes, value))
        _BC_CACHE[(app, key)] = bc
    return bc


def _from_broadcast(bc, build):
    """The worker's object for a broadcast (key, nbytes, value), built once
    per key while it stays in the byte-capped _WORKER_CACHE."""
    key, nbytes, value = bc.value
    hit = _WORKER_CACHE.get(key)
    if hit is not None:
        return hit[1]
    obj = build(value)
    if nbytes <= _WORKER_CACHE_BYTES:
        used = sum(n for n, _ in _WORKER_CACHE.values())
        while used + nbytes > _WORKER_CACHE_BYTES:
            used -= _WORKER_CACHE.pop(next(iter(_WORKER_CACHE)))[0]
        _WORKER_CACHE[key] = (nbytes, obj)
    return obj


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
    return _broadcast_once(spark, _gaz_content_key(surface_to_iri),
                           dict(surface_to_iri))


def broadcast_catalog(spark: SparkSession, rows, min_jaccard: float = 0.4):
    """Broadcast validated catalog rows (operators.linking.catalog_rows)
    once per distinct (catalog, threshold) per app."""
    key = "link:%s:%r" % (
        _content_key(sorted((i, f, repr(w)) for i, f, w in rows)), min_jaccard)
    return _broadcast_once(spark, key, (rows, min_jaccard))


def broadcast_canonical(spark: SparkSession, mapping: dict, excluded):
    """Broadcast a driver-resolved alias graph ({node: canonical},
    excluded IRIs — cc.driver_canonical's result) once per distinct graph
    per app; workers build its extract_vec.canonical_dimension. Nodes,
    canonicals and excluded IRIs must be strings (ValueError here
    otherwise; a NULL excluded IRI is ignored, as a join on it never
    matches)."""
    ex = [i for i in excluded if i is not None]
    bad = [repr(v) for kv in mapping.items() for v in kv
           if not isinstance(v, str)]
    bad += [repr(i) for i in ex if not isinstance(i, str)]
    if bad:
        raise ValueError(
            f"canonical: alias IRIs must be strings, got {bad[:3]}")
    items, ex = sorted(mapping.items()), sorted(ex)
    key = "canon:%s:%s" % (_content_key(items),
                           _content_key((i,) for i in ex))
    return _broadcast_once(spark, key, (items, ex))


def _get_gazetteer(bc) -> Gazetteer:
    return _from_broadcast(bc, Gazetteer)


def _get_linker(bc) -> SurfaceLinker:
    return _from_broadcast(bc, lambda v: SurfaceLinker(*v))


def _get_dimension(bc):
    from .extract_vec import canonical_dimension

    return _from_broadcast(bc, lambda v: canonical_dimension(*v))


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
    catalog=None,
    canonical=None,
) -> DataFrame:
    """Mention detection + relation extraction per turn, as one mapInArrow
    over Arrow batches of turns. Emits the 7-field quad table with
    graph = http://example.org/conv/<conv_id> provenance (context column,
    Quad.scala:37) and per-turn toolUsed quads for tool turns.

    Extraction is per turn (oracle.extract_conversation keeps no state
    across turns), so any split of the input gives the same quads;
    assume_bucketed only decides their order. With assume_bucketed=False
    the turns are first put through stable_order (one conv_id shuffle and
    an in-partition (conv_id, turn_idx) sort), so each conversation's
    quads come out together and in turn order. With assume_bucketed=True
    extraction runs on the input's partitions as they are: no shuffle,
    and the order is the input's (conversation-grouped when the table is
    clustered by conv_id at rest, as the engine's bucketed write or an
    Iceberg bucket(conv_id) spec lays it out).

    With catalog (a pandas entity catalog: entity_iri, surface_form,
    form_weight) unknown mentions are linked inside the same mapInArrow:
    the kernel emits each capitalized run not covered by a gazetteer
    mention as a placeholder, and extract_vec.link_placeholder_batch
    rewrites it to (turn IRI, ex:mentions, best entity IRI) when
    operators.linking's SurfaceLinker links it, or drops it. The catalog
    ships next to the gazetteer in the content-keyed broadcast cache.

    With canonical (a driver-resolved alias graph: ({node: canonical},
    excluded IRIs), as operators.cc.driver_canonical returns it) each
    batch is then canonicalized in the same mapInArrow by
    extract_vec.canonicalize_batch, with canonicalize's semantics; the
    graph ships once through the same cache (broadcast_canonical).

    The input must have the columns conv_id, turn_idx, role, text and tool
    (ValueError on the driver otherwise). role, text and tool are cast to
    string here — the one place the extractor's string contract is set.
    A catalog missing a column or holding a NULL entity_iri/form_weight,
    a catalog or a canonical graph together with emit_unknown=True, or a
    canonical graph with a non-string IRI is a ValueError too.
    """
    src = _extract_input(transcripts)
    if not assume_bucketed:
        src = stable_order(src)
    return _extract_projected(src, surface_to_iri, policy, emit_unknown,
                              catalog, canonical)


def _extract_projected(src: DataFrame, surface_to_iri, policy, emit_unknown,
                       catalog, canonical) -> DataFrame:
    """extract_quads over an input that _extract_input already projected
    (run_pipeline projects and checks its input before the edge collect,
    and extracts on it as it is)."""
    if emit_unknown and (catalog is not None or canonical is not None):
        raise ValueError(
            "extract_quads: emit_unknown=True is exclusive with catalog= "
            "and canonical= (the catalog replaces the placeholders it would "
            "emit, and placeholders linked after extraction would never be "
            "canonicalized)")
    spark = src.sparkSession
    bc = broadcast_gazetteer(spark, surface_to_iri)
    linker_bc = None if catalog is None else broadcast_catalog(
        spark, catalog_rows(catalog, "extract_quads"))
    canon_bc = None if canonical is None else broadcast_canonical(
        spark, *canonical)
    return src.mapInArrow(
        worker_kernel(make_extract_fn(bc, policy, emit_unknown, linker_bc,
                                      canon_bc)),
        QUAD_SCHEMA)


_EXTRACT_COLS = ("conv_id", "turn_idx", "role", "text", "tool")


def _extract_input(transcripts: DataFrame) -> DataFrame:
    """The five columns the extraction closure reads, projected in one
    selectExpr BEFORE the opaque mapInArrow: Spark cannot see which columns
    the Python function touches and would otherwise ship (and
    Arrow-convert) everything — notably `ts`, whose timestamp→pandas
    conversion is the costliest per-column transfer and which extraction
    never reads (guide §4.1). The string casts vanish from the plan for
    string columns (SimplifyCasts). ValueError for a missing column."""
    missing = [c for c in _EXTRACT_COLS if c not in transcripts.columns]
    if missing:
        raise ValueError(
            f"extract_quads: transcripts lack column(s) {missing}; "
            f"need {list(_EXTRACT_COLS)}")
    return transcripts.selectExpr(
        "conv_id", "turn_idx",
        *(f"CAST({c} AS STRING) AS {c}" for c in ("role", "text", "tool")))


def make_extract_fn(bc, policy: str = "LONGEST_DOMINANT_RIGHT",
                    emit_unknown: bool = False, linker_bc=None,
                    canon_bc=None):
    """Build the Arrow-batch extraction closure (shared by batch extract_quads
    and streaming.ingest.streaming_extract). With emit_unknown, capitalized
    runs not covered by gazetteer mentions are emitted as
    (turn IRI, ex:mentionSurface, surface) placeholder quads for a later
    link_unknown_mentions. With linker_bc (broadcast_catalog) each batch's
    placeholders are linked by extract_vec.link_placeholder_batch, and
    with canon_bc (broadcast_canonical) the batch is then canonicalized by
    extract_vec.canonicalize_batch, before it is yielded; empty batches
    are not yielded.

    The closure is BATCH-vectorized (plans/extract_vec.py): one gazetteer
    regex scan per DISTINCT text in the Arrow batch over a joined
    mega-string, numpy offset mapping, per-row Python only where mentions
    genuinely overlap. Round 6: the closure is a mapInArrow function
    (extract_batch_arrow) — only dictionary-encoded distinct texts ever
    become Python objects; per-row expansion is C-speed Arrow takes —
    semantics verified identical to the per-row oracle in
    tests/test_extract_vec.py."""
    from .extract_vec import (
        canonicalize_batch,
        extract_batch_arrow,
        link_placeholder_batch,
    )

    # fail FAST on the driver: a typo'd policy must not surface as a task
    # failure hours into a run whose early batches had no mentions (the
    # kernel checks it only in batches with mentions; round-5 review)
    if policy not in ("ALL", "NO_SUB", "LONGEST_DOMINANT_RIGHT"):
        raise ValueError(f"unknown overlap policy: {policy!r}")

    emit = emit_unknown or linker_bc is not None

    def _extract(batches):
        gaz = _get_gazetteer(bc)
        linker = None if linker_bc is None else _get_linker(linker_bc)
        dim = None if canon_bc is None else _get_dimension(canon_bc)
        for rb in batches:
            out = extract_batch_arrow(rb, gaz, policy, emit)
            if out is not None and linker is not None:
                out = link_placeholder_batch(out, linker)
            if out is not None and dim is not None:
                out = canonicalize_batch(out, dim)
            if out is not None and out.num_rows:
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
    else NULL) together, one row per IRI, so the left joins never duplicate
    a quad. Catalyst builds it inside the query from the two inputs
    (mapping ⋈ EX, ∪ EX, grouped by IRI), whatever they are.
    extract_vec.canonical_dimension applies the same rule on the driver's
    resolution of a small graph, and run_pipeline canonicalizes with it
    inside the extraction kernel instead of calling this.
    For head-entity-skewed mapping tables swap the broadcast for
    operators.joins.salted_join."""
    exd = excluded.select("iri", F.lit(True).alias("__x"))
    dim = F.broadcast(
        mapping.join(exd, mapping["canonical"] == exd["iri"], "left")
        .select(mapping["node"].alias("iri"), "canonical", "__x")
        .union(exd.select("iri", F.lit(None).cast("string"), "__x"))
        .groupBy("iri")
        .agg(F.max("canonical").alias("canonical"),
             F.max("__x").alias("__x"))
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
) -> DataFrame:
    """Fuzzy entity linking for the unknown-mention placeholder quads emitted
    by extract_quads(emit_unknown=True), as one mapInArrow over the quad
    stream: each ex:mentionSurface quad becomes (turn IRI, ex:mentions,
    <linked entity IRI>) via operators.linking.SurfaceLinker (the Solr
    candidate retrieval + payload-BM25 analog, SolrHandler.java:296-322),
    unresolvable ones drop out, every other quad passes through unchanged.
    No persist and no join: the catalog is collected on the driver and
    broadcast (ValueError there for a missing column or a NULL
    entity_iri/form_weight; operators.linking.catalog_rows says which of
    the two can cost the collect job). run_pipeline links inside
    extraction instead (extract_quads(catalog=...)), through the same
    extract_vec.link_placeholder_batch.

    `cache_registry` is kept for callers that still pass it; nothing is
    persisted, so it is always left empty."""
    from .extract_vec import link_placeholder_batch

    bc = broadcast_catalog(quads.sparkSession,
                           catalog_rows(catalog, "link_unknown_mentions"),
                           min_jaccard)

    def _link(batches):
        linker = _get_linker(bc)
        for rb in batches:
            out = link_placeholder_batch(rb, linker)
            if out.num_rows:
                yield out

    return quads.select(*QUAD_FIELDS).mapInArrow(worker_kernel(_link),
                                                 QUAD_SCHEMA)


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
    """End-to-end: extract (with fuzzy_link, unknown mentions are linked
    inside the extraction kernel) → canonicalize (CC over alias edges) →
    dedup (→ optionally materialize partitioned by predicate). Returns the
    final quad DataFrame. `catalog_pdf` is the pandas entity catalog
    (gazetteer dimension — small by design, broadcast).

    Extraction runs on the scan splits (operators.dedup._ensure_parallelism
    re-spreads a too-coarse input, such as a single file): the dedup
    shuffle discards row order, so there is no conv_id shuffle before it.
    When cc.driver_canonical's bounded collect resolves the alias graph,
    canonicalization runs inside the extraction kernel too, and the write
    is one Python pass over the scan plus the dedup; a larger graph is
    canonicalized by canonicalize's broadcast joins over
    cc.distributed_canonical. The jobs it runs are described as
    "run_pipeline: canonical_mapping" and "run_pipeline: write".
    `cache_registry` is kept for callers that still pass it; the pipeline
    persists nothing, so it is always left empty."""
    from ..datagen import build_gazetteer
    from ..operators.cc import distributed_canonical, driver_canonical
    from ..operators.dedup import _ensure_parallelism

    gaz = build_gazetteer(catalog_pdf)
    # the column check runs before the edge collect, so a bad input fails
    # before any job
    src = _ensure_parallelism(_extract_input(transcripts))
    with job_description(spark, "run_pipeline: canonical_mapping"):
        resolved = driver_canonical(alias_edges)
    quads = _extract_projected(src, gaz.surface_to_iri, policy, False,
                               catalog_pdf if fuzzy_link else None, resolved)
    if resolved is None:
        quads = canonicalize(quads, *distributed_canonical(alias_edges))
    final = dedup_quads_df(quads)
    if out_path:
        # write the already-deduped frame, so the write plan does not build
        # the identity-dedup a second time
        with job_description(spark, "run_pipeline: write"):
            write_quads_partitioned_by_predicate(final, out_path)
    return final
