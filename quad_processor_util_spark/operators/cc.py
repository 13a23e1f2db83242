"""Connected components by iterative joins with pointer-jumping,
for surface-form canonicalization over the alias graph.

The reference resolves redirects/sameAs with driver-side hash maps
(solr/SolrLoader.scala:41-84,176-197) — fine at 8 GB heap, impossible at
10^12 rows. Here: min-label propagation PLUS label shortcutting — each round
a node takes min(own label, neighbors' labels, label-of-its-label). The
label-of-label join halves every label-chain per round (pointer jumping /
path doubling, the same doubling that makes Kiveris et al.'s
large-star/small-star converge in O(log n)), so deep redirect chains —
common in alias graphs — resolve in O(log diameter) rounds, not
O(diameter). Each round is two equi-joins + one agg, all shuffling on the
node id, run by ONE action: the round's eager localCheckpoint, which also
counts changed labels through an Observation (the old label is on the same
row as the new one), so convergence needs no second job. The checkpoint
truncates lineage so plans stay flat across iterations. The alias_heavy
benchmark graph (~102k edges, alias chains up to 64 deep) converges in 9
rounds: 8 that change labels and 1 that confirms the fixpoint.

If max_iter rounds pass without a fixpoint the function RAISES — silently
returning partially-propagated labels would hand wrong canonicals
downstream.

connected_components resolves a graph of at most DRIVER_EDGES edges on
the driver from ONE bounded collect and returns an Arrow-built local
relation (DataFrame.isLocal()) of the edges' own key type; larger graphs
run the loop above. canonical_mapping makes the same split from its own
collect (driver_canonical), which run_pipeline calls directly so a
driver-sized graph's resolution can ride inside the extraction kernel.

Canonical = MIN node of each component in the key type's order
(deterministic).
"""

from __future__ import annotations

import pyarrow as pa
from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F
from pyspark.sql.pandas.types import to_arrow_type
from pyspark.sql.types import DataType

# graphs with at most this many edges are resolved on the driver; read at
# call time, so tests can patch it to drive the distributed loop
DRIVER_EDGES = 100_000


def connected_components(
    edges: DataFrame,
    src: str = "src_iri",
    dst: str = "dst_iri",
    max_iter: int = 20,
) -> DataFrame:
    """-> DataFrame(node, canonical) of the edge columns' type (src and dst
    share one): one row per node of an edge with no NULL endpoint;
    canonical is the component's min node (which may be the node itself).

    One bounded collect reads at most DRIVER_EDGES + 1 edges (duplicates
    count). Within the bound, union-find on the driver (SolrLoader.scala:
    41-84 — one iterative-join round costs more than resolving a
    broadcast-sized graph) returns a local relation; above it the
    distributed pointer-jumping loop runs."""
    e = _edge_pairs(edges, src, dst)
    rows = e.limit(DRIVER_EDGES + 1).collect()
    if len(rows) <= DRIVER_EDGES:
        from ..oracle import resolve_canonical

        mapping, _ = resolve_canonical([(a, b, "sameAs") for a, b in rows])
        return _local_components(edges.sparkSession, mapping,
                                 e.schema["a"].dataType)
    return _pointer_jumping(e, max_iter)


def _edge_pairs(edges: DataFrame, src: str, dst: str) -> DataFrame:
    """(a, b) edges with no NULL endpoint."""
    return (edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))
            .where(F.col("a").isNotNull() & F.col("b").isNotNull()))


def _local_components(spark, mapping: dict, key_type: DataType) -> DataFrame:
    """A driver-resolved {node: canonical} as an Arrow-built local relation
    (node, canonical) of key_type, sorted by node: it starts no job and
    parallelizes no RDD."""
    at = to_arrow_type(key_type)
    nodes = sorted(mapping)
    return spark.createDataFrame(pa.table({
        "node": pa.array(nodes, at),
        "canonical": pa.array([mapping[n] for n in nodes], at),
    }))


def _pointer_jumping(e: DataFrame, max_iter: int) -> DataFrame:
    """The distributed loop over (a, b) edges with no NULL endpoint."""
    e = e.distinct()
    # undirected closure: both directions, so min propagates either way.
    # sym is loop-invariant and consumed by every pointer-jumping round:
    # without the checkpoint each round would re-scan + re-distinct
    # (shuffle) + re-union the full edge set from source (round-5 review
    # finding — the much smaller labels frame was already checkpointed).
    sym = e.union(e.select(F.col("b").alias("a"), F.col("a").alias("b")))
    sym = sym.localCheckpoint(eager=True)
    # labels: every node starts labeled with min(self, min neighbor)
    labels = (
        sym.groupBy("a")
        .agg(F.least(F.min("b"), F.first("a")).alias("label"))
        .select(F.col("a").alias("node"), "label")
    )
    labels = labels.localCheckpoint(eager=True)
    for _ in range(max_iter):
        # propagate: min over neighbors' labels ...
        neigh = (
            sym.join(labels.withColumnRenamed("node", "b"), "b")
            .groupBy("a")
            .agg(F.min("label").alias("nlabel"))
            .select(F.col("a").alias("node"), "nlabel")
        )
        # ... and shortcut: label of own label (pointer jumping — this is
        # what turns O(diameter) propagation into O(log diameter))
        hop = labels.select(
            F.col("node").alias("__lbl"), F.col("label").alias("llabel")
        )
        # least() skips NULL arguments (isolated node → nlabel NULL;
        # label's row absent → llabel NULL) and label itself is never
        # NULL, so no coalesce scaffolding is needed
        least = F.least(F.col("label"), F.col("nlabel"), F.col("llabel"))
        obs = Observation()
        labels = (
            labels.join(neigh, "node", "left")
            .join(hop, labels["label"] == hop["__lbl"], "left")
            .select("node", least.alias("__new"),
                    (least != F.col("label")).alias("__chg"))
            .observe(obs, F.count_if("__chg").alias("changed"))
            .select("node", F.col("__new").alias("label"))
            .localCheckpoint(eager=True)
        )
        if obs.get["changed"] == 0:
            break
    else:
        raise RuntimeError(
            f"connected_components: no fixpoint after {max_iter} rounds — "
            f"labels would be wrong; raise max_iter (rounds needed ≈ "
            f"log2(graph diameter) with pointer jumping)"
        )
    return labels.select("node", F.col("label").alias("canonical"))


def canonical_mapping(
    alias_edges: DataFrame,
    src: str = "src_iri",
    dst: str = "dst_iri",
    kind: str = "edge_kind",
    max_iter: int = 20,
) -> tuple[DataFrame, DataFrame]:
    """Split alias edges into equivalences (redirect/sameAs -> CC) and
    disambiguation sources (-> excluded set, the anti-join side,
    SolrLoader.scala:124-127). Returns (mapping(node, canonical), excluded(iri)).

    A graph that driver_canonical resolves comes back as two Arrow-built
    local relations, so they start no job and parallelize no RDD; a larger
    graph runs distributed_canonical, and `excluded` stays lazy."""
    resolved = driver_canonical(alias_edges, src, dst, kind)
    if resolved is None:
        return distributed_canonical(alias_edges, src, dst, kind, max_iter)
    mapping, excluded = resolved
    spark = alias_edges.sparkSession
    return (
        _local_components(spark, mapping, alias_edges.schema[src].dataType),
        spark.createDataFrame(pa.table({
            "iri": pa.array(list(excluded), pa.string())})),
    )


def driver_canonical(
    alias_edges: DataFrame,
    src: str = "src_iri",
    dst: str = "dst_iri",
    kind: str = "edge_kind",
) -> tuple[dict, set] | None:
    """canonical_mapping's driver half: ONE bounded collect of at most
    DRIVER_EDGES + 1 edges. A graph at or below DRIVER_EDGES edges is
    resolved by oracle.resolve_canonical (the reference's in-memory
    redirect maps, SolrLoader.scala:41-84) into ({node: canonical},
    excluded IRIs); a larger graph returns None, and the caller runs
    distributed_canonical without a second probe.

    NULL edge_kind counts as an equivalence; an equivalence with a NULL
    endpoint is never unioned (as in the distributed path's _edge_pairs);
    a disambiguation source is excluded even when it is NULL, as in the
    distributed path's distinct."""
    rows = (alias_edges.select(src, dst, kind)
            .limit(DRIVER_EDGES + 1).collect())
    if len(rows) > DRIVER_EDGES:
        return None
    from ..oracle import resolve_canonical

    return resolve_canonical(
        [(s, d, k) for s, d, k in rows
         if k == "disambiguation" or (s is not None and d is not None)])


def distributed_canonical(
    alias_edges: DataFrame,
    src: str = "src_iri",
    dst: str = "dst_iri",
    kind: str = "edge_kind",
    max_iter: int = 20,
) -> tuple[DataFrame, DataFrame]:
    """canonical_mapping's distributed half: (mapping(node, canonical) by
    the pointer-jumping loop, lazy excluded(iri)), for graphs that
    driver_canonical showed to be over the bound."""
    # NULL edge_kind counts as an equivalence (plain `!=` would silently
    # drop the edge: NULL != 'disambiguation' is NULL, not true)
    equiv = alias_edges.where(
        F.col(kind).isNull() | (F.col(kind) != "disambiguation")
    )
    excluded = (
        alias_edges.where(F.col(kind) == "disambiguation")
        .select(F.col(src).alias("iri"))
        .distinct()
    )
    mapping = _pointer_jumping(_edge_pairs(equiv, src, dst), max_iter)
    return mapping, excluded
