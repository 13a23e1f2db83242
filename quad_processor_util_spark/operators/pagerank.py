"""PageRank over the extracted knowledge graph — entity importance.

The reference ranks nothing; its closest notion is Solr's per-field boost
at query time (solr/SolrHandler.java:296-322). A KG-construction pipeline
at corpus scale wants a graph-native importance score over the entities it
just extracted (rank canonical IRIs by link mass — which entities anchor
the graph), so this adds the canonical iterative-relational algorithm in
pure DataFrame ops, a sibling of :mod:`cc`'s pointer-jumping closure.

Semantics (classic damped PageRank with dangling-mass redistribution):
edges are DEDUPLICATED (simple graph; pass pre-weighted multiplicities
upstream if a multigraph is wanted), every node starts at ``1/N``, and
each iteration computes

    rank(v) = (1-d)/N + d * (sum_{u->v} rank(u)/outdeg(u) + D/N)

where ``D`` is the total rank mass sitting on dangling nodes (no
out-edges) that round — redistributed uniformly so total mass stays 1
(checked by tests to 1e-9 every iteration).

Scale shape: per iteration, ONE equi-join of the rank table to the edge
list on src (shuffle on the node id, the same key every round — on a real
cluster bucket both sides by node to make every round's join co-located)
plus one groupBy(dst) with map-side partial sums. The dangling mass is a
1-row aggregate broadcast back via crossJoin — ZERO driver-side collects
in the loop. ``localCheckpoint(eager=False)`` truncates lineage each round
(same discipline as cc.py/bpe.py) so the plan never grows with the
iteration count (round 6). Under AQE each checkpoint still runs the
shuffle stages below it when it is called; eager=False only saves the
extra job that would materialize its final stage.

Fixed-iteration runs are exactly SQL-replayable by unrolling the rounds
as CTEs — the ``entity_pagerank`` gate does precisely that (3 rounds,
ranks rounded to 6 dp; double-summation order differences are ~1e-15,
far below the rounding quantum).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

__all__ = ["pagerank"]


def pagerank(
    edges: DataFrame,
    iterations: int = 10,
    damping: float = 0.85,
    src_col: str = "src",
    dst_col: str = "dst",
) -> DataFrame:
    """-> DataFrame(node, rank DOUBLE): damped PageRank with uniform
    dangling-mass redistribution after ``iterations`` synchronous rounds
    over the deduplicated edge list. NULL endpoints are dropped (an edge
    needs both ends); a graph with no edges returns an empty frame."""
    if iterations < 0:
        raise ValueError("pagerank: iterations must be >= 0")
    if not (0.0 <= damping <= 1.0):
        raise ValueError("pagerank: damping must be in [0, 1]")
    # localCheckpoint(eager=False) throughout (round 6): eager=True ran one
    # more job per checkpoint to materialize its final stage — 3
    # fixed-latency jobs per iteration on graphs whose per-round compute is
    # milliseconds. eager=False cuts the plan identically (each consumer
    # references the checkpointed RDD, not the upstream query plan) and
    # materializes the final stage once, on first use. It is not lazy:
    # under AQE the shuffle stages below each checkpoint run when it is
    # called. The `nodes.count()` below is the only other driver action
    # before the caller's own.
    e = (
        edges.select(F.col(src_col).alias("src"), F.col(dst_col).alias("dst"))
        .where(F.col("src").isNotNull() & F.col("dst").isNotNull())
        .distinct()
        .localCheckpoint(eager=False)  # reused every round; pin it once
    )
    nodes = (
        e.select(F.col("src").alias("node"))
        .union(e.select(F.col("dst").alias("node")))
        .distinct()
        .localCheckpoint(eager=False)
    )
    outdeg = (
        e.groupBy("src").agg(F.count(F.lit(1)).cast("double").alias("deg"))
        .localCheckpoint(eager=False)
    )
    # ONE bounded driver scalar outside the loop (threshold-probe
    # discipline): N sizes the teleport term.
    n = nodes.count()
    if n == 0:
        return nodes.withColumn("rank", F.lit(0.0))
    base = (1.0 - damping) / n

    ranks = nodes.withColumn("rank", F.lit(1.0 / n))
    for _ in range(iterations):
        # dangling mass: rank sitting on nodes with no out-edges, as a
        # 1-row aggregate broadcast-crossed back in (no driver collect)
        dangling = (
            ranks.join(outdeg, ranks["node"] == outdeg["src"], "left_anti")
            .agg(F.coalesce(F.sum("rank"), F.lit(0.0)).alias("__dmass"))
        )
        contrib = (
            e.join(ranks, e["src"] == ranks["node"])
            .join(outdeg, "src")
            .groupBy("dst")
            .agg(F.sum(F.col("rank") / F.col("deg")).alias("__c"))
        )
        ranks = (
            nodes.join(contrib, nodes["node"] == contrib["dst"], "left")
            .crossJoin(F.broadcast(dangling))
            .select(
                "node",
                (F.lit(base)
                 + F.lit(damping)
                 * (F.coalesce(F.col("__c"), F.lit(0.0))
                    + F.col("__dmass") / F.lit(float(n)))).alias("rank"),
            )
            .localCheckpoint(eager=False)
        )
    return ranks
