"""Grouped traversal + star-view aggregation.

- ``sorted_group_scan``: the Spark-first reinterpretation of the reference's
  sorted-file group streaming (QuadReader.readSortedQuads, QuadReader.scala:
  44-62): ONE hash repartition on the key + in-partition secondary sort, then
  mapInPandas sees contiguous key runs — grouping without groupBy's
  per-group object overhead, and downstream stages reuse the partitioning.
- ``grouped_apply``: per-group pandas transform (the `Traversable[Quad] =>
  Traversable[Quad]` extension point, QuadMapper.scala:84-153,
  scripts/SortedQuadTraversal.scala:34-47) as applyInPandas.
- ``star_view``: per-subject entity document (SolrLoader.scala:137-174) as a
  single groupBy.agg — first label + overflow altLabels, collected types /
  sameAs / subjects, all list-distinct, map-side partial aggregation free.
"""

from __future__ import annotations

from collections.abc import Callable, Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..session import worker_kernel


def sorted_group_scan(
    df: DataFrame,
    key: str,
    order: str | None = None,
    num_partitions: int | None = None,
) -> DataFrame:
    """Repartition by key + sort within partitions by (key, order) so each
    partition is a sequence of contiguous, internally ordered key runs —
    the shape the reference got from subject-sorted files."""
    parts = num_partitions or df.sparkSession.sparkContext.defaultParallelism
    out = df.repartition(parts, key)
    cols = [key] + ([order] if order else [])
    return out.sortWithinPartitions(*cols)


def grouped_apply(
    df: DataFrame,
    key: str,
    fn: Callable[[pd.DataFrame], pd.DataFrame],
    schema,
    order: str | None = None,
) -> DataFrame:
    """groupBy(key).applyInPandas with deterministic intra-group order:
    applyInPandas does NOT guarantee row order inside a group, so when
    `order` is given the group is sorted before `fn` (SURVEY.md risk
    register: stable turn ordering)."""

    if order is not None:
        def wrapped(pdf: pd.DataFrame) -> pd.DataFrame:
            return fn(pdf.sort_values(order, kind="mergesort"))
    else:
        wrapped = fn
    return df.groupBy(key).applyInPandas(wrapped, schema)


def run_boundary_groups(
    df: DataFrame, key: str, fn: Callable[[pd.DataFrame], pd.DataFrame], schema,
    order: str | None = None,
) -> DataFrame:
    """Group-run traversal without groupBy: sorted_group_scan + mapInPandas
    with carry-over of the split tail between Arrow batches, so `fn` always
    sees whole key groups. Cheaper than applyInPandas when groups are small
    and numerous (no per-group Python call from JVM, larger Arrow batches)."""

    def _runs(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        carry: pd.DataFrame | None = None
        for pdf in batches:
            if carry is not None and len(carry):
                pdf = pd.concat([carry, pdf], ignore_index=True)
            if not len(pdf):
                continue
            last_key = pdf[key].iloc[-1]
            head = pdf[pdf[key] != last_key]
            carry = pdf[pdf[key] == last_key]
            if len(head):
                yield from _apply_groups(head)
        if carry is not None and len(carry):
            yield from _apply_groups(carry)

    def _apply_groups(pdf: pd.DataFrame) -> Iterator[pd.DataFrame]:
        for _, grp in pdf.groupby(key, sort=False):
            if order is not None:
                grp = grp.sort_values(order, kind="mergesort")
            out = fn(grp)
            if out is not None and len(out):
                yield out

    return sorted_group_scan(df, key, order).mapInPandas(
        worker_kernel(_runs), schema)


def star_view(quads: DataFrame) -> DataFrame:
    """Per-subject entity document (the solr-loader aggregation,
    SolrLoader.scala:137-174): first label (deterministic min) + ALL
    remaining labels as altLabels (lossless by construction — the former
    label_overflow parameter silently dropped labels for any value but 1,
    round-3 review finding), collect_set of types / sameAs / subjects —
    one shuffle, partial aggregation map-side."""
    label_overflow = 1  # exactly the primary label is excluded from altLabels
    p = F.col("predicate")
    is_label = p.endswith("label") | p.endswith("Label")
    is_type = p == "http://www.w3.org/1999/02/22-rdf-syntax-ns#type"
    is_same = p.endswith("sameAs") | p.endswith("exactMatch")
    is_subject_rel = p.endswith("subject")
    labels_sorted = F.sort_array(F.collect_set(F.when(is_label, F.col("obj"))))
    return quads.groupBy("subject").agg(
        # try_element_at: a subject with zero label quads has an EMPTY array
        # here, and plain element_at throws under ANSI mode (Spark 4 default)
        F.try_element_at(labels_sorted, F.lit(1)).alias("label"),
        F.slice(
            labels_sorted, label_overflow + 1,
            F.greatest(F.size(labels_sorted) - label_overflow, F.lit(0)),
        ).alias("altLabels"),
        F.sort_array(F.collect_set(F.when(is_type, F.col("obj")))).alias("types"),
        F.sort_array(F.collect_set(F.when(is_same, F.col("obj")))).alias("sameAs"),
        F.sort_array(F.collect_set(F.when(is_subject_rel, F.col("obj")))).alias("subjects"),
        F.count(F.lit(1)).alias("n_quads"),
    )


def assert_sorted(df: DataFrame, key: str, order: str) -> int:
    """PHYSICAL sortedness-violation count (the QuadSorterTest invariant,
    QuadSorterTest.scala:36-54): adjacent rows within each partition, in
    scan order, must be non-decreasing on (key, order). Counts the pairs
    that are not. Nulls sort first (Spark's asc default). The previous
    window-based formulation ordered BY the checked column before lagging
    and was therefore vacuously 0 on any input (round-3 review finding);
    mapInPandas sees the rows as the partition actually delivers them.
    Cross-partition boundaries are is_globally_sorted's job
    (operators/sort.py)."""
    import pandas as pd

    # nulls-first / NaN-last total order matching Spark's — the ONE shared
    # definition (see sort.null_nan_key for the Arrow null/NaN caveat)
    from .sort import null_nan_key as _t

    def _viol(batches):
        prev = None
        n = 0
        for pdf in batches:
            for k, o in zip(pdf[key], pdf[order]):
                cur = (_t(k), _t(o))
                if prev is not None and cur < prev:
                    n += 1
                prev = cur
        yield pd.DataFrame({"n": [n]})

    res = df.select(key, order).mapInPandas(
        worker_kernel(_viol), "n long").collect()
    return sum(r.n for r in res)
