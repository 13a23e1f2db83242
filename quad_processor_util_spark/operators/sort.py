"""Global quad sorting — the reference's flagship external sort collapsed
into Spark's range-partitioned sort (SURVEY.md §2.6/O3: the ~550-LoC
sort/QuadSorter.scala:258-336 pipeline — chunking, prefix survey, rebalance,
parallel merges, writer buckets, bash-cat concat — IS
repartitionByRange + sortWithinPartitions + ordered part files).

Ordering semantics: the reference compares by UTF-16 code points
(sort/CodePointComparator.scala:19-43). Spark orders strings by UTF8String
binary comparison, and UTF-8 byte order equals code-point order — including
supplementary planes, where Java's String.compareTo (UTF-16 order) differs.
So Spark's default ordering is EXACTLY the reference's comparator
(verified in tests with astral-vs-BMP vectors).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..session import worker_kernel


def sort_quads(
    quads: DataFrame,
    target: str = "subject",
    num_partitions: int | None = None,
) -> DataFrame:
    """Globally sorted quads by the target field (utils/FilterTarget.scala:
    9-22 field selection): range partition (sampled split points — the
    prefix survey of QuadSorter.scala:65-112, natively) + in-partition sort.
    Partition i's keys all precede partition i+1's, so ordered part files
    form a globally sorted dataset without any concat step."""
    parts = num_partitions or quads.sparkSession.sparkContext.defaultParallelism
    return quads.repartitionByRange(parts, F.col(target)).sortWithinPartitions(target)


def prefix_histogram(df: DataFrame, col: str, prefix_len: int = 1) -> DataFrame:
    """Counts per key prefix — the skew survey (QuadSorter.extractCharMap,
    sort/QuadSorter.scala:114-127; PrefixMap rebalance :129-166). Feeds the
    salting decision: prefixes holding >1/parallelism of rows are 'hot'."""
    return (
        df.groupBy(F.substring(F.col(col), 1, prefix_len).alias("prefix"))
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.desc("n"))
    )


def null_nan_key(v):
    """Total-order key matching Spark's ordering: nulls FIRST (bucket 0),
    real values (bucket 1), float NaN LAST (bucket 2 — Spark treats NaN as
    greater than any real, unlike IEEE). Tuple buckets avoid ever comparing
    None or NaN to a value (a null crashed the raw `v < prev` comparison —
    round-3 review finding; a NaN inside (1, v) would poison comparisons,
    every NaN compare being False). ONE definition shared by
    is_globally_sorted and grouping.assert_sorted (round-4 review finding:
    three hand-maintained copies of this invariant had already drifted
    textually).

    Known limit (documented, round-3 advice): Arrow/pandas represent a true
    SQL NULL in a float column as NaN, so null and NaN are indistinguishable
    executor-side — both land in the NaN-last bucket. A Spark-sorted float
    column with genuine nulls (which Spark puts first) is therefore reported
    unsorted; float columns mixing nulls and data need a separate
    null-partition pass if that matters."""
    import math

    if v is None:
        return (0,)
    if isinstance(v, float) and math.isnan(v):
        return (2,)
    return (1, v)


def is_globally_sorted(df: DataFrame, col: str) -> bool:
    """Full-scan sortedness check across partition boundaries (the
    QuadSorterTest invariant, QuadSorterTest.scala:36-54): per-partition
    monotone AND partition max <= next partition min."""
    import pandas as pd

    _key = null_nan_key

    def _minmax(batches):
        from pyspark import TaskContext

        pid = TaskContext.get().partitionId()
        first = last = None
        seen = False
        ok = True
        prev = None
        for pdf in batches:
            for v in pdf[col]:
                kv = _key(v)
                if prev is not None and kv < prev:
                    ok = False
                prev = kv
                if not seen:
                    first = v
                    seen = True
                last = v
        yield pd.DataFrame({"pid": [pid], "seen": [seen], "lo": [first],
                            "hi": [last], "ok": [ok]})

    # per-partition (pid, min, max, monotone?) via mapInPandas, which
    # preserves the input partitioning; partitions are compared in EXPLICIT
    # pid order (collect order is not a contract). lo/hi keep the COLUMN'S
    # OWN TYPE — a string cast would compare numeric boundaries
    # lexicographically ('9' > '10')
    dtype = df.schema[col].dataType.simpleString()
    res = df.select(col).mapInPandas(
        worker_kernel(_minmax),
        f"pid int, seen boolean, lo {dtype}, hi {dtype}, ok boolean"
    ).collect()
    res = sorted((r for r in res if r.seen), key=lambda r: r.pid)
    if not all(r.ok for r in res):
        return False

    # range partitioning puts partition i's keys before partition i+1's
    # (nulls-first, NaN-last ordering at the boundary too)
    for a, b in zip(res, res[1:]):
        if _key(a.hi) > _key(b.lo):
            return False
    return True
