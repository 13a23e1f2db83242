"""Join strategy for head-entity skew.

The reference handles skew by splitting hot URI prefixes and coalescing tiny
ones (sort/QuadSorter.scala:129-166, sort/PrefixMap.scala:68-84). On Spark
the same problem appears as skewed join keys; the explicit fix (demanded by
the north rule on top of AQE) is key salting: fact side gets a random salt in
[0, K), the dim side is exploded ×K, and the join key becomes (key, salt).

All pure DataFrame ops — no UDFs, no shuffles beyond the join's own.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def salted_join(
    fact: DataFrame,
    dim: DataFrame,
    key: str,
    salt_buckets: int = 8,
    how: str = "inner",
    salt_col: str = "__salt",
) -> DataFrame:
    """Skew-resistant equi-join on `key`.

    fact rows get salt = pmod(xxhash64(monotonically_increasing_id), K) —
    per-ROW, not per-content: hashing the column values would give every
    exact-duplicate row of a hot key the same salt and re-concentrate the
    skew (duplicate-heavy corpora are exactly where salting matters;
    round-3 review finding). Any salt value is correct for a fact row (the
    dim side is exploded ×K), so the id's nondeterminism under task retry
    cannot change the join result. A single hot key thus spreads over K
    reducer partitions. Result is identical to a plain join (verified by
    oracle tests).

    Only fact-preserving join types are allowed: the dim side is exploded
    ×K, so right/full outer joins would emit K copies of every unmatched
    dim row. (Each fact row carries exactly one salt, so inner/left/semi/
    anti are exactly plain-join-equivalent.)
    """
    allowed = {"inner", "left", "leftouter", "left_outer", "left_semi",
               "leftsemi", "left_anti", "leftanti", "semi", "anti"}
    if how.lower() not in allowed:
        raise ValueError(
            f"salted_join: how={how!r} unsupported — the exploded dim side "
            f"would duplicate unmatched dim rows; use one of {sorted(allowed)}"
        )
    fact_s = fact.withColumn(
        salt_col,
        F.pmod(F.xxhash64(F.monotonically_increasing_id()), F.lit(salt_buckets)),
    )
    dim_s = dim.withColumn(
        salt_col, F.explode(F.array([F.lit(i) for i in range(salt_buckets)]))
    )
    out = fact_s.join(dim_s, [key, salt_col], how)
    return out.drop(salt_col)
