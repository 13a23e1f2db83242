"""Observability — the LogRecorder analog (log/LogRecorder.scala:54-92,
159-181): per-stage success/fail counters, done the Spark way:
`df.observe(Observation, ...)` aggregates ride the job (no extra action),
accumulators count inside pandas UDFs, and everything lands in the
commit-metadata sidecar (sources/io.write_table meta=...).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F


def observed_counts(df: DataFrame, name: str = "obs") -> tuple[DataFrame, Observation]:
    """Attach row/null-subject counters to the frame; read obs.get after the
    next action. Zero extra passes (vs. the reference's synchronized counter
    objects on every write, WriterDestination.scala:36)."""
    obs = Observation(name)
    out = df.observe(
        obs,
        F.count(F.lit(1)).alias("rows"),
        F.sum(F.when(F.col(df.columns[0]).isNull(), 1).otherwise(0)).alias("first_col_nulls"),
    )
    return out, obs

