"""SparkSession factory tuned for the KG-construction workload.

Scale stance: these configs are chosen so the same plan holds on a
1000-executor cluster reading 100 TB — AQE on (runtime re-plan + skew-join
splitting), Arrow enabled (every hot-path UDF is a pandas/Arrow UDF, never
row-at-a-time Python), session timezone pinned to UTC so results are
comparable across engines (the DuckDB oracle is UTC-naive).
"""

from __future__ import annotations

import functools
import os
from contextlib import contextmanager

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "quad-processor-util-spark",
    parallelism: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession.

    parallelism: local[N] thread count; defaults to $SPARK_GRAFT_CPUS or 32.
    shuffle_partitions: defaults to parallelism (right-sized for local mode;
      on a real cluster you'd set ~2-3x total cores and let AQE coalesce).
    """
    cpus = parallelism or int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    shuffle = shuffle_partitions or cpus
    b = (
        SparkSession.builder.appName(app_name)
        .master(f"local[{cpus}]")
        .config("spark.sql.shuffle.partitions", str(shuffle))
        .config("spark.default.parallelism", str(cpus))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # best variant of the round-5 Arrow-transport probe at local[32]
        # (BENCH/CEILING.md): median 1.02M vs 916k turns/s over base in the
        # interleaved 3-trial window, and the best widening retention in
        # the paired 8->32 run (0.70 vs 0.63). Frees Arrow buffers during
        # toPandas conversion; no semantic effect.
        .config("spark.sql.execution.arrow.pyspark.selfDestruct.enabled",
                "true")
        # JVM (not ICU) case mapping for UTF8_BINARY lower/upper: identical
        # on ASCII, and skips CollationAwareUTF8String's one-time ICU
        # title-case table build (~60s of CPU on first lower() per JVM)
        .config("spark.sql.icu.caseMappings.enabled", "false")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        # parquet scan sizing: at 100 TB this bounds task input so partitions
        # fit executor memory (reference analog: MAXMEMUSAGE chunking,
        # sort/QuadSorter.scala:662 — Spark spills instead, this just sizes).
        .config("spark.sql.files.maxPartitionBytes", "134217728")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
    )
    for k, v in (extra_conf or {}).items():
        b = b.config(k, v)
    spark = b.getOrCreate()
    # getOrCreate silently reuses an existing session, IGNORING every conf
    # above — warn loudly if a requested conf didn't take (e.g. a tool that
    # needs AQE off running inside a process that already built a session)
    for k, v in (extra_conf or {}).items():
        actual = spark.conf.get(k, None)
        if actual != v:
            import sys as _sys
            print(f"# WARN get_spark: requested {k}={v} but active session "
                  f"has {actual} (pre-existing session reused)",
                  file=_sys.stderr)
    return spark


@contextmanager
def job_description(spark: SparkSession, description: str):
    """Describe the Spark jobs triggered inside the block as `description`
    (the UI / status store job description); the caller's description is
    restored on exit."""
    sc = spark.sparkContext
    prev = sc.getLocalProperty("spark.job.description")
    sc.setJobDescription(description)
    try:
        yield
    finally:
        sc.setLocalProperty("spark.job.description", prev)


def drop_zip_finders() -> None:
    """Delete every ``zipimport.zipimporter`` from ``sys.path_importer_cache``.

    ``pyspark.worker_util.setup_spark_files`` calls
    ``importlib.invalidate_caches()`` at the start of every Python task. On
    CPython 3.11 each cached zipimporter then re-reads its archive's whole
    central directory: pyspark.zip is cached under one key per imported
    package directory and the spark-core jar (~5 000 entries) under two,
    which costs ~0.2 s per task before any row is read. Modules already
    imported keep their own loaders, and a later import from an archive
    re-creates the finder it needs from zipimport's directory cache without
    re-reading the file. The cache belongs to the worker process, so the
    trim also speeds up every later task that worker runs."""
    import sys
    import zipimport

    cache = sys.path_importer_cache
    for key in [k for k, v in cache.items()
                if isinstance(v, zipimport.zipimporter)]:
        del cache[key]


def worker_kernel(fn):
    """Wrap an iterator kernel for ``mapInArrow``/``mapInPandas`` so each
    task first runs :func:`drop_zip_finders`. Not for ``applyInPandas``:
    Spark reads that function's arity, which a wrapper would change."""
    @functools.wraps(fn)
    def _run(batches):
        drop_zip_finders()
        return fn(batches)

    return _run
