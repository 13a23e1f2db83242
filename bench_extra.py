"""Round-6 measurement harness (bench.py is FROZEN; extra benches live here).

Times individual declared queries with the same methodology as bench.py
(.count(), interleaved trials, clearCache between trials) and optionally
with the noop sink (guide §1.4 — computes every column, no sink cost), and
optionally dumps .explain("formatted") for each query to a --plans directory.
Each query runs once before the timed trials; that time is reported as
``first`` and median/min/max cover the --trials settled runs only.

Usage:
  python bench_extra.py --queries jaccard_pairs,dup_spans --trials 3 \
      --sf-dir path/to/sf1.0 --plans /tmp/plans --suffix before
  python bench_extra.py --noop ...   # noop-sink isolation instead of count
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time
from statistics import median

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf-dir", default=os.environ.get(
        "SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    ap.add_argument("--queries", default="")
    ap.add_argument("--trials", type=int, default=3)
    ap.add_argument("--noop", action="store_true",
                    help="time with noop sink instead of count()")
    ap.add_argument("--plans", default="",
                    help="directory to write <name>_<suffix>.txt explains")
    ap.add_argument("--suffix", default="before")
    ap.add_argument("--out", default="", help="write timings JSON here")
    ap.add_argument("--bench-variants", action="store_true",
                    help="use bench.py's production-hash dedup variants")
    args = ap.parse_args()

    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    import __spark_entry__ as entrymod
    from quad_processor_util_spark.session import get_spark

    spark = get_spark("bench_extra", parallelism=cpus, shuffle_partitions=cpus)
    spark.sparkContext.setLogLevel("ERROR")

    qs = dict(entrymod.queries())
    if args.bench_variants:
        from quad_processor_util_spark.demo import read_table
        from quad_processor_util_spark.operators.dedup import (
            dedup_clusters as _dc,
            minhash_dedup as _mh,
            simhash_signatures as _sh,
        )
        qs["minhash_dedup"] = lambda s, sf: _mh(
            read_table(s, sf, "documents"), num_hashes=36, bands=6,
            threshold=0.7).select("doc_id")
        qs["simhash"] = lambda s, sf: _sh(
            read_table(s, sf, "documents")).select("doc_id", "simhash")
        qs["dedup_clusters"] = lambda s, sf: _dc(
            read_table(s, sf, "documents"), num_hashes=36, bands=6,
            threshold=0.7)

    names = [n for n in args.queries.split(",") if n] or list(qs)

    if args.plans:
        os.makedirs(args.plans, exist_ok=True)
        for name in names:
            df = qs[name](spark, args.sf_dir)
            txt = df._sc._jvm.PythonSQLUtils.explainString(
                df._jdf.queryExecution(), "formatted")
            with open(os.path.join(
                    args.plans, f"{name}_{args.suffix}.txt"), "w") as f:
                f.write(txt)

    # warm the session once: JVM codegen, then one Python worker per task
    # slot (a parquet count() starts none), each with pandas, pyarrow and
    # the package imported. The pause keeps every slot's task alive at
    # once, so no worker serves two of them; idle workers are reused in
    # turn, so a worker left cold would slow a later trial.
    spark.read.parquet(os.path.join(args.sf_dir, "events.parquet")).count()
    slots = spark.sparkContext.defaultParallelism

    def _warm(batches):
        import quad_processor_util_spark.plans.pipeline  # noqa: F401

        time.sleep(0.5)
        yield from batches

    spark.range(slots, numPartitions=slots).mapInPandas(_warm, "id long").count()

    # trial 0 is each query's first run: it pays first-of-kind start-up
    # (1.3-4.7x the settled time at sf0.1), so it is reported apart
    runs: dict[str, list[float]] = {n: [] for n in names}
    for t in range(args.trials + 1):
        for name in names:
            spark.sparkContext.setJobDescription(f"{name} trial {t}")
            # construction INSIDE the clock — bench.py times fn(...).count()
            # as one unit, and eager-localCheckpoint queries do real work at
            # construction time
            t0 = time.time()
            df = qs[name](spark, args.sf_dir)
            if args.noop:
                df.write.format("noop").mode("overwrite").save()
            else:
                df.count()
            runs[name].append(round(time.time() - t0, 3))
            spark.sparkContext.setJobDescription(None)
            spark.catalog.clearCache()

    res = {n: {"first": v[0], "median": round(median(v[1:]), 3),
               "min": min(v[1:]), "max": max(v[1:]), "runs": v[1:]}
           for n, v in runs.items()}
    line = json.dumps({"sf_dir": args.sf_dir, "noop": args.noop,
                       "timings": res})
    print(line)
    if args.out:
        with open(args.out, "w") as f:
            f.write(line + "\n")
    spark.stop()


if __name__ == "__main__":
    main()
