"""Benchmark entry point.

    python3 perfbench/run.py --workload kg_batch --seed 1 --seconds 20 --trace 0

Run from the repository root. Generates the workload's inputs from the
seed, builds the Spark session exactly as ``session.get_spark`` does at
local[nproc / 2], and runs the workload's job as a closed loop (one job after
another, one client) for --seconds, checking every timed job's output. The last
stdout line is one JSON object {correct, attempted, failed, metrics}:
end-to-end metrics with --trace 0, per-layer metrics with --trace 1. The
line before it carries run details (host load and CPU steal, nproc,
per-run samples, output fingerprint). See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys
import time

ROOT = os.getcwd()
HERE = os.path.dirname(os.path.abspath(__file__))
SETUPS = 3          # set-ups per timed run; setup_s is their median
WARM_JOBS = 3       # first jobs of a loop, run but neither timed nor checked
MIN_JOBS = 6        # jobs per loop even when --seconds is short


def _loadavg() -> list[float]:
    with open("/proc/loadavg") as f:
        return [float(x) for x in f.read().split()[:3]]


def _cpu_jiffies() -> tuple[int, int]:
    """(total, steal) jiffies of all CPUs so far, from /proc/stat."""
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:]]
    return sum(fields[:8]), fields[7]


def _nproc() -> int:
    return len(os.sched_getaffinity(0))


def parallelism(nproc: int) -> int:
    """Spark task slots: half the cores. At local[nproc] each slot's JVM
    thread, Arrow writer thread and Python worker contend for the same
    cores, and job time tracks the host's CPU steal: on a 4-core host,
    alternating runs took 3.3-6.6 s per kg_batch job at local[4] as steal
    went from 1% to 21% of the loop, and 4.0-4.3 s at local[2]."""
    return max(1, nproc // 2)


def _proc_tree(root_pid: int) -> list[int]:
    """root_pid and all its descendants, from /proc."""
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(entry))
    out, todo = [], [root_pid]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, []))
    return out


def peak_rss_mb(jvm_pid: int) -> float:
    """Summed high-water RSS (VmHWM) of the JVM and its Python workers."""
    total_kb = 0
    for pid in _proc_tree(jvm_pid):
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
        except OSError:
            continue
    return total_kb / 1024.0


def _declared(trace: int) -> dict[str, str]:
    """{name: unit} of the metrics BENCHMARK.json declares for this mode."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    return {m["name"]: m["unit"]
            for m in spec["per_layer" if trace else "end_to_end"]}


# traced span name -> its self-time metric
SPAN_METRICS = {
    "io.scan": "io.scan_s", "io.write": "io.write_s", "extract": "extract.s",
    "stable_order": "stable_order.s", "link": "link.s", "cc": "cc.s",
    "canon": "canon.s", "quad_dedup": "quad_dedup.s", "minhash": "minhash.s",
    "lsh": "lsh.s", "jaccard": "jaccard.s",
}


class Bench:
    def __init__(self, args, work: str):
        from perfbench.workloads import WORKLOADS

        self.args = args
        self.work = work
        self.par = parallelism(_nproc())
        self.wl = WORKLOADS[args.workload](self.par)
        self.spark = None
        self.attempted = 0
        self.failed = 0
        self.problems: list[str] = []
        self.reference = None   # (n, fp) of the first job

    # -- session ------------------------------------------------------------

    def session(self, parallelism: int, extra: dict | None = None):
        from quad_processor_util_spark.session import get_spark

        self.stop()
        self.spark = get_spark("perfbench", parallelism=parallelism,
                               extra_conf=extra)
        self.spark.sparkContext.setLogLevel("ERROR")
        return self.spark

    def stop(self) -> None:
        if self.spark is not None:
            self.spark.stop()
            self.spark = None

    def shutdown(self) -> None:
        """Stop the session, then the JVM, and wait for it to exit."""
        from pyspark import SparkContext

        self.stop()
        gw = SparkContext._gateway
        if gw is None:
            return
        gw.shutdown()
        proc = getattr(gw, "proc", None)
        if proc is not None:
            proc.stdin.close()
            proc.wait(timeout=60)
        SparkContext._gateway = None
        SparkContext._jvm = None

    def jvm_pid(self) -> int:
        from pyspark import SparkContext

        return SparkContext._gateway.proc.pid

    def setup(self, inp, parallelism: int, extra: dict | None = None) -> float:
        t = time.perf_counter()
        spark = self.session(parallelism, extra)
        self.wl.warm(spark, inp)
        return time.perf_counter() - t

    # -- checked jobs -------------------------------------------------------

    def record(self, res: dict, inp) -> None:
        self.attempted += 1
        problems = self.wl.verify(res, inp)
        key = (res["n"], res["fp"])
        if self.reference is None:
            self.reference = key
        elif key != self.reference:
            problems.append(f"fingerprint {key} != first job's {self.reference}")
        if problems:
            self.failed += 1
            self.problems.extend(problems[:3])

    def loop(self, inp, seconds: float, min_jobs: int) -> list[float]:
        """Closed loop: one job after another until `seconds` have passed
        and at least min_jobs ran."""
        times: list[float] = []
        start = time.perf_counter()
        while time.perf_counter() - start < seconds or len(times) < min_jobs:
            warm = len(times) < WARM_JOBS
            dt, res = self.wl.run(self.spark, inp, check=not warm)
            times.append(dt)
            if not warm:
                self.record(res, inp)
        return times


def job_median(times: list[float]) -> float:
    """Median over the loop's jobs after the first WARM_JOBS. The first
    jobs of a fresh JVM run up to twice as long (plan code generation, JIT
    compilation competing for the cores), by an amount that varies run to
    run; the third is still ~10% above the settled time."""
    return statistics.median(times[WARM_JOBS:])


def _traced(b: Bench, inp, untraced_wall: float, names) -> dict:
    """Per-layer metrics; a layer the workload does not call reports 0."""
    from perfbench.trace import (
        GroupStats,
        Tracer,
        event_log_conf,
        parse_event_log,
        plan_counts,
        plan_nodes,
        union_length,
    )
    from perfbench.workloads import layer_metrics

    # N -> 1 scaling: the same job on a local[1] session
    b.setup(inp, 1)
    t1, res = b.wl.run(b.spark, inp)
    b.record(res, inp)
    scaling_eff = t1 / (b.par * untraced_wall)

    log_dir = os.path.join(b.work, "eventlog")
    spark = b.session(b.par, event_log_conf(log_dir))
    b.wl.warm(spark, inp)
    tracer = Tracer(spark, f"{b.args.workload}-{b.args.seed}")
    res, counts, frames = b.wl.traced(spark, inp, tracer)
    b.record(res, inp)
    nodes = {name: plan_nodes(df) for name, df in frames.items()}
    app_id = spark.sparkContext.applicationId
    b.stop()    # flushes and closes the event log
    stats = parse_event_log(log_dir, app_id)
    os.makedirs(os.path.join(HERE, ".out"), exist_ok=True)
    tracer.dump(os.path.join(HERE, ".out", f"{tracer.run_id}-spans.json"))

    def group(name: str) -> GroupStats:
        return stats.get(tracer.group(name), GroupStats())

    mine = [s for g, s in stats.items() if g.startswith(tracer.run_id + ":")]
    root = next(s for s in tracer.spans if s.name == "job")
    jobs_in_root = [(max(a, root.start), min(e, root.end))
                    for s in mine for a, e in s.job_intervals
                    if e > root.start and a < root.end]
    layer_s = {k: v for k, v in tracer.self_times().items() if k != "job"}
    plans = [plan_counts(n) for n in nodes.values()]
    m = dict.fromkeys(names, 0)
    m.update({SPAN_METRICS[k]: v for k, v in layer_s.items()})
    m.update({f"plan.{k}": sum(p[k] for p in plans) for k in plans[0]})
    m.update(layer_metrics(inp, nodes))
    m.update(counts)
    m.update({
        "stable_order.shuffle_bytes": group("stable_order").shuffle_write_bytes,
        "cc.jobs": group("cc").jobs,
        "quad_dedup.shuffle_bytes": group("quad_dedup").shuffle_write_bytes,
        "spark.jobs": sum(s.jobs for s in mine),
        "spark.stages": sum(s.stages for s in mine),
        "spark.tasks": sum(s.tasks for s in mine),
        "spark.tasks_failed": sum(s.tasks_failed for s in mine),
        "spark.shuffle_write_bytes": sum(s.shuffle_write_bytes for s in mine),
        "spark.spill_bytes": sum(s.spill_bytes for s in mine),
        "spark.gc_s": sum(s.gc_ms for s in mine) / 1000.0,
        "spark.executor_run_s": sum(s.executor_run_ms for s in mine) / 1000.0,
        "spark.scaling_eff": scaling_eff,
        "driver.s": root.duration - union_length(jobs_in_root),
        "trace.overhead_s": root.duration - untraced_wall,
        "trace.coverage": sum(layer_s.values()) / root.duration,
    })
    m["link.link_ratio"] = (m["link.linked"] / m["link.surfaces"]
                            if m["link.surfaces"] else 0.0)
    m["jaccard.verified_ratio"] = (m["jaccard.pairs"] / m["lsh.candidates"]
                                   if m["lsh.candidates"] else 0.0)
    return m


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, "quad_processor_util_spark")):
        print("perfbench: run from the repository root; the "
              "quad_processor_util_spark package is not here", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    from perfbench.workloads import WORKLOADS, cleanup

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; one of "
              f"{sorted(WORKLOADS)}", file=sys.stderr)
        return 2

    # every file Spark, the JVM and Python write goes under the run's own
    # work directory inside the checkout
    work = os.path.join(HERE, ".work", f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} -XX:-UsePerfData")
    # get_spark's driver heap knob. Its 8g default lets the JVM grow to
    # several GB on inputs this size, on a host other work shares; with 2g
    # the heap's high-water (most of peak_rss_mb) varied ~30% run to run
    os.environ.setdefault("SPARK_DRIVER_MEM", "1g")

    units = _declared(args.trace)
    detail: dict = {"workload": args.workload, "seed": args.seed,
                    "nproc": _nproc(), "loadavg_start": _loadavg()}
    b = Bench(args, work)
    detail["parallelism"] = b.par
    try:
        t = time.perf_counter()
        inp = b.wl.generate(args.seed, work)
        detail["gen_s"] = time.perf_counter() - t
        # a traced run reports no setup_s, so it sets up once
        setups = [b.setup(inp, b.par) for _ in range(1 if args.trace else SETUPS)]
        b.wl.prepare(b.spark, inp)
        # a traced run's untraced loop only provides the reference wall
        # time for trace.overhead_s and spark.scaling_eff
        cpu0 = _cpu_jiffies()
        if args.trace:
            times = b.loop(inp, args.seconds / 2, WARM_JOBS + 1)
        else:
            times = b.loop(inp, args.seconds, MIN_JOBS)
        cpu1 = _cpu_jiffies()
        # share of the loop's CPU time the hypervisor gave to other guests
        detail["loop_steal_share"] = ((cpu1[1] - cpu0[1])
                                      / max(1, cpu1[0] - cpu0[0]))
        wall = job_median(times)
        if args.trace:
            metrics = _traced(b, inp, wall, units)
        else:
            metrics = {"setup_s": statistics.median(setups), "wall_s": wall,
                       "rows_per_s": inp.rows / wall,
                       "peak_rss_mb": peak_rss_mb(b.jvm_pid())}
        detail.update({"rows": inp.rows, "row_kind": b.wl.row_kind,
                       "setup_samples_s": setups, "job_samples_s": times,
                       "output_rows": b.reference[0] if b.reference else None,
                       "fingerprint": b.reference[1] if b.reference else None,
                       "problems": b.problems[:10]})
    finally:
        b.shutdown()
        cleanup(work)
    detail["loadavg_end"] = _loadavg()
    detail["nproc_end"] = _nproc()
    if set(metrics) != set(units):
        raise KeyError(f"metrics differ from BENCHMARK.json: "
                       f"{sorted(set(metrics) ^ set(units))}")
    print(json.dumps({"detail": detail}))
    print(json.dumps({
        "correct": b.failed == 0,
        "attempted": b.attempted,
        "failed": b.failed,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
