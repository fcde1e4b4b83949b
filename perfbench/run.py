"""Benchmark runner: one workload, one seed, one JSON result line.

    python3 perfbench/run.py --workload star_etl --seed 1 --seconds 3 --trace 0

Run from the root of a checkout. The run

1. sets up three times (start a SparkSession through ``session.get_spark``,
   generate the seeded inputs into a fresh directory) and keeps the
   median set-up time;
2. runs one warm-up iteration that collects every output, checks those
   outputs against DuckDB and numpy outside any timed region, and runs a
   second warm-up iteration through the noop sink;
3. runs iterations until ``--seconds`` have passed (at least two),
   timing each step.

Set-up time is the median set-up plus both warm-up iterations.

Every time reported end to end is steal-free: each set-up and each step
is timed on its own, and the share of the machine's runnable CPU time
that the hypervisor gave to other guests meanwhile (steal, from
``/proc/stat``) is taken out of its wall time. On a shared host that
share swung from 0 to 45% between runs minutes apart, and the raw wall
time with it; without steal the two times are equal.

``--trace 0`` reports the end-to-end metrics. ``--trace 1`` alternates
untraced and traced iterations; traced iterations record a span per step
and a child span per Spark job, read Spark's counters between steps, and
yield the per-layer metrics. The last stdout line is the JSON result; the
exit code is 1 if an output check failed; a step that raises ends the run
with a traceback and exit code 1.
"""

from __future__ import annotations

import argparse
import gc
import json
import os
import shutil
import statistics
import sys
import time
from collections import Counter

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
CORES = 4
SETUPS = 3
MIN_ITERATIONS = 2
RUN_DIR = os.path.join(ROOT, ".perfbench_run")
NO_PERF_DATA = "-XX:-UsePerfData"


def parse_args(argv=None):
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def isolate(work: str) -> None:
    """Keep every file the run (and Spark) writes inside ``work`` and let
    Python workers import the package from the checkout."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    # HotSpot writes /tmp/hsperfdata_<user>/<pid> whatever java.io.tmpdir
    # says; the spark-submit launcher JVM reads its options from here.
    os.environ["SPARK_LAUNCHER_OPTS"] = NO_PERF_DATA
    paths = [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join(paths)
    import tempfile

    tempfile.tempdir = tmp


def start_session(work: str):
    from udacity_capstone_data_engineering_spark.session import get_spark

    spark = get_spark(
        master=f"local[{CORES}]",
        shuffle_partitions=CORES,
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.driver.memory": "2g",
            "spark.driver.extraJavaOptions":
                f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} {NO_PERF_DATA}",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_jvm(spark) -> None:
    """Stop the session and wait for the driver JVM to exit."""
    from pyspark import SparkContext

    gateway = spark.sparkContext._gateway
    proc = gateway.proc
    spark.stop()
    gateway.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    proc.stdin.close()
    proc.wait(timeout=60)


def host_ticks() -> tuple[int, int]:
    """Busy and stolen CPU ticks of the whole machine since boot.

    Steal is time a virtual CPU was ready to run while the hypervisor
    ran something else on the physical CPU (``/proc/stat``)."""
    with open("/proc/stat") as f:
        user, nice, system, _idle, _iowait, irq, softirq, steal = map(
            int, f.readline().split()[1:9])
    return user + nice + system + irq + softirq, steal


class Region:
    """Wall time of a block and its steal-free time.

    The steal share is the part of the machine's runnable CPU time that
    the hypervisor withheld during the block, steal / (busy + steal).
    The steal-free time is the wall time with that share taken out: what
    the block would have taken had the host not run other guests on this
    machine's CPUs. Without steal the two are equal."""

    def __enter__(self):
        self._ticks = host_ticks()
        self._t0 = time.perf_counter()
        return self

    def __exit__(self, *exc):
        self.wall_s = time.perf_counter() - self._t0
        busy, steal = (b - a for a, b in zip(self._ticks, host_ticks()))
        share = steal / (busy + steal) if busy + steal else 0.0
        self.steal_free_s = self.wall_s * (1.0 - share)
        return False


class Runner:
    """Times steps; in traced iterations also records spans and counters."""

    def __init__(self, spark, name: str):
        from status import StatusReader
        from spans import Trace

        self.name = name
        self.trace = Trace()
        self.status = StatusReader(spark)
        self.traced = False
        self.iteration = 0
        self.attempted = 0
        self.failed = 0
        self.step_s: Counter = Counter()  # (layer or row) -> seconds, this iteration
        self.steal_free_s = 0.0  # sum of the steps' steal-free times, this iteration
        self.counts: Counter = Counter()  # per-layer counters, this iteration
        self._iter_span = None
        self._step_spans: list[int] = []

    def step(self, name: str, layer: str, fn):
        self.attempted += 1
        w0 = time.time()
        with Region() as region:
            result = fn()
        dt = region.wall_s
        self.steal_free_s += region.steal_free_s
        self.step_s[layer] += dt
        self.step_s[f"row.{name}"] += dt
        if self.traced:
            span = self.trace.add(self._iter_span, self.iteration, name, layer, w0, w0 + dt)
            self._step_spans.append(span)
            jobs, counts = self.status.since_last()
            for job in jobs:
                self.trace.add(span, self.iteration, f"job{job.job_id}", "spark.job",
                               job.start, job.end)
            self.counts.update(counts)
            self.counts[f"{layer}.jobs"] += counts["jobs"]
        return result

    def run_iteration(self, workload, ctx, collect: bool, traced: bool) -> dict:
        """One iteration; returns its metrics (and outputs when collecting)."""
        self.iteration += 1
        ctx.iteration = self.iteration
        self.traced = traced
        self.step_s, self.counts = Counter(), Counter()
        self.steal_free_s = 0.0
        # Collect both heaps first, so a pause left over from the previous
        # iteration does not land inside this one's timed steps.
        gc.collect()
        ctx.spark.sparkContext._jvm.System.gc()
        if traced:
            self.status.since_last()  # drop work done outside the iteration
            self._iter_span = self.trace.add(None, self.iteration, self.name, "iteration",
                                             time.time(), 0.0)
            self._step_spans = []
        outputs = workload.iterate(ctx, self.step, collect)
        wall = sum(v for k, v in self.step_s.items() if not k.startswith("row."))
        rec = {"wall_s": wall, "steal_free_s": self.steal_free_s,
               "step_s": dict(self.step_s), "outputs": outputs}
        if traced:
            # The iteration span also covers the counter reads between
            # steps; its self time is the tracing cost.
            self.trace.spans[self._iter_span].end = time.time()
            rec["counts"] = dict(self.counts)
            # A step's children are its Spark jobs, so its self time is
            # the part of it during which no job ran.
            rec["no_job_s"] = sum(self.trace.self_time(self.trace.spans[i])
                                  for i in self._step_spans)
        return rec


def median(values):
    return statistics.median(values) if values else 0.0


def layer_metrics(session_start_s: float, traced: list[dict], untraced: list[dict],
                  lake_bytes: tuple[int, int], input_bytes: int, recalls: dict[str, float],
                  rss_mb: float) -> dict:
    """Per-layer metrics: medians over the traced iterations."""
    from workloads import APPROX_TOPK, CATALOG_ROWS

    def med_step(key):
        return median([r["step_s"].get(key, 0.0) for r in traced])

    def med_count(key):
        return median([r["counts"].get(key, 0) for r in traced])

    out = {
        "session.start_s": (session_start_s, "s"),
        "sources.read_s": (med_step("sources"), "s"),
        "plans.build_s": (med_step("plans"), "s"),
        "plans.jobs": (med_count("plans.jobs"), "count"),
        "sinks.output_bytes": (lake_bytes[0], "B"),
        "sinks.files_written": (lake_bytes[1], "count"),
        "lake_bytes_per_input_byte": (lake_bytes[0] / input_bytes, "ratio"),
        "qc.s": (med_step("qc"), "s"),
        "qc.jobs": (med_count("qc.jobs"), "count"),
        "star.readback_s": (med_step("star"), "s"),
        "queries.build_s": (med_step("queries.build"), "s"),
        "queries.build_jobs": (med_count("queries.build.jobs"), "count"),
        "queries.exec_s": (med_step("queries.exec"), "s"),
        "queries.exec_jobs": (med_count("queries.exec.jobs"), "count"),
        "driver.no_job_s": (median([r["no_job_s"] for r in traced]), "s"),
        "python.bytes_sent": (med_count("python_bytes_sent"), "B"),
        "driver.jvm_peak_rss_mb": (rss_mb, "MiB"),
        "trace.overhead_s": (median([r["steal_free_s"] for r in traced])
                             - median([r["steal_free_s"] for r in untraced]), "s"),
        "host.raw_wall_s": (median([r["wall_s"] for r in untraced]), "s"),
        "host.steal_share": (
            median([1 - r["steal_free_s"] / r["wall_s"] for r in untraced + traced]), "fraction"),
    }
    for key, unit in [
        ("jobs", "count"), ("stages", "count"), ("tasks", "count"),
        ("task_run_s", "s"), ("task_cpu_s", "s"), ("gc_s", "s"),
        ("input_bytes", "B"), ("shuffle_write_bytes", "B"), ("shuffle_read_bytes", "B"),
        ("spill_bytes", "B"), ("shuffle_fetch_wait_s", "s"), ("failed_tasks", "count"),
    ]:
        out[f"spark.{key}"] = (med_count(key), unit)
    out["spark.slot_busy_frac"] = (
        median([r["counts"].get("task_run_s", 0.0) / (r["wall_s"] * CORES) for r in traced]),
        "fraction",
    )
    for row in CATALOG_ROWS:
        out[f"row.{row}.s"] = (med_step(f"row.{row}"), "s")
    for row in APPROX_TOPK:
        out[f"recall.{row}"] = (recalls.get(f"recall.{row}", 0.0), "fraction")
    return {k: {"value": v, "unit": u} for k, (v, u) in out.items()}


def lake_size(path: str) -> tuple[int, int]:
    """Bytes and data files under a written lake directory."""
    nbytes = files = 0
    for dirpath, _, names in os.walk(path):
        for n in names:
            if n.startswith("part-"):
                nbytes += os.path.getsize(os.path.join(dirpath, n))
                files += 1
    return nbytes, files


def summarize(name: str, values: list[float]) -> str:
    """Median, quartiles, count and the highest percentile with at
    least ten samples beyond it."""
    q = statistics.quantiles(values, n=4) if len(values) > 1 else [values[0]] * 3
    line = f"{name}: median {q[1]:.4f} s, q1 {q[0]:.4f}, q3 {q[2]:.4f}, n={len(values)}"
    if len(values) >= 20:
        pct = int(100 * (1 - 10 / len(values)))
        line += f", p{pct} {statistics.quantiles(values, n=100)[pct - 1]:.4f}"
    return line


def main(argv=None) -> int:
    args = parse_args(argv)
    sys.path.insert(0, ROOT)
    # Fail before starting anything if the program under test is missing.
    import udacity_capstone_data_engineering_spark.session  # noqa: F401
    import numpy as np

    work = os.path.join(RUN_DIR, f"{args.workload}-{os.getpid()}")
    isolate(work)

    from status import jvm_peak_rss_mb
    from workloads import WORKLOADS, Ctx

    workload = WORKLOADS[args.workload]
    spark = None
    try:
        setup_s, session_s = [], []
        for k in range(SETUPS):
            with Region() as region:
                t0 = time.perf_counter()
                if spark is not None:
                    spark.stop()
                spark = start_session(work)
                t1 = time.perf_counter()
                inputs = os.path.join(work, f"inputs{k}")
                shutil.rmtree(os.path.join(work, f"inputs{k - 1}"), ignore_errors=True)
                input_bytes = workload.generate(np.random.default_rng(args.seed), inputs)
            setup_s.append(region.steal_free_s)
            session_s.append(t1 - t0)

        ctx = Ctx(spark, inputs, work)
        runner = Runner(spark, args.workload)
        warm = runner.run_iteration(workload, ctx, collect=True, traced=False)
        checks = workload.check(ctx, warm["outputs"])
        shutil.rmtree(warm["outputs"].get("lake", ""), ignore_errors=True)
        runner.attempted += len(checks)
        for c in checks:
            print(f"check {'ok  ' if c.ok else 'FAIL'} {c.name}: {c.detail}")
            runner.failed += not c.ok
        recalls = {c.name: c.value for c in checks if c.name.startswith("recall.")}
        # The warm-up collects; a second iteration warms the noop-sink
        # path the timed iterations take.
        warm2 = runner.run_iteration(workload, ctx, collect=False, traced=False)
        shutil.rmtree(warm2["outputs"].get("lake", ""), ignore_errors=True)
        setup_total = median(setup_s) + warm["steal_free_s"] + warm2["steal_free_s"]

        untraced, traced = [], []
        lake = (0, 0)
        deadline = time.perf_counter() + args.seconds
        while time.perf_counter() < deadline or len(untraced) + len(traced) < MIN_ITERATIONS:
            # untraced, traced, traced, untraced, ...: a drift in speed
            # over the run does not show up as tracing overhead.
            use_trace = bool(args.trace) and (len(untraced) + len(traced)) % 4 in (1, 2)
            rec = runner.run_iteration(workload, ctx, collect=False, traced=use_trace)
            (traced if use_trace else untraced).append(rec)
            lake_dir = rec["outputs"].get("lake")
            if lake_dir:
                if use_trace:
                    lake = lake_size(lake_dir)
                shutil.rmtree(lake_dir, ignore_errors=True)

        walls = [r["steal_free_s"] for r in untraced]
        print(f"set-ups (steal-free) {[round(s, 3) for s in setup_s]} s")
        for label, r in [("warm-up", warm), ("warm-up", warm2)] + [("timed", r) for r in untraced]:
            print(f"{label} wall {r['wall_s']:.3f} s, steal-free {r['steal_free_s']:.3f} s",
                  {k: round(v, 3) for k, v in r["step_s"].items() if not k.startswith("row.")})
        print(summarize(f"{args.workload} steal-free wall", walls))
        print(f"{args.workload} failed_frac: {runner.failed}/{runner.attempted}")
        rss_mb = jvm_peak_rss_mb(spark)
        print(f"{args.workload} jvm_peak_rss_mb: {rss_mb:.1f} MiB")
        if args.trace:
            out_dir = os.path.join(ROOT, ".perfbench_out")
            os.makedirs(out_dir, exist_ok=True)
            runner.trace.write(os.path.join(out_dir, f"trace_{args.workload}_seed{args.seed}.jsonl"))
            metrics = layer_metrics(median(session_s), traced, untraced, lake, input_bytes,
                                    recalls, rss_mb)
        else:
            metrics = {
                "steal_free_wall_s": {"value": median(walls), "unit": "s"},
                "setup_s": {"value": setup_total, "unit": "s"},
            }
    finally:
        if spark is not None:
            stop_jvm(spark)
        shutil.rmtree(work, ignore_errors=True)

    correct = runner.failed == 0
    print(json.dumps({"correct": correct, "attempted": runner.attempted,
                      "failed": runner.failed, "metrics": metrics}))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
