#!/usr/bin/env python3
"""Benchmark of the knowledge-graph build. See README.md in this directory.

    python3 perfbench/run.py --workload checkpoint_resume --seed 1 \\
        --seconds 10 --trace 0

Runs one workload in a closed loop on ``local[<cores>]`` for ``--seconds``
(at least one operation), checks every operation's outputs outside the
timed window, and prints one JSON object as the last line of stdout. With
``--trace 1`` it then runs one more operation under the per-layer trace
and reports the per-layer metrics instead of the end-to-end ones.

``--pin SEED ...`` builds every workload at each seed, checks triple
precision/recall against the O(n^2) oracle and writes the output digests
into ``pinned.json``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PINNED = os.path.join(HERE, "pinned.json")
# a run must end within 180 s; leave room to stop Spark and clean up
DEADLINE_S = 165


def host_cores() -> int:
    return len(os.sched_getaffinity(0))


def heap_gb() -> int:
    """A quarter of physical memory, between 1 and 4 GiB: in local mode
    every task runs in the one JVM, and the host is shared."""
    with open("/proc/meminfo") as fh:
        total_kb = int(fh.readline().split()[1])
    return max(1, min(4, total_kb // (4 * 1024 * 1024)))


def start_spark(work: str, cores: int, trace: bool):
    from pyspark.sql import SparkSession

    conf = {
        "spark.master": f"local[{cores}]",
        "spark.app.name": "perfbench",
        "spark.driver.memory": f"{heap_gb()}g",
        "spark.sql.shuffle.partitions": str(cores),
        "spark.default.parallelism": str(cores),
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.execution.arrow.pyspark.enabled": "true",
        "spark.sql.execution.arrow.maxRecordsPerBatch": "2048",
        "spark.local.dir": os.path.join(work, "local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        # a fixed, pre-touched heap: the JVM's resident size no longer
        # follows the collector's resizing, so peak RSS moves with the
        # memory outside the heap (Python workers, Arrow and off-heap
        # buffers) and GC runs on the same heap in every run
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} -XX:-UsePerfData "
            f"-Xms{heap_gb()}g -XX:+AlwaysPreTouch",
        "spark.ui.showConsoleProgress": "false",
        # the status REST API serves the trace's job-group metrics
        "spark.ui.enabled": "true" if trace else "false",
        "spark.ui.port": "0",
        "spark.ui.retainedJobs": "100000",
        "spark.ui.retainedStages": "100000",
    }
    builder = SparkSession.builder
    for key, value in conf.items():
        builder = builder.config(key, value)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop the session and wait for the JVM (and its workers) to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway  # noqa: SLF001
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits at end of stdin
        try:
            proc.wait(timeout=10)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def summary(values: list[float]) -> dict:
    """Median with its sample count, and the highest percentile that has
    at least ten samples beyond it (none below twenty samples)."""
    out = {"median": statistics.median(values), "n": len(values)}
    for p in (0.999, 0.99, 0.9):
        if len(values) * (1 - p) >= 10:
            out[f"p{p * 100:g}"] = statistics.quantiles(values, n=1000)[
                round(p * 1000) - 1]
            break
    return out


def run(args, work: str) -> int:
    import proctree
    import workloads
    from tracing import EXTRA_METRICS, LAYER_METRICS, LAYERS, Tracer

    cores = host_cores()
    with open(PINNED) as fh:
        pinned = json.load(fh)
    t0 = time.perf_counter()
    spark = start_spark(work, cores, bool(args.trace))
    try:
        session_s = time.perf_counter() - t0
        wl = workloads.WORKLOADS[args.workload](
            spark, cores, work, args.seed, pinned)
        wl.setup()
        setup_s = time.perf_counter() - t0

        ops = []
        t_loop = time.perf_counter()
        with proctree.PeakRss() as rss:
            while True:
                before = proctree.usage()
                timings = wl.op()
                timings["cpu_s"] = (proctree.usage() - before).cpu_s
                ops.append(timings)
                if len(ops) == wl.min_ops:
                    # the end-to-end figures cover this prefix only
                    prefix_peak = max(rss.peak_bytes, proctree.usage().rss_bytes)
                wl.settle()
                # a traced run needs a warm untraced operation to set the
                # traced one against
                if (time.perf_counter() - t_loop >= args.seconds
                        and len(ops) >= max(wl.min_ops,
                                            wl.cold_ops + args.trace)
                        ) or wl.exhausted():
                    break
        layer = None
        if args.trace:
            tracer = Tracer(spark, cores)
            with tracer.traced() as root:
                traced = wl.op(tracer)
            tracer.release()
            wl.settle()
            layer = tracer.layer_metrics()
            layer["trace.overhead_s"] = root.wall - statistics.median(
                o["op_s"] for o in ops[wl.cold_ops:])
        # the costliest check, a second build to compare against, runs in
        # traced runs only: untraced runs must fit the per-run time budget
        finish = wl.finish(reference=bool(args.trace))
        if layer is not None:
            edges = wl.last["edges"].count()
            layer["materialize.edges_per_triple"] = (
                edges / wl.output_triples if wl.output_triples else 0.0)
        conf = dict(spark.sparkContext.getConf().getAll())
    finally:
        stop_spark(spark)

    attempted = len(ops) + (1 if args.trace else 0)
    build_key = "commit_s" if "commit_s" in ops[0] else "build_s"
    named = {
        key: dict(summary([o[key] for o in ops]), unit="s")
        for key in ops[0]
    }
    named["failed_ratio"] = {"value": wl.failed_ops / attempted, "unit": "ratio"}
    # Operations are not alike (the first pays the JIT; each commit goes
    # into a bigger workspace), and how many fit in --seconds depends on
    # how fast they are. So the end-to-end figures cover only the fixed
    # prefix of wl.min_ops operations every run has; later operations
    # appear in the details.
    prefix = ops[:wl.min_ops]
    e2e = {
        "setup_s": (setup_s, "s"),
        "op_s": (statistics.median(o["op_s"] for o in prefix), "s"),
        "triples_per_s": (statistics.median(
            n / o[build_key] for n, o in zip(wl.op_triples, prefix)),
            "triples/s"),
        "cpu_s": (statistics.median(o["cpu_s"] for o in prefix), "s"),
        "peak_rss_mb": (prefix_peak / 1e6, "MB"),
    }
    details = {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "cores": cores,
        "setup": {"session_s": session_s, "setup_s": setup_s},
        "ops": ops,
        "named": named,
        "finish": finish,
        "pinned_checked": wl.pinned_checked,
        "raw_triples_per_op": wl.op_triples,
        "failures": wl.failures,
        "spark_conf": {k: v for k, v in sorted(conf.items())
                       if not k.startswith(("spark.app.", "spark.driver.host",
                                            "spark.driver.port"))},
    }
    if layer is not None:
        details["traced_op"] = traced
        details["traced_total_s"] = root.wall
        units = {f"{n}.{m}": u for n in LAYERS for m, u in LAYER_METRICS}
        units.update(dict(EXTRA_METRICS))
        metrics = {k: {"value": layer[k], "unit": units[k]} for k in units}
    else:
        metrics = {k: {"value": v, "unit": u} for k, (v, u) in e2e.items()}
    print(json.dumps(details))
    print(json.dumps({
        "correct": not wl.failures,
        "attempted": attempted,
        "failed": wl.failed_ops,
        "metrics": metrics,
    }))
    sys.stdout.flush()
    return 0 if not wl.failures else 1


def pin(work: str, seeds: list[int], workload: str | None) -> int:
    import workloads

    names = [workload] if workload else list(workloads.WORKLOADS)
    cores = host_cores()
    with open(PINNED) as fh:
        out = json.load(fh)
    refused = 0
    spark = start_spark(work, cores, False)
    try:
        for seed in seeds:
            for name in names:
                wl = workloads.WORKLOADS[name](spark, cores, work, seed, {})
                got = wl.pin()
                precision, recall = got["oracle_pr"]
                print(f"{name} seed {seed}: triple P={precision:.4f} "
                      f"R={recall:.4f}", file=sys.stderr)
                if wl.failures or min(precision, recall) < 0.95:
                    print(f"{name} seed {seed}: not pinned: P/R below 0.95 "
                          f"or {wl.failures}", file=sys.stderr)
                    refused += 1
                    out.get(name, {}).pop(str(seed), None)
                else:
                    out.setdefault(name, {})[str(seed)] = got["digests"]
                spark.catalog.clearCache()
                shutil.rmtree(os.path.join(work, "workspace"), ignore_errors=True)
            # written after every seed, so an interrupted pin keeps its work
            with open(PINNED, "w") as fh:
                json.dump(out, fh, indent=2, sort_keys=True)
                fh.write("\n")
    finally:
        stop_spark(spark)
    return 1 if refused else 0


def main() -> int:
    parser = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    parser.add_argument("--workload", choices=(
        "checkpoint_resume", "delta_ingest"))
    parser.add_argument("--seed", type=int, default=42)
    parser.add_argument("--seconds", type=float, default=10)
    parser.add_argument("--trace", type=int, choices=(0, 1), default=0)
    parser.add_argument("--pin", type=int, nargs="+", metavar="SEED",
                        help="pin output digests at these seeds (of "
                        "--workload, or of every workload)")
    args = parser.parse_args()
    if not args.pin and not args.workload:
        parser.error("--workload is required")
    if not os.path.isfile(os.path.join(ROOT, "graphrag_rs_spark", "__init__.py")):
        print("perfbench: graphrag_rs_spark/ not found next to perfbench/; "
              "run from a checkout of the repository", file=sys.stderr)
        return 2

    # everything the run writes stays inside the checkout
    work = os.path.join(ROOT, ".perfbench_work", str(os.getpid()))
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    # the JVM that spark-submit starts to build its command line
    os.environ["SPARK_LAUNCHER_OPTS"] = (
        f"-XX:-UsePerfData -Djava.io.tmpdir={os.environ['TMPDIR']}")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    sys.path.insert(0, ROOT)

    def deadline(signum, frame):
        raise TimeoutError(f"run exceeded {DEADLINE_S} s")

    if not args.pin:
        signal.signal(signal.SIGALRM, deadline)
        signal.alarm(DEADLINE_S)
    try:
        return (pin(work, args.pin, args.workload) if args.pin
                else run(args, work))
    finally:
        signal.alarm(0)
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass  # another run still holds its own directory


if __name__ == "__main__":
    sys.exit(main())
