"""Benchmark entry point.

    python3 perfbench/run.py --workload tower_incremental --seed 1 --seconds 12 --trace 0

Run from the repository root. Inputs are generated from ``--seed`` under
``.bench_work/`` (emptied at start and removed at exit); one process
drives a local Spark session on every core. The run sets up (session,
inputs, warm-up), then makes a fixed number of repetitions for the given
``--seconds``, checking every repetition's output. The last stdout
line is one JSON object: ``correct``, ``attempted``, ``failed`` and
``metrics`` -- the end-to-end metrics with ``--trace 0``; with
``--trace 1`` two untraced and one traced repetition, and the per-layer
metrics from the spans and Spark's event log.
"""

from __future__ import annotations

import time

T0 = time.perf_counter()

import argparse  # noqa: E402
import gc  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import resource  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)

WORKLOADS = ("tower_incremental", "corpus_dedup")
MIN_REPS = 2


def start_spark(work: str, trace: bool):
    from cafmeteorologyectower_azuredatalakeprocessingscripts_spark.session import (
        get_spark,
    )

    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    # keep every file the JVM and py4j write inside the checkout
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    # the program's own engine defaults (heap, shuffle partitions, AQE);
    # only where files go is set here, so that nothing is written
    # outside the checkout (the JVM's perf-data file goes to /tmp)
    conf = {
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.extraJavaOptions": f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}",
    }
    if trace:
        events = os.path.join(work, "events")
        os.makedirs(events)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": f"file://{events}",
            # Spark 4.1 compresses event logs with zstd by default
            "spark.eventLog.compress": "false",
        })
    cores = len(os.sched_getaffinity(0))
    spark = get_spark("perfbench", master=f"local[{cores}]", extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop the session and wait for the JVM to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits on EOF
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)
    SparkContext._gateway = None
    SparkContext._jvm = None


def settle(spark) -> None:
    """Start each repetition from the same state: drop cached blocks and
    release the py4j proxies the last repetition left behind."""
    spark.catalog.clearCache()
    gc.collect()


def peak_rss_mb() -> float:
    """Peak resident memory of this process plus every live descendant
    (the JVM and its workers), each from its own high-water mark."""
    parent: dict[int, int] = {}
    for pid in os.listdir("/proc"):
        if not pid.isdigit():
            continue
        try:
            with open(f"/proc/{pid}/stat") as f:
                parent[int(pid)] = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
    me = os.getpid()
    tree, frontier = set(), [me]
    while frontier:
        p = frontier.pop()
        kids = [c for c, pp in parent.items() if pp == p and c not in tree]
        tree.update(kids)
        frontier += kids
    kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    for pid in tree:
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        kb += int(line.split()[1])
        except OSError:
            continue
    return kb / 1024


def make_workload(name: str, spark, work: str, seed: int):
    import corpus
    import tower

    return {
        "tower_incremental": tower.Incremental,
        "corpus_dedup": corpus.CorpusDedup,
    }[name](spark, work, seed)


def log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def metric(value: float, unit: str) -> dict:
    return {"value": value, "unit": unit}


def _ratio(a: float, b: float) -> float:
    # a failed run (empty output) still gets a result line
    return a / b if b else 0.0


def end_to_end(its, setup_s: float) -> dict:
    wall = statistics.median(it.wall_s for it in its)
    rows = statistics.median(it.rows_in for it in its)
    amp = statistics.median(_ratio(it.bytes_out, it.bytes_in) for it in its)
    recall = statistics.median(_ratio(*it.recall) for it in its)
    return {
        "setup_s": metric(setup_s, "s"),
        "wall_s": metric(wall, "s"),
        "rows_per_s": metric(rows / wall, "rows/s"),
        "write_amp": metric(amp, "ratio"),
        "dedup_recall": metric(recall, "ratio"),
    }


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    work = os.path.join(ROOT, ".bench_work")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    sys.path.insert(0, HERE)
    spark = start_spark(work, bool(args.trace))
    log(f"session {time.perf_counter() - T0:.2f} s")
    try:
        wl = make_workload(args.workload, spark, work, args.seed)
        wl.setup()
        # untimed but checked repetitions: after the set-up the JVM is
        # still warming, and the first repetitions' times fall steeply
        warm = []
        for i in range(wl.warmup_reps):
            settle(spark)
            warm.append(wl.iteration())
            log(f"warm-up run {i + 1}/{wl.warmup_reps} {warm[-1].wall_s:.2f} s")
        setup_s = time.perf_counter() - T0
        log(f"setup {setup_s:.2f} s")
        if not args.trace:
            # a fixed number of repetitions for a given --seconds, however
            # fast the box is today, so the median is always taken over
            # the same repetitions
            reps = max(MIN_REPS, round(args.seconds / wl.rep_s))
            its = []
            for i in range(reps):
                settle(spark)
                its.append(wl.iteration())
                log(f"run {i + 1}/{reps} {its[-1].wall_s:.2f} s")
            metrics = end_to_end(its, setup_s)
        else:
            from spans import Tracer, read_event_log

            import layers

            # the traced repetition is compared with the second untraced one
            its = []
            for _ in range(2):
                settle(spark)
                its.append(wl.iteration())
            log(f"untraced runs {its[0].wall_s:.2f} s, {its[1].wall_s:.2f} s")
            tracer = Tracer(spark, f"{args.workload}-{args.seed}")
            stats: dict = {}
            settle(spark)
            its.append(wl.traced(tracer, stats))
            tracer.close()
            stats["peak_rss_mb"] = peak_rss_mb()
            spans_dir = os.path.join(ROOT, ".bench_trace")
            os.makedirs(spans_dir, exist_ok=True)
            tracer.dump(os.path.join(spans_dir, f"{args.workload}-seed{args.seed}.jsonl"))
    finally:
        stop_spark(spark)
    if args.trace:
        per_span = read_event_log(os.path.join(work, "events"))
        metrics = layers.compute(tracer, per_span, stats, its[2].wall_s - its[1].wall_s)
        units = {n: u for n, u, _ in layers.spec()}
        metrics = {n: metric(v, units[n]) for n, v in metrics.items()}
    failed = [j for it in warm + its for j in it.jobs if not j.ok]
    for j in failed:
        print(f"FAILED {j.label}: {j.error}", file=sys.stderr)
    shutil.rmtree(work, ignore_errors=True)
    print(json.dumps({
        "correct": not failed,
        "attempted": sum(len(it.jobs) for it in warm + its),
        "failed": len(failed),
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
