#!/usr/bin/env python3
"""Benchmark of the xhs_ocr_spark engine, one workload per run.

    python3 perfbench/run.py --workload extract_text --seed 1 --seconds 20 --trace 0

Run it from the repository root. A run starts one Spark driver at
``local[<cpus / 2>]`` and stages the workload's seeded input (set-up). Then it
runs one operation at a time for ``--seconds`` seconds: a closed loop with
a single caller. The last stdout line is one JSON object with the keys
``correct``, ``attempted``, ``failed`` and ``metrics``. With ``--trace 0``
the metrics are the ``end_to_end`` metrics of ``BENCHMARK.json``; with
``--trace 1`` they are its ``per_layer`` metrics. A traced run also writes
its spans and per-layer self times to
``perfbench/out/trace-<workload>-<seed>.json``. Everything a run writes
stays under ``perfbench/``.
"""

from __future__ import annotations

import argparse
import gc
import json
import os
import shutil
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
MIN_OPS = 5  # measured operations per run, at least
WARM_OPS = 2  # untimed operations after staging (JIT, Python workers, broadcasts)
SETUP_REPS = 3  # input stagings per run; setup_s takes their median
DRIVER_MEM = "2g"  # also the initial heap, so heap growth does not vary run to run
# C1 only: with C2, per-JVM compilation decisions moved run medians 15-20%
# apart on a 4-CPU box; C1 alone cut the spread of 5 seeds from 0.20 to
# 0.04, at up to 25% more time per operation
JIT = "-XX:TieredStopAtLevel=1"
# a fixed young generation and no adaptive sizing, so every operation
# collects the same way; about 15% less CPU per operation than G1
GC = "-XX:+UseParallelGC -Xmn768m -XX:-UseAdaptiveSizePolicy"


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def start_session(work: str, cores: int, traced: bool):
    """``get_spark`` plus the benchmark's own session config: every scratch
    path inside ``work``, and the JSON event log for traced runs only."""
    tmp = os.path.join(work, "tmp")
    for sub in ("tmp", "local", "events"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    os.environ["TMPDIR"] = tmp
    # one string-hash seed for every Python worker, so dict and set layouts
    # (and their cost) do not change from run to run
    os.environ["PYTHONHASHSEED"] = "0"
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    import tempfile

    tempfile.tempdir = tmp
    from xhs_ocr_spark.session import get_spark

    conf = {
        "spark.driver.memory": DRIVER_MEM,
        "spark.driver.extraJavaOptions": (
            f"-Xms{DRIVER_MEM} {JIT} {GC} -XX:ParallelGCThreads={cores} -Djava.io.tmpdir={tmp}"
        ),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
    }
    if traced:
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + os.path.join(work, "events"),
            "spark.eventLog.compress": "false",
        })
    return get_spark("perfbench", cores=cores, extra_conf=conf)


def stop_session(spark) -> None:
    """Stop Spark and wait until the JVM it launched has exited."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = gateway.proc
    gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    proc.stdin.close()  # the gateway JVM exits when its stdin closes
    try:
        proc.wait(timeout=60)
    except Exception:
        proc.kill()
        proc.wait()


class Loop:
    """The measured closed loop: one operation at a time, each under its
    own job group, checked against the run's first digest and for failed
    Spark tasks. Besides its wall time, each operation's CPU seconds over
    the JVM, its Python workers and this process are recorded."""

    def __init__(self, wl, groups) -> None:
        from measure import tree_cpu_s

        self.wl = wl
        self.groups = groups
        jvm = groups.sc._gateway.proc.pid
        self.cpu_s = lambda: tree_cpu_s(jvm) + sum(os.times()[:2])
        self.walls: list[float] = []
        self.cpus: list[float] = []
        self.jobs: list[int] = []
        self.failed = 0
        self.failed_tasks = 0
        self.first = None

    def __call__(self) -> float:
        # start every operation from collected heaps, so garbage and
        # uncleaned shuffles of earlier operations do not slow later ones
        gc.collect()
        self.groups.sc._jvm.System.gc()
        group = self.groups.next(f"{self.wl.name} operation")
        c0 = self.cpu_s()
        t0 = time.perf_counter()
        try:
            d = self.wl.op()
        except Exception:
            traceback.print_exc(file=sys.stderr)
            d = None
        dt = time.perf_counter() - t0
        self.cpus.append(self.cpu_s() - c0)
        self.groups.clear()
        jobs, bad = self.groups.stats(group)
        self.jobs.append(jobs)
        self.failed_tasks += bad
        self.first = d if self.first is None else self.first
        if d is None or bad or d != self.first or d[0] == 0:
            self.failed += 1
        self.walls.append(dt)
        return dt


def result_line(spec_metrics, values: dict, correct: bool, attempted: int, failed: int) -> str:
    names = {m["name"] for m in spec_metrics}
    unknown = set(values) - names
    if unknown:
        raise KeyError(f"metrics missing from BENCHMARK.json: {sorted(unknown)}")
    metrics = {
        m["name"]: {"value": float(values.get(m["name"], 0.0)), "unit": m["unit"]}
        for m in spec_metrics
    }
    return json.dumps(
        {"correct": bool(correct), "attempted": attempted, "failed": failed, "metrics": metrics}
    )


def trace_metrics(args, wl, rec, log_dir: str, layer: dict, loop: Loop, cores: int) -> dict:
    """Event-log and job metrics of the traced run; writes the trace file
    (spans, per-span self times, event-log bytes per job group)."""
    from measure import event_log_bytes, median

    log = event_log_bytes(log_dir)

    def full_op_mb(key: str) -> float:
        return median(
            log.get(s["group"], {}).get(key, 0) / 2**20
            for s in rec.spans if s["name"] == "pipeline.reassemble"
        )

    out = {
        "spark.jobs": median(loop.jobs),
        "spark.cpu_s": median(loop.cpus),
        "spark.failed_tasks": loop.failed_tasks,
        "pipeline.shuffle_write_mb": full_op_mb("shuffle_write"),
        "pipeline.spill_mb": full_op_mb("spill_disk"),
        "trace.overhead_s": layer["trace.wall_s"] - layer["trace.untraced_wall_s"],
        "trace.accounted_share": layer["trace.layers_s"] / layer["trace.wall_s"],
    }
    os.makedirs(os.path.join(HERE, "out"), exist_ok=True)
    path = os.path.join(HERE, "out", f"trace-{wl.name}-{args.seed}.json")
    t0 = min(s["start"] for s in rec.spans)
    with open(path, "w") as fh:
        json.dump({
            "workload": wl.name,
            "seed": args.seed,
            "cores": cores,
            "spans": [dict(s, start=s["start"] - t0, end=s["end"] - t0) for s in rec.spans],
            "self_time_s": {n: median(v) for n, v in rec.self_times().items()},
            "event_log": log,
            "per_layer": {**layer, **out},
        }, fh, indent=1)
    print(f"# trace written to {os.path.relpath(path, ROOT)}")
    return out


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "xhs_ocr_spark")):
        print(f"no xhs_ocr_spark package under {ROOT}: run from a full checkout",
              file=sys.stderr)
        return 2
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    sys.path.insert(0, ROOT)
    from measure import JobGroups, SpanRecorder, median, peak_rss_mb
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    # half the CPUs: each Spark task of the Python stage keeps about two
    # threads busy (the JVM task feeding Arrow batches and its Python
    # worker), and GC and JIT threads need room besides. At local[4] on a
    # 4-CPU box an operation took 2.3-2.7 s against 1.7-1.9 s at local[2].
    cores = max(1, len(os.sched_getaffinity(0)) // 2)
    work = os.path.join(HERE, "work", f"{args.workload}-{args.seed}-{os.getpid()}")
    spark = None
    try:
        # ---- set-up: session, SETUP_REPS stagings, the warm-up operations ----
        t0 = time.perf_counter()
        spark = start_session(work, cores, bool(args.trace))
        spark.range(1).collect()
        session_s = time.perf_counter() - t0
        wl = WORKLOADS[args.workload](spark, args.seed, work)
        stage_s = []
        for _ in range(SETUP_REPS):
            t0 = time.perf_counter()
            wl.stage()
            stage_s.append(time.perf_counter() - t0)
        wl.open()
        t0 = time.perf_counter()
        for _ in range(WARM_OPS):
            wl.op()
        warm_s = time.perf_counter() - t0
        setup_s = session_s + median(stage_s) + warm_s

        # ---- measured run ----
        loop = Loop(wl, JobGroups(spark.sparkContext, "op"))
        deadline = time.perf_counter() + args.seconds
        if args.trace:
            rec = SpanRecorder(JobGroups(spark.sparkContext, "span"))
            layer = wl.trace(rec, loop, deadline)
        else:
            while len(loop.walls) < MIN_OPS or time.perf_counter() < deadline:
                loop()

        # ---- checks ----
        match = wl.oracle_match_rate()
        problems = list(wl.problems())
        if match != 1.0:
            problems.append(f"oracle match rate {match}")
        if loop.failed:
            problems.append(f"{loop.failed} of {len(loop.walls)} operations failed")
        rss = peak_rss_mb(spark.sparkContext._gateway.proc.pid)
        stop_session(spark)
        spark = None

        wall = median(loop.walls)
        e2e = {
            "docs_per_s": wl.n_docs / wall,
            "wall_s": wall,
            "setup_s": setup_s,
            "oracle_match_rate": match,
            "peak_rss_mb": rss,
        }
        print(f"# {wl.name} seed={args.seed} local[{cores}] ops={len(loop.walls)} "
              f"error_rate={loop.failed / len(loop.walls):.4f} "
              f"failed_tasks={loop.failed_tasks} jobs/op={median(loop.jobs):g}")
        print(f"# operation walls: {' '.join(f'{w:.3f}' for w in loop.walls)} s")
        print(f"# operation cpu: {' '.join(f'{w:.3f}' for w in loop.cpus)} s")
        print(f"# set-up: session {session_s:.2f} s, stagings "
              f"{', '.join(f'{s:.2f}' for s in stage_s)} s, warm-up {warm_s:.2f} s")
        units = {m["name"]: m["unit"] for m in spec["end_to_end"]}
        for k, v in e2e.items():
            print(f"#   {k:<20} {v:14.4f} {units[k]}")
        for p in problems:
            print(f"# PROBLEM: {p}")
        if args.trace:
            layer.update(trace_metrics(
                args, wl, rec, os.path.join(work, "events"), layer, loop, cores
            ))
            line = result_line(
                spec["per_layer"], layer, not problems, len(loop.walls), loop.failed
            )
        else:
            line = result_line(
                spec["end_to_end"], e2e, not problems, len(loop.walls), loop.failed
            )
    finally:
        if spark is not None:
            stop_session(spark)
        shutil.rmtree(work, ignore_errors=True)
    sys.stdout.flush()
    print(line)
    return 0


if __name__ == "__main__":
    sys.exit(main())
