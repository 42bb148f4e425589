#!/usr/bin/env python3
"""Benchmark of the sis_spark spatial-join and tiling engine.

Run from the root of a checkout:

    python3 perfbench/run.py --workload ingest_batches --seed 1 --seconds 15 --trace 0

One run starts a ``local[nproc]`` session sized to the host, generates the
workload's inputs from ``--seed`` (three times; the median counts towards
set-up), warms up with a few checked operations, then runs operations in a
closed loop with one client for ``--seconds`` (at least four operations)
and checks every output.
The last line of standard output is one JSON object:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

``--trace 0`` reports the end-to-end metrics; ``--trace 1`` is a separate
run that records spans around calls into the engine, alternates traced and
plain operations (the tracing overhead) and reports the per-layer metrics.
The line before the result carries the host, the input sizes and the raw
operation times.  Workloads, metrics and what each layer metric should move
are described in perfbench/README.md.  The command exits 1 when an output is
wrong and 2 when the engine cannot be imported.
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
import traceback

SETUP_REPEATS = 3
# A run times at least four operations, after the workload's warm-up
# ones, and reports their median.  The host's load comes and goes over
# 10-20 s, so a median over a longer stretch of a run is steadier.
MIN_OPS = 4
# A traced run alternates plain and traced operations, plain first, and
# runs at least three plain and two traced ones.
MIN_OPS_TRACED = 5


def host() -> dict:
    ram = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") / 2**30
    return {"nproc": len(os.sched_getaffinity(0)), "ram_gb": round(ram, 2)}


def session_kwargs(h: dict, work: str) -> dict:
    """local[nproc], one shuffle partition per core, a driver heap of RAM/16
    (1-4 GB), Spark local files and JVM temp files inside ``work``.  The heap is
    committed and touched at start-up, so the JVM's RSS does not follow the
    timing of heap growth and ``peak_rss_mb`` varies with what else is
    resident: off-heap and Python worker memory.  The JIT compiles hot
    methods after a tenth of the usual invocation counts: in a trial, kNN
    calls (~40 small Spark jobs, mostly driver-side planning) levelled off
    after about nine calls with it and were still getting faster after 20
    without it, so a run's median followed how far the JIT had got."""
    local, tmp = os.path.join(work, "spark-local"), os.path.join(work, "tmp")
    os.makedirs(local)
    os.makedirs(tmp)
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["TMPDIR"] = tmp
    driver_gb = max(1, min(4, int(h["ram_gb"] // 16)))
    return {
        "app_name": "perfbench",
        "cores": h["nproc"],
        "shuffle_partitions": h["nproc"],
        "extra_conf": {
            "spark.driver.memory": f"{driver_gb}g",
            "spark.local.dir": local,
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData "
                                             f"-Xms{driver_gb}g -XX:+AlwaysPreTouch "
                                             "-XX:CompileThresholdScaling=0.1",
            "spark.ui.showConsoleProgress": "false",
            # plan strings keep whole scan paths (sparkstats.point_scans)
            "spark.sql.maxMetadataStringLength": "1000",
        },
    }


def _med(xs) -> float:
    xs = list(xs)
    return float(statistics.median(xs)) if xs else 0.0


def end_to_end(setup_s, results, peak_mb) -> dict:
    # medians over the operations, so one operation slowed by the host does
    # not move a run's figures
    return {
        "setup_s": (setup_s, "s"),
        "points_per_s": (_med(r.units / r.seconds for r in results), "rows/s"),
        "op_p50_s": (_med(r.seconds for r in results), "s"),
        "peak_rss_mb": (peak_mb, "MB"),
    }


def per_layer(tr, start_s, traced, plain) -> dict:
    """Per-layer metrics from the spans of traced operations ("op-*") and
    their layer-prefix probes ("probe-*").  A layer the workload does not
    call reads 0."""
    op_s = tr.per_op("op")
    plan = tr.per_op("spatial_join.spatial_join")
    enc, cand = tr.per_op("probe.encode", "probe-"), tr.counts("probe.candidates", "rows", "probe-")
    join = tr.per_op("probe.join", "probe-", min)
    tiles = tr.per_op("probe.join_tiles", "probe-", min)
    out_rows = tr.counts("probe.join", "rows", "probe-")
    written, rows_written = tr.counts("op", "bytes_written"), tr.counts("op", "rows_written")
    every = traced + plain
    stages = tr.per_op("checkpoint.stage")
    m = {
        "session.start_s": (start_s, "s"),
        "sources.polygons_load_s": (_med(tr.per_op("sources.polygons_load").values()), "s"),
        "spatial_join.plan_s": (_med(plan.values()), "s"),
        "spatial_join.plan_share": (_med(plan[o] / op_s[o] for o in plan if o in op_s), "ratio"),
        "spatial_join.covering_s": (_med(tr.per_op("spatial_join.polygon_cells").values()), "s"),
        "spatial_join.covering_rows": (_med(tr.counts("spatial_join.polygon_cells", "rows")),
                                       "rows"),
        "cells.encode_s": (_med(enc.values()), "s"),
        "cells.encode_rows": (_med(tr.counts("probe.encode", "rows", "probe-")), "rows"),
        "spatial_join.exec_s": (_med(join[o] - enc[o] for o in join if o in enc), "s"),
        "spatial_join.candidate_rows": (_med(cand), "rows"),
        "spatial_join.sure_rows": (_med(tr.counts("probe.candidates", "sure", "probe-")), "rows"),
        "spatial_join.output_rows": (_med(out_rows), "rows"),
        "spatial_join.useful_ratio": (_med(out_rows) / _med(cand) if cand else 0.0, "ratio"),
        "spatial_join.point_scans": (_med(tr.counts("op", "point_scans")), "count"),
        "tiling.assign_s": (_med(tiles[o] - join[o] for o in tiles if o in join), "s"),
        "checkpoint.stage_s": (_med(stages.values()), "s"),
        "checkpoint.bytes_written": (_med(written), "bytes"),
        "checkpoint.bytes_per_row": (sum(written) / sum(rows_written) if rows_written else 0.0,
                                     "B/row"),
        # an ingest operation is one stage() call under its own job group
        "checkpoint.jobs_per_stage": (_med(r.spark["jobs"] for r in every) if stages else 0.0,
                                      "count"),
        "knn.call_s": (_med(tr.per_op("knn.knn_join_cells").values()), "s"),
        "knn.jobs_per_call": (_med(r.spark.get("call_jobs", 0) for r in every), "count"),
        "spark.jobs_per_op": (_med(r.spark["jobs"] for r in every), "count"),
        "spark.stages_per_op": (_med(r.spark["stages"] for r in every), "count"),
        "spark.tasks_per_op": (_med(r.spark["tasks"] for r in every), "count"),
        "spark.failed_tasks": (sum(r.spark["failed_tasks"] for r in every), "count"),
        # fastest against fastest, so the slow first operation (plain) drops out
        "trace.overhead_ratio": (min(r.seconds for r in traced)
                                 / min(r.seconds for r in plain), "ratio"),
    }
    return m


def run(args, root: str, work: str) -> tuple[dict, dict]:
    import sparkstats
    import spans
    from workloads import SIZES, WORKLOADS

    import sis_spark.session as session

    h = host()
    tr = spans.Tracer(enabled=bool(args.trace))
    tr.install()
    tr.op_id = "setup"
    t0 = time.perf_counter()
    spark = session.get_spark(**session_kwargs(h, work))
    start_s = time.perf_counter() - t0
    try:
        wl = WORKLOADS[args.workload](spark, tr, args.seed, work)
        prep = []
        for r in range(SETUP_REPEATS):
            if r:
                shutil.rmtree(os.path.join(work, f"inputs-{r - 1}"))
            t0 = time.perf_counter()
            wl.prepare(os.path.join(work, f"inputs-{r}"))
            prep.append(time.perf_counter() - t0)
        tr.op_id = "warmup"
        t0 = time.perf_counter()
        warm = [wl.op(-1 - w, probe=False) for w in range(wl.warmup_ops)]
        warm_s = time.perf_counter() - t0
        setup_s = start_s + _med(prep) + warm_s

        ops, failed = [], sum(not r.ok for r in warm)   # ops: (result, traced)
        jvm_pid = spark.sparkContext._gateway.proc.pid
        peak_mb = sparkstats.tree_rss_mb(jvm_pid)
        t_start = time.perf_counter()
        i, min_ops = 0, MIN_OPS_TRACED if args.trace else MIN_OPS
        while i < min_ops or time.perf_counter() - t_start < args.seconds:
            is_traced = bool(args.trace) and i % 2 == 1
            tr.active = is_traced
            if is_traced:
                tr.install()
            else:
                tr.uninstall()
            tr.op_id = f"op-{i}" if is_traced else f"plain-{i}"
            try:
                res = wl.op(i, probe=is_traced)
            except Exception:   # a failed operation is counted, the loop goes on
                traceback.print_exc()
                failed += 1
            else:
                failed += int(not res.ok)
                ops.append((res, is_traced))
            peak_mb = max(peak_mb, sparkstats.tree_rss_mb(jvm_pid))
            i += 1
        wall_s = time.perf_counter() - t_start
        tr.uninstall()
        attempted = i + len(warm)   # the checked warm-up operations count too
        done = [r for r, _ in ops]
        if not done:
            raise RuntimeError("every operation failed")
        if args.trace:
            metrics = per_layer(tr, start_s, [r for r, t in ops if t],
                                [r for r, t in ops if not t])
            tr.dump(os.path.join(root, ".perfbench",
                                 f"trace-{args.workload}-seed{args.seed}.json"))
        else:
            metrics = end_to_end(setup_s, done, peak_mb)
        info = {"workload": args.workload, "seed": args.seed, "host": h,
                "sizes": SIZES[args.workload], "session_start_s": start_s,
                "prepare_s": prep, "warmup_s": warm_s, "timed_wall_s": wall_s,
                "op_seconds": [r.seconds for r in done], "spark_per_op": done[0].spark}
        result = {"correct": failed == 0, "attempted": attempted, "failed": failed,
                  "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}}
        return info, result
    finally:
        gateway = spark.sparkContext._gateway
        spark.stop()
        # The JVM (and the Python workers under it) exits once its stdin is
        # closed; wait for it so that no process outlives the run.
        gateway.shutdown()
        gateway.proc.stdin.close()
        try:
            gateway.proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            gateway.proc.kill()
            gateway.proc.wait()


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "sis_spark", "__init__.py")):
        print("perfbench: no sis_spark/ package in the current directory; "
              "run from the root of a checkout", file=sys.stderr)
        return 2
    sys.path.insert(0, root)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (root, os.environ.get("PYTHONPATH")) if p)
    from workloads import WORKLOADS
    if args.workload not in WORKLOADS:
        ap.error(f"--workload must be one of {sorted(WORKLOADS)}")

    # SIGTERM unwinds like an error: the session stops, ``work`` is removed
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    work = os.path.join(root, ".perfbench", f"{args.workload}-seed{args.seed}-{os.getpid()}")
    os.makedirs(work)
    try:
        info, result = run(args, root, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(info))
    print(json.dumps(result))
    return 0 if result["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
