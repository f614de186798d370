#!/usr/bin/env python3
"""Seeded, oracle-checked benchmark of geozero-spark batch jobs.

Run from the root of a source checkout:

    python3 perfbench/run.py --workload geo_tiles --seed 1 --seconds 12 \
        --trace 0 [--cpus N]

One driver process runs closed-loop batch jobs on ``local[cpus]``: one
job at a time, the next issued when the previous one completes. A run

1. generates the seeded inputs (documents, nation, embeddings parquet)
   and starts a host-fitted session (setup);
2. runs every job once, cold, as the verification pass, checking its
   outputs against the DuckDB twins in ``geozero_spark/oracles.py`` or
   a bit-identical cross-path twin, and records each sink's digest
   (setup, except the DuckDB and collect time of the checks);
3. repeats rounds of all jobs until ``--seconds`` have passed and at
   least ``MIN_ROUNDS`` rounds ran, so every job latency is a median of
   three or more samples; every timed job must reproduce the verified
   digests, and a mismatch or error counts as failed.

``--trace 0`` reports the end-to-end metrics; ``--trace 1`` makes one
traced run instead and reports the per-layer metrics (spans are kept in
memory and written to ``.perfbench_out/`` when the run ends).
``--cpus N`` pins the whole process tree to cores 0..N-1 (the affinity
mask the JVM and the Python workers inherit) and runs ``local[N]``.

The last line of standard output is one JSON object with the keys
``correct``, ``attempted``, ``failed`` and ``metrics``. The human
readable table above it prints every job latency with its sample
count. Exit code 2 means the program under test is missing.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

# gated end-to-end metrics; wall_s and rows_per_s are printed and kept in
# the result file but not gated (NOTES.md: this host's speed swings more
# between runs than any admissible bound)
END_TO_END = {"setup_s": "s", "peak_rss_mb": "MB"}
UNGATED = {"wall_s": "s", "rows_per_s": "rows/s"}
# per-layer metrics of the traced run (BENCHMARK.json lists the same)
PER_LAYER = {
    "driver.call_s": "s", "driver.residue_s": "s",
    "jvm.executor_run_s": "s", "jvm.executor_cpu_s": "s", "jvm.gc_s": "s",
    "jvm.stages": "count", "jvm.tasks": "count",
    "jvm.core_busy_ratio": "ratio",
    "codegen.pipeline_s": "s",
    "python.boot_s": "s", "python.init_s": "s", "python.compute_s": "s",
    "python.bytes_sent": "B", "python.bytes_recv": "B",
    "exchange.bytes": "B", "exchange.write_s": "s",
    "exchange.fetch_wait_s": "s", "exchange.partitions": "count",
    "memory.spill_bytes": "B", "memory.peak_exec_bytes": "B",
    "sources.scan_rows": "count", "sources.scan_bytes": "B",
    "sources.files_read": "count",
    "trace.wall_s": "s", "trace.overhead_s": "s",
    "pip_join.refine_hit_ratio": "ratio",
    "pip_join.prep_cache_hit_ratio": "ratio",
    "mvt.features_per_tile": "count", "mvt.py_bytes_per_feature": "B",
    "bbox.files_pruned_ratio": "ratio", "bbox.useful_row_ratio": "ratio",
    "stage_write.write_tasks": "count", "stage_write.files": "count",
    "kernel.wkt.decode_us": "us", "kernel.wkb.roundtrip_us": "us",
    "kernel.geojson.encode_us": "us", "kernel.mvt.encode_tile_us": "us",
    "kernel.pip.points_in_polygon_np_ns": "ns",
    "operators.mvt_fast.encode_tile_cols_us": "us",
    "operators.knn.local_topk_us": "us",
    "operators.similarity.cosine_fold_us": "us",
}
# traced-run extras of the neighbors workload
NEIGHBORS_LAYER = {
    "knn.grid_jobs": "count", "knn.broadcast_jobs": "count",
    "knn.pairs_per_result": "count", "ann_lsh.candidates_per_query": "count",
    "near_dup.verified_pair_ratio": "ratio",
    "dup_clusters.driver_jobs": "count",
}
TRACE_ROUNDS = 2
# the first timed execution of a job still runs 10-40% slow (JIT
# warm-up); a median over three or more samples leaves it out
MIN_ROUNDS = 3


def _args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True,
                   choices=("geo_tiles", "neighbors", "stage_io"))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--cpus", type=int, default=None)
    return p.parse_args(argv)


def _walls_by_job(results: list, jobs: list) -> dict:
    return {j.name: [r.wall_s for r in results if r.name == j.name]
            for j in jobs}


def _rounds(spark, wl, expected, seconds, tracer=None, rounds=None,
            mem=None):
    """Closed loop: whole rounds of every job until ``seconds`` pass and
    ``MIN_ROUNDS`` rounds ran (or exactly ``rounds`` rounds). With
    ``mem``, also returns each round's memory peak."""
    from harness import run_job
    results, peaks, t0, i = [], [], time.perf_counter(), 0
    if mem is not None:
        mem.take()
    while True:
        for job in wl.jobs:
            r, _ = run_job(spark, job, expected[job.name], tracer)
            results.append(r)
        if mem is not None:
            peaks.append(mem.take())
        i += 1
        if rounds is not None:
            if i >= rounds:
                break
        elif i >= MIN_ROUNDS and time.perf_counter() - t0 >= seconds:
            break
    return (results, peaks) if mem is not None else results


def bench(args, work: str) -> tuple[dict, dict]:
    import gen
    import harness as H
    import workloads as W

    cpus = args.cpus or len(os.sched_getaffinity(0))
    heap = H.driver_heap_mb(H.mem_available_mb())
    host = H.host_record(cpus, heap)
    size = W.SIZES[args.workload]

    tracer = None
    ticks = H.cpu_ticks()
    t_setup = time.perf_counter()
    phases = {}

    def phase(name):
        phases[name] = time.perf_counter() - t_setup - sum(phases.values())

    in_dir = gen.write_inputs(os.path.join(work, "input"), args.seed,
                              size["docs"], size["vecs"])
    oracle = H.Oracle(in_dir)
    phase("inputs")
    spark = H.make_bench_session(cpus, heap, work)
    phase("session")
    try:
        if args.trace:
            from spans import Tracer
            tracer = Tracer(spark, f"{args.workload}-{args.seed}")
            with tracer.span("setup:inputs", kind="setup"):
                wl = W.WORKLOADS[args.workload](spark, in_dir, work, oracle)
        else:
            wl = W.WORKLOADS[args.workload](spark, in_dir, work, oracle)
        phase("stored_inputs")

        # verification pass: first execution of every job; the checks'
        # own DuckDB + collect time is excluded from setup_s
        check_s, expected, failed_checks, cold = 0.0, {}, [], {}
        counts = dict(wl.counts)
        for job in wl.jobs:
            r, ctx = H.run_job(spark, job, None)
            cold[job.name] = r.wall_s
            t0 = time.perf_counter()
            try:
                if not r.ok:
                    raise H.Mismatch(r.error)
                job.verify(ctx, ctx.frames, oracle)
            except Exception as e:  # a wrong result is a measured outcome
                failed_checks.append(f"{job.name}: {type(e).__name__}: "
                                     f"{str(e).splitlines()[0][:300]}")
            for df in ctx.frames.values():
                df.unpersist()
            check_s += time.perf_counter() - t0
            expected[job.name] = ctx.digests
            counts.update(ctx.counts)
        phase("verify_pass")
        setup_s = time.perf_counter() - t_setup - check_s

        if args.trace:
            out = traced(args, spark, wl, expected, tracer, counts)
            results = out.pop("_results")
        else:
            with H.MemSampler() as mem:
                results, peaks = _rounds(spark, wl, expected, args.seconds,
                                         mem=mem)
            out = {}
    finally:
        H.stop_session(spark)
        oracle.close()

    lat = _walls_by_job(results, wl.jobs)
    job_med = {k: H.median(v) for k, v in lat.items()}
    wall = sum(job_med.values())
    report = {
        "workload": args.workload, "seed": args.seed, "host": host,
        "input_rows": wl.input_rows, "sizes": size,
        "setup_phases_s": phases, "cold_walls_s": cold, "check_s": check_s,
        "check_times_s": oracle.times,
        "checks": failed_checks or "all verified",
        "jobs": {k: {"median_s": job_med[k], "samples": len(v),
                     "walls": v} for k, v in lat.items()},
        "latencies": {m: {"value": sum(job_med[j] for j in js),
                          "samples": min(len(lat[j]) for j in js)}
                      for m, js in wl.latencies.items()},
    }
    if args.trace:
        metrics = out
    else:
        # each round's peak, so a burst of forked workers in one round
        # does not set the figure
        metrics = {"setup_s": setup_s,
                   "peak_rss_mb": H.median([p[0] + p[1] for p in peaks])}
        report["ungated"] = {"wall_s": wall,
                             "rows_per_s": wl.input_rows / wall}
    report["host"]["cpu_steal_share"] = H.steal_share(ticks, H.cpu_ticks())
    if not args.trace:
        report["round_peaks_jvm_workers_mb_n"] = peaks
    bad = [r for r in results if not r.ok]
    report["errors"] = sorted({r.error for r in bad})[:5]
    summary = {"correct": not failed_checks and not bad,
               "attempted": len(results) + len(wl.jobs),
               "failed": len(bad) + len(failed_checks),
               "metrics": metrics}
    return summary, report


def traced(args, spark, wl, expected, tracer, counts) -> dict:
    """Per-layer metrics: after one more warm round, ``TRACE_ROUNDS``
    traced rounds alternate with as many untraced ones (the overhead
    baseline); additive layer metrics are reported per traced round."""
    import harness as H
    import kernels

    _rounds(spark, wl, expected, 0, rounds=1)
    base, results = [], []
    for _ in range(TRACE_ROUNDS):
        base += _rounds(spark, wl, expected, 0, rounds=1)
        results += _rounds(spark, wl, expected, 0, tracer, rounds=1)

    def round_wall(rs):
        return sum(H.median(v) for v in _walls_by_job(rs, wl.jobs).values())

    traced_round = round_wall(results)
    base_round = round_wall(base)
    jobs = tracer.jobs

    def total(key, names=None):
        return sum(j.get(key, 0.0) for j in jobs
                   if names is None or j["job"] in names) / TRACE_ROUNDS

    def node_rows(node, names):
        return sum(j["node_rows"].get(node, 0.0) for j in jobs
                   if j["job"] in names) / TRACE_ROUNDS

    m = {k: total(k) for k in (
        "driver.call_s", "driver.residue_s", "jvm.executor_run_s",
        "jvm.executor_cpu_s", "jvm.gc_s", "jvm.stages", "jvm.tasks",
        "codegen.pipeline_s", "python.boot_s", "python.init_s",
        "python.bytes_sent", "python.bytes_recv", "exchange.bytes",
        "exchange.write_s", "exchange.fetch_wait_s", "exchange.partitions",
        "memory.spill_bytes", "sources.scan_rows", "sources.scan_bytes",
        "sources.files_read")}
    # Spark's "time to run Python workers"; its init-time metric is kept
    # as reported (on reused workers it exceeds the task's wall time)
    m["python.compute_s"] = total("python.run_s")
    m["memory.peak_exec_bytes"] = max(
        (j["memory.peak_exec_bytes"] for j in jobs), default=0.0)
    m["jvm.core_busy_ratio"] = m["jvm.executor_run_s"] / (
        traced_round * len(os.sched_getaffinity(0)))
    m["trace.wall_s"] = traced_round
    m["trace.overhead_s"] = traced_round - base_round

    def ratio(a, b):
        return a / b if b else 0.0

    names = {j.name for j in wl.jobs}
    pip_rows = sum(j["rows"].get("pip", 0) for j in jobs) / TRACE_ROUNDS
    m["pip_join.refine_hit_ratio"] = ratio(
        pip_rows, node_rows("BroadcastHashJoin", {"pip_join"}))
    pip_calls = [j for j in jobs if j["job"] == "pip_join"]
    m["pip_join.prep_cache_hit_ratio"] = ratio(
        sum(j.get("count.pip_prep_cache_hit", 0) for j in pip_calls),
        len(pip_calls))
    if "knn" in names:
        # neighbors is runnable but not in the gated set (see NOTES.md)
        knn_calls = [j for j in jobs if j["job"] == "knn"]
        grid = sum(j.get("count.knn_auto_grid", 0)
                   + j.get("count.knn_grid_grid", 0) for j in knn_calls)
        m["knn.grid_jobs"] = grid / TRACE_ROUNDS
        m["knn.broadcast_jobs"] = (2 * len(knn_calls) - grid) / TRACE_ROUNDS
        # the broadcast path scores every (query, target) pair; the grid
        # path's pair count is not visible from outside the operator
        n_q = counts.get("knn_queries", 0)
        m["knn.pairs_per_result"] = ratio(
            0 if counts.get("knn_auto_grid") else
            n_q * counts.get("points", 0), n_q * 3)
        m["ann_lsh.candidates_per_query"] = ratio(
            counts.get("ann_candidates", 0), counts.get("ann_queries", 0))
        nd = [j for j in jobs if j["job"] == "near_dup"]
        m["near_dup.verified_pair_ratio"] = ratio(
            sum(j["rows"]["near_dup"] for j in nd) / max(len(nd), 1),
            counts.get("lsh_candidates", 0))
        m["dup_clusters.driver_jobs"] = ratio(
            sum(j["jobs_in_call"].get("dup_clusters", 0) for j in nd),
            len(nd))
    m["mvt.features_per_tile"] = ratio(counts.get("mvt_features", 0),
                                       counts.get("mvt_tiles", 0))
    m["mvt.py_bytes_per_feature"] = ratio(
        total("python.bytes_sent", {"mvt"}), counts.get("mvt_features", 0))
    m["bbox.files_pruned_ratio"] = 1.0 - ratio(
        total("sources.files_read", {"bbox_pruned"}),
        total("sources.files_read", {"bbox_fullscan"})) \
        if "bbox_pruned" in names else 0.0
    m["bbox.useful_row_ratio"] = ratio(
        sum(j["rows"].get("bbox", 0) for j in jobs
            if j["job"] == "bbox_pruned") / TRACE_ROUNDS,
        total("sources.scan_rows", {"bbox_pruned"}))
    m["stage_write.write_tasks"] = total("stage_write.write_tasks",
                                         {"stage_write"})
    m["stage_write.files"] = counts.get("stage_files", 0)
    m.update(kernels.run(args.seed))
    want = set(PER_LAYER) | (set(NEIGHBORS_LAYER) if "knn" in names else set())
    if set(m) != want:
        raise RuntimeError(f"traced metrics differ from the declared set: "
                           f"{sorted(set(m) ^ want)}")

    os.makedirs(".perfbench_out", exist_ok=True)
    with open(os.path.join(".perfbench_out",
                           f"trace-{args.workload}-{args.seed}.json"),
              "w") as f:
        json.dump(tracer.export(), f)
    return dict(m, _results=base + results)


def main(argv=None) -> int:
    args = _args(argv)
    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "geozero_spark",
                                       "__init__.py")):
        print("perfbench: run from the root of a geozero-spark checkout "
              "(geozero_spark/ not found)", file=sys.stderr)
        return 2
    if args.cpus:
        os.sched_setaffinity(0, range(args.cpus))
    sys.path.insert(0, root)
    # executors' Python workers import the package from the checkout
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [root] + [p for p in os.environ.get("PYTHONPATH", "").split(
            os.pathsep) if p])
    work = os.path.join(root, ".perfbench_work",
                        f"{args.workload}-{os.getpid()}")
    os.makedirs(work)
    os.environ["TMPDIR"] = work
    try:
        summary, report = bench(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    units = dict(END_TO_END, **PER_LAYER, **NEIGHBORS_LAYER)
    print(f"workload {args.workload} seed {args.seed}: "
          f"{report['input_rows']} input rows {report['sizes']}, "
          f"cpus {report['host']['cpus']}, "
          f"heap {report['host']['driver_heap_mb']} MB")
    for k, v in report["latencies"].items():
        print(f"  {k:<16} {v['value']:10.4f} s   median, "
              f"{v['samples']} samples")
    for k, v in summary["metrics"].items():
        print(f"  {k:<40} {v:14.4f} {units.get(k, '')}")
    for k, v in report.get("ungated", {}).items():
        print(f"  {k:<40} {v:14.4f} {UNGATED[k]}   (not gated)")
    print(f"  fail_ratio       {summary['failed'] / summary['attempted']:.4f}"
          f"   ({summary['failed']} of {summary['attempted']} jobs), "
          f"checks: {report['checks']}")
    os.makedirs(".perfbench_out", exist_ok=True)
    with open(os.path.join(".perfbench_out",
                           f"result-{args.workload}-{args.seed}-"
                           f"t{args.trace}.json"), "w") as f:
        json.dump(dict(report, summary=summary), f, indent=1)
    summary["metrics"] = {k: {"value": v, "unit": units[k]}
                          for k, v in summary["metrics"].items()}
    print(json.dumps(summary))
    return 0


if __name__ == "__main__":
    sys.exit(main())
