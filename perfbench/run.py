"""CDC benchmark: one closed-loop client driving the engine's public
API on one workload, end-to-end metrics (``--trace 0``) or per-layer
metrics (``--trace 1``), with every result checked against the
sequential oracle.

Run from the root of a checkout:

    python3 perfbench/run.py --workload catchup_wire_cow --seed 1 --seconds 20 --trace 0

The last line of stdout is one JSON object with ``correct``,
``attempted``, ``failed`` and ``metrics``. The line before it prints
every end-to-end metric with its unit, gated or not, and the line
before that the raw per-sample values behind them. All scratch files
live in ``.perfbench_work/`` under the checkout and are removed at exit.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time

# the end-to-end metrics of the result line (BENCHMARK.json): set-up
# time, the CPU the process tree spends per applied event and per
# serving read round, and the table's storage cost
END_TO_END = {
    "setup_s": "s",
    "apply_cpu_us_per_event": "us/event",
    "read_round_cpu_s": "s",
    "write_amp": "ratio",
    "live_bytes_per_row": "B/row",
}
# printed on the line before it, not gated. Wall times swing by 15-45 %
# between equal runs on a shared VM whose host steals CPU (a stalled
# vCPU holds up a whole Spark stage), which no 0.25 bound holds; the
# CPU of a single read kind rests on a few reads per run; a run holds
# too few point reads for a steady tail; the JVM's heap sizing makes
# peak RSS jump between runs; error_rate is 0 on a correct tree
REPORTED = {
    "apply_events_per_s": "events/s",
    "batch_wall_p50_s": "s",
    "point_read_p50_s": "s",
    "range_read_p50_s": "s",
    "scan_read_p50_s": "s",
    "point_read_cpu_s": "s",
    "range_read_cpu_s": "s",
    "scan_read_cpu_s": "s",
    "point_read_tail_s": "s",
    "peak_rss_mb": "MB",
    "error_rate": "ratio",
}


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def main(argv=None) -> int:
    args = parse_args(argv)
    root = os.getcwd()
    if not os.path.isdir(os.path.join(root, "mysql_tracker_spark")):
        print("perfbench: run from the root of a checkout that holds the "
              "mysql_tracker_spark package", file=sys.stderr)
        return 2
    sys.path.insert(0, root)
    import workloads  # noqa: E402  (needs the package path above)

    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"choose from {sorted(workloads.WORKLOADS)}", file=sys.stderr)
        return 2

    work = os.path.join(root, ".perfbench_work")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    # Spark's Python workers import the package; scratch stays in work
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (root, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    # every JVM the launcher starts: temp files in work, no hsperfdata
    # file in the system temp dir, and JIT compiler threads that live as
    # long as the JVM (common.tree_cpu_s leaves their CPU out)
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"-XX:-UsePerfData -Djava.io.tmpdir={os.environ['TMPDIR']} "
        "-XX:-UseDynamicNumberOfCompilerThreads"
    )
    os.environ["TZ"] = "UTC"
    time.tzset()
    try:
        result, reported, samples = run(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print("perfbench samples: " + json.dumps(samples, sort_keys=True))
    print("perfbench metrics: " + json.dumps(reported))
    print(json.dumps(result))
    return 0 if result["correct"] else 1


def run(args, work: str):
    import common
    import tracing
    import workloads

    t0 = time.perf_counter()
    spark = common.start_session(work, trace=bool(args.trace))
    session_s = time.perf_counter() - t0
    rss = common.RssSampler(spark.sparkContext._gateway.proc.pid).start()
    tracer = tracing.Tracer(spark).install() if args.trace else None
    try:
        wl = workloads.WORKLOADS[args.workload](spark, work, args.seed, tracer)
        t1 = time.perf_counter()
        wl.generate()
        input_s = time.perf_counter() - t1
        # the benchmark's own oracle work: neither set-up nor timed
        t2 = time.perf_counter()
        wl.load_oracle()
        oracle_s = time.perf_counter() - t2
        t3 = time.perf_counter()
        wl.warmup()
        warmup_s = time.perf_counter() - t3

        if tracer is not None:
            tracer.recording = True
        w0_ms = int(time.time() * 1000)
        steal0 = common.steal_s()
        start = time.perf_counter()
        wl.timed(start + args.seconds)
        timed_s = time.perf_counter() - start
        steal_timed = common.steal_s() - steal0
        w1_ms = int(time.time() * 1000)
        if tracer is not None:
            tracer.recording = False
        wl.check()
    finally:
        if tracer is not None:
            tracer.uninstall()
        peak_mb = rss.stop()
        common.stop_session(spark)

    reads = wl.reads
    point_tail, tail_pct, n_points = common.tail(reads.point_s)
    rows_in = sum(s.rows_in for s in wl.stats)
    values = {
        "setup_s": session_s + input_s + warmup_s,
        "apply_events_per_s": rows_in / wl.apply_s,
        "batch_wall_p50_s": common.median(wl.batch_s),
        "apply_cpu_us_per_event": 1e6 * wl.apply_cpu_s / rows_in,
        "read_round_cpu_s": sum(reads.cpu_s.values()) / len(wl.rounds),
        "point_read_cpu_s": reads.cpu_s["point"] / len(reads.point_s),
        "range_read_cpu_s": reads.cpu_s["range"] / len(reads.range_s),
        "scan_read_cpu_s": reads.cpu_s["scan"] / len(reads.scan_s),
        "point_read_p50_s": common.median(reads.point_s),
        "point_read_tail_s": point_tail,
        "range_read_p50_s": common.median(reads.range_s),
        "scan_read_p50_s": common.median(reads.scan_s),
        "write_amp": wl.bytes_written / wl.input_bytes,
        "live_bytes_per_row": wl.live_bytes / max(wl.live_rows, 1),
        "peak_rss_mb": peak_mb,
        "error_rate": wl.failed / max(wl.attempted, 1),
    }
    samples = {
        "workload": wl.name,
        "seed": args.seed,
        "timed_s": timed_s,
        "cpu_steal_timed_s": steal_timed,
        "session_s": session_s,
        "input_s": input_s,
        "oracle_s": oracle_s,
        "warmup_s": warmup_s,
        "batch_s": wl.batch_s,
        "point_read_s": reads.point_s,
        "range_read_s": reads.range_s,
        "scan_read_s": reads.scan_s,
        "batch_cpu_s": wl.batch_cpu_s,
        "apply_cpu_s": wl.apply_cpu_s,
        "read_cpu_s": reads.cpu_s,
        "rows_in": rows_in,
        "input_bytes": wl.input_bytes,
        "problems": wl.problems[:20],
    }
    reported = {k: {"value": values[k], "unit": u} for k, u in {**END_TO_END, **REPORTED}.items()}
    reported["point_read_tail_s"].update(percentile=tail_pct, samples=n_points)
    if args.trace:
        metrics = per_layer(wl, tracer, work, w0_ms, w1_ms, session_s, input_s, warmup_s, values)
    else:
        metrics = {k: {"value": values[k], "unit": u} for k, u in END_TO_END.items()}
    result = {
        "correct": wl.failed == 0,
        "attempted": wl.attempted,
        "failed": wl.failed,
        "metrics": metrics,
    }
    return result, reported, samples


def per_layer(wl, tracer, work, w0_ms, w1_ms, session_s, input_s, warmup_s, values) -> dict:
    import common
    import tracing

    stats = wl.stats
    n = max(len(stats), 1)
    applied = sum(s.rows_applied for s in stats)
    winners = sum(
        s.rows_winners if s.rows_winners is not None else sum((s.bucket_rows or {}).values())
        for s in stats
    )
    wire = [s for s in stats if s.phase_ms]
    after_first = [s for s in wire if s.batch_id > 0]
    phase = lambda key: sum(s.phase_ms.get(key, 0) for s in wire) / 1e3  # noqa: E731
    spark_m = tracing.parse_event_log(
        os.path.join(work, "eventlog"), w0_ms, w1_ms, common.cores()
    )
    m = {
        "runner.batches": (len(stats), "count"),
        "runner.rows_in": (sum(s.rows_in for s in stats), "rows"),
        "runner.rows_applied": (applied, "rows"),
        "runner.rows_winners": (winners, "rows"),
        "runner.collapse_ratio": (applied / max(winners, 1), "ratio"),
        "runner.apply_batch_s": (tracer.total("runner.apply_batch"), "s"),
        "runner.self_s": (tracer.runner_self_s(), "s"),
        "runner.wire_manifest_s": (phase("manifest"), "s"),
        "runner.wire_lww_s": (phase("lww"), "s"),
        "runner.wire_delta_s": (phase("delta"), "s"),
        "runner.wire_merge_s": (phase("merge"), "s"),
        "runner.prefetch_hit_ratio": (
            sum(1 for s in after_first if s.phase_ms.get("winners_prefetched"))
            / max(len(after_first), 1),
            "ratio",
        ),
        "runner.salted_batches": (
            sum(1 for s in stats if "salted" in (s.lww_variant or "")),
            "count",
        ),
        "lakestore.merge_s": (tracer.total("lakestore.merge"), "s"),
        "lakestore.merge_calls": (tracer.count("lakestore.merge"), "count"),
        "lakestore.merge_mor_s": (tracer.total("lakestore.merge_mor"), "s"),
        "lakestore.adopt_delta_s": (tracer.total("lakestore.adopt_delta"), "s"),
        "lakestore.compact_s": (tracer.total("lakestore.compact"), "s"),
        "lakestore.compactions": (tracer.count("lakestore.compact"), "count"),
        "lakestore.manifest_calls": (tracer.count("lakestore.manifest") / n, "count/batch"),
        "lakestore.bytes_written": (wl.bytes_written, "B"),
        "lakestore.files_written": (wl.files_written, "count"),
        "lakestore.live_files": (wl.live_files, "count"),
        "lakestore.live_delta_files": (wl.live_deltas, "count"),
        "lakestore.live_bytes": (wl.live_bytes, "B"),
        "lakestore.read_for_keys_s": (tracer.total("lakestore.read_for_keys"), "s"),
        "lakestore.buckets_for_keys_s": (tracer.total("lakestore.buckets_for_keys"), "s"),
        "lakestore.files_per_point_read": (
            common.median(wl.reads.files_per_point) if wl.reads.files_per_point else 0,
            "count",
        ),
        "lakestore.files_per_range_read": (
            common.median(wl.reads.files_per_range) if wl.reads.files_per_range else 0,
            "count",
        ),
        "sources.input_bytes": (wl.input_bytes, "B"),
        "sources.input_files": (wl.input_files, "count"),
        "sources.frames_quarantined": (sum(s.frames_quarantined or 0 for s in stats), "count"),
        "setup.session_s": (session_s, "s"),
        "setup.input_s": (input_s, "s"),
        "setup.warmup_s": (warmup_s, "s"),
        "trace.apply_events_per_s": (values["apply_events_per_s"], "events/s"),
        "trace.apply_cpu_us_per_event": (values["apply_cpu_us_per_event"], "us/event"),
        "process.peak_rss_mb": (values["peak_rss_mb"], "MB"),
    }
    m.update(spark_m)
    return {k: {"value": v, "unit": u} for k, (v, u) in m.items()}


if __name__ == "__main__":
    sys.exit(main())
