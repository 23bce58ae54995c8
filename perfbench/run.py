"""Benchmark entry point.

    python3 perfbench/run.py --workload pipeline --seed 1 --seconds 8 --trace 0

Run from the repository root. The last stdout line is one JSON object with
``correct``, ``attempted``, ``failed`` and ``metrics``: the end-to-end
metrics with ``--trace 0``, the per-layer metrics with ``--trace 1``. The
line before it carries the capture stamps and the workload-named figures.
Exits non-zero without a result when the engine is not next to this
directory or a workload raises.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

# (name, unit) of every end-to-end metric: each workload reports all of them
END_TO_END = [
    ("setup_s", "s"),
    ("cold_s", "s"),
    ("pass_s", "s"),
    ("throughput_per_s", "1/s"),
]
PER_LAYER = [
    ("session.start_s", "s"),
    ("session.peak_rss_mb", "MB"),
    ("plans.convert.self_s", "s"),
    ("plans.convert.rows_out", "count"),
    ("plans.enrich.self_s", "s"),
    ("plans.landing.write_s", "s"),
    ("plans.landing.files", "count"),
    ("plans.landing.bytes_per_finding", "bytes"),
    ("plans.staging.hwm_s", "s"),
    ("plans.staging.write_s", "s"),
    ("plans.staging.input_files", "count"),
    ("plans.staging.rows_per_s", "1/s"),
    ("plans.quality.checks_s", "s"),
    ("plans.quality.reconcile_s", "s"),
    ("streaming.monitor.batches", "count"),
    ("streaming.monitor.files_per_batch", "count"),
    ("streaming.monitor.trigger_p50_ms", "ms"),
    ("streaming.monitor.trigger_p90_ms", "ms"),
    ("streaming.monitor.add_batch_p50_ms", "ms"),
    ("streaming.monitor.list_p50_ms", "ms"),
    ("streaming.monitor.planning_p50_ms", "ms"),
    ("streaming.monitor.commit_p50_ms", "ms"),
    ("streaming.monitor.backlog_end_files", "count"),
    ("streaming.monitor.generator_late_max_s", "s"),
    ("streaming.monitor.quarantined_files", "count"),
    ("streaming.monitor.latency_p50_s", "s"),
    ("streaming.monitor.latency_p90_s", "s"),
    ("streaming.monitor.stage_s", "s"),
    ("streaming.monitor.stage_input_files", "count"),
    ("entry.plan_build_s", "s"),
    ("entry.exec_s", "s"),
    ("entry.leaked_persists", "count"),
    ("entry.query_p90_s", "s"),
    *[(f"operators.{m}.s", "s") for m in ("relational", "timeseries", "dedup", "similarity", "text", "multimodal")],
    ("spark.jobs", "count"),
    ("spark.stages", "count"),
    ("spark.tasks", "count"),
    ("spark.failed_tasks", "count"),
    ("spark.shuffle_read_bytes", "bytes"),
    ("spark.shuffle_write_bytes", "bytes"),
    ("spark.spill_bytes", "bytes"),
    ("spark.gc_ms", "ms"),
    ("spark.executor_run_ms", "ms"),
    ("spark.executor_cpu_ms", "ms"),
    ("spark.input_bytes", "bytes"),
    ("spark.output_bytes", "bytes"),
    ("trace.overhead.pass_s", "s"),
]


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    sys.path.insert(0, ROOT)
    from perfbench import harness

    problem = harness.check_checkout(ROOT)
    if problem:
        print(f"perfbench: {problem}", file=sys.stderr)
        return 2
    from perfbench.workloads import WORKLOADS, Ctx

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}", file=sys.stderr)
        return 2

    import bench
    from perfbench.trace import Tracer, fold_event_log, read_event_log

    cpu_before = bench._cpu_stat()
    work = harness.make_work_dir(ROOT, args.workload)
    try:
        spark, session_s = harness.start_session(work, bool(args.trace))
        tracer = Tracer(spark, bool(args.trace))
        try:
            out = WORKLOADS[args.workload](Ctx(spark, ROOT, work, args.seed, args.seconds, tracer))
            peak_rss = harness.jvm_peak_rss_mb(spark)
            stamps = harness.stamps(spark, args.seed, out.sf, out.cache_state)
            if args.trace:
                tracer.count_jobs()
        finally:
            harness.stop_session(spark)
        stamps["steal_pct"] = bench._steal_pct(cpu_before, bench._cpu_stat())

        e2e = {
            "setup_s": session_s + out.setup_s,
            "cold_s": out.cold_s,
            "pass_s": out.pass_s,
            "throughput_per_s": out.throughput_per_s,
        }
        if args.trace:
            layers = dict.fromkeys((n for n, _ in PER_LAYER), 0.0)
            layers["session.start_s"] = session_s
            layers["session.peak_rss_mb"] = peak_rss
            layers.update(out.layers)
            # per measured pass: only the jobs the untraced measured passes ran
            passes = tracer.pass_groups
            folded = fold_event_log(read_event_log(os.path.join(work, "eventlog")), set(passes))
            layers.update({f"spark.{k}": v / len(passes) for k, v in folded.items()})
            units = dict(PER_LAYER)
            metrics = {k: {"value": layers[k], "unit": units[k]} for k, _ in PER_LAYER}
            trace_path = os.path.join(
                ROOT, harness.WORK_DIR, f"trace-{args.workload}-seed{args.seed}.json"
            )
            tracer.dump(
                trace_path, {"stamps": stamps, "layers": layers, "end_to_end": e2e, **out.artifacts}
            )
        else:
            metrics = {k: {"value": e2e[k], "unit": u} for k, u in END_TO_END}
    finally:
        shutil.rmtree(work, ignore_errors=True)

    detail = {
        "workload": args.workload,
        "stamps": stamps,
        "named": {k: {"value": v, "unit": u} for k, (v, u) in out.named.items()},
        "samples": out.samples,
        "errors": out.errors[:10],
    }
    print(json.dumps(detail))
    print(
        json.dumps(
            {
                "correct": out.failed == 0,
                "attempted": out.attempted,
                "failed": out.failed,
                "metrics": metrics,
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
