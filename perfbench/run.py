"""Benchmark entry point.

    python3 perfbench/run.py --workload {batch_pipeline,sink_bulk,stream_live}
                             --seed N --seconds S --trace {0,1}

Run from the root of a checkout. ``--trace 0`` reports the end-to-end
metrics; ``--trace 1`` records spans around every layer call and reports
the per-layer metrics instead (see README.md). Diagnostics go to standard
output first; the last line is one JSON object with ``correct``,
``attempted``, ``failed`` and ``metrics``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

WORKLOADS = ("batch_pipeline", "sink_bulk", "stream_live")

END_TO_END = ("setup_s", "rss_p90_mb", "throughput_per_s", "latency_p50_s", "latency_tail_s")

#: every per-layer metric and its unit; a workload that does not exercise a
#: layer reports 0 for it (listed as "not exercised" in the diagnostics)
PER_LAYER = {
    "session.start_s": "s",
    "io.scan_s": "s",
    "registry.construct_s": "s",
    "operators.execute_s": "s",
    "operators.jobs": "count",
    "operators.stages": "count",
    "operators.tasks": "count",
    "memo.entries": "count",
    "memo.persisted_rdds": "count",
    "kpl.encode_records_per_s": "1/s",
    "kpl.decode_records_per_s": "1/s",
    "sink.transfer_s": "s",
    "sink.put_calls": "count",
    "sink.put_success_ratio": "ratio",
    "sink.retried_puts": "count",
    "sink.fill_ratio": "ratio",
    "sink.put_wait_s": "s",
    "sink.producer_busy_s": "s",
    "sink.shard_skew": "ratio",
    "sources.get_records_calls": "count",
    "sources.frames_read": "count",
    "sources.plan_ms": "ms",
    "streaming.batches": "count",
    "streaming.batch_ms_p50": "ms",
    "streaming.add_batch_ms": "ms",
    "streaming.state_rows": "count",
    "streaming.state_mb": "MB",
    "streaming.dedup_ratio": "ratio",
}


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    try:
        import kinesis_writer_spark  # noqa: F401
    except ImportError as exc:
        print(f"perfbench: cannot import the package under test: {exc}", file=sys.stderr)
        return 2

    from perfbench import harness

    work = harness.make_work_dir(args.workload, args.seed)
    harness.prepare_env(work)
    if args.workload == "batch_pipeline":
        from perfbench import batch as workload
    elif args.workload == "sink_bulk":
        from perfbench import sink_bulk as workload
    else:
        from perfbench import stream_live as workload

    run_id = f"{args.workload}-s{args.seed}-p{os.getpid()}"
    tracer = harness.Tracer(run_id) if args.trace else harness.NullTracer()
    out = None
    try:
        out = workload.run(args.seed, args.seconds, tracer, work)
        stamp = harness.env_stamp(out["spark"], out["load_before"])
    finally:
        if out is not None:
            harness.stop_spark(out["spark"])
        shutil.rmtree(work, ignore_errors=True)

    print("env:", json.dumps(stamp))
    print("workload:", json.dumps(out["info"]))
    e2e_line = {k: round(v["value"], 6) for k, v in out["e2e"].items()}
    if args.trace:
        spans_path = os.path.join(harness.OUT_DIR, f"spans-{run_id}.jsonl")
        tracer.dump(spans_path)
        print("traced end-to-end (compare with a --trace 0 run for the tracing overhead):", json.dumps(e2e_line))
        print("layer self time s:", json.dumps({k: round(v, 4) for k, v in sorted(tracer.self_times().items())}))
        print("span dump:", os.path.relpath(spans_path, ROOT))
        metrics = {}
        for name, unit in PER_LAYER.items():
            metrics[name] = out["layers"].get(name, harness.metric(0, unit))
        missing = [n for n in PER_LAYER if n not in out["layers"]]
        print("not exercised by this workload:", ", ".join(missing) or "-")
    else:
        print("end-to-end:", json.dumps(e2e_line))
        metrics = {name: out["e2e"][name] for name in END_TO_END}
    harness.emit(
        {
            "correct": out["failed"] == 0,
            "attempted": int(out["attempted"]),
            "failed": int(out["failed"]),
            "metrics": metrics,
        }
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
