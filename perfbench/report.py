"""Plain and traced run of one workload, side by side.

    python3 perfbench/report.py --workload sink_bulk --seed 1 --seconds 10

Runs ``run.py`` with ``--trace 0`` and then ``--trace 1`` (each in its own
process) and prints every end-to-end metric with its unit, the per-layer
metrics, the layer self times, where the span dump went, and the tracing
overhead: each end-to-end figure of the traced run minus the plain one.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def _run(workload: str, seed: int, seconds: float, trace: int) -> tuple[dict, dict[str, str]]:
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)]
    proc = subprocess.run(cmd, cwd=os.path.dirname(HERE), capture_output=True, text=True)
    lines = proc.stdout.strip().splitlines()
    if proc.returncode != 0 or not lines:
        sys.stderr.write(proc.stderr[-4000:])
        raise SystemExit(f"run.py exited with {proc.returncode}")
    notes = {}
    for line in lines[:-1]:
        key, sep, rest = line.partition(": ")
        if sep:
            notes[key] = rest
    return json.loads(lines[-1]), notes


def _table(metrics: dict) -> None:
    for name, m in metrics.items():
        print(f"  {name:28s} {m['value']:>16.6g} {m['unit']}")


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    args = ap.parse_args()

    plain, plain_notes = _run(args.workload, args.seed, args.seconds, 0)
    traced, notes = _run(args.workload, args.seed, args.seconds, 1)
    print(f"== {args.workload} seed {args.seed}: correct={plain['correct'] and traced['correct']} "
          f"failed={plain['failed']}/{plain['attempted']} (plain), {traced['failed']}/{traced['attempted']} (traced)")
    print("env:", plain_notes.get("env"))
    print("end-to-end (plain run):")
    _table(plain["metrics"])
    print("per-layer (traced run):")
    _table(traced["metrics"])
    print("not exercised:", notes.get("not exercised by this workload", "-"))
    print("layer self time s:", notes.get("layer self time s"))
    print("span dump:", notes.get("span dump"))
    traced_e2e = json.loads(next(v for k, v in notes.items() if k.startswith("traced end-to-end")))
    print("tracing overhead (traced - plain):")
    for name, m in plain["metrics"].items():
        delta = traced_e2e[name] - m["value"]
        print(f"  {name:28s} {delta:>+16.6g} {m['unit']} ({delta / m['value']:+.1%})")
    return 0


if __name__ == "__main__":
    sys.exit(main())
