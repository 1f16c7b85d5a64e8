#!/usr/bin/env python3
"""Run each workload once untraced and once traced, and print every
end-to-end metric, every per-layer metric and the tracing overhead, by
name and with units:

    python3 perfbench/report.py [--seed 1] [--seconds 10] [--workloads queries,ingest,analytics_py]

Exits non-zero if any run fails or reports a wrong output.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def run(workload: str, seed: int, seconds: float, trace: int) -> tuple[int, dict, dict]:
    p = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)],
        cwd=os.path.dirname(HERE), capture_output=True, text=True)
    lines = p.stdout.strip().splitlines()
    if len(lines) < 2:
        sys.stderr.write(p.stderr[-4000:])
        return p.returncode or 1, {}, {}
    return p.returncode, json.loads(lines[-2])["context"], json.loads(lines[-1])


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--workloads", default="queries,ingest,analytics_py")
    args = ap.parse_args()
    rc = 0
    for wl in args.workloads.split(","):
        rc0, ctx0, res0 = run(wl, args.seed, args.seconds, 0)
        rc1, ctx1, res1 = run(wl, args.seed, args.seconds, 1)
        rc = rc or rc0 or rc1
        if not res0 or not res1:
            print(f"== {wl}: run failed")
            continue
        print(f"== {wl}  seed={args.seed} correct={res0['correct'] and res1['correct']} "
              f"attempted={res0['attempted']} failed={res0['failed']} "
              f"fail_ratio={ctx0['fail_ratio']:.4f} passes={ctx0['timed_passes']} "
              f"tail=p{ctx0['tail_percentile']} of n={ctx0['tail_n']} "
              f"steal_s={ctx0['steal_s']} jit_ms={ctx0['jit_compile_ms']:.0f} "
              f"gc_ms={ctx0['gc_ms']:.0f}")
        traced = ctx1["end_to_end"]
        print(f"  {'end-to-end':28s} {'untraced':>14s} {'traced':>14s} {'overhead':>12s}")
        for name, m in res0["metrics"].items():
            over = traced[name] - m["value"]
            print(f"  {name:28s} {m['value']:14.4f} {traced[name]:14.4f} "
                  f"{over:+12.4f} {m['unit']}")
        print(f"  {'per-layer (traced)':28s}")
        for name, m in res1["metrics"].items():
            print(f"  {name:40s} {m['value']:16.4f} {m['unit']}")
        print(f"  self time per span (s): {json.dumps(ctx1['self_time_s'])}")
        print(f"  spans: {ctx1.get('spans_file')}")
    return rc


if __name__ == "__main__":
    sys.exit(main())
