"""Run every workload untraced and traced; print each metric by name with
its unit, the tracing overhead and the correctness verdict.

    python3 perfbench/all.py --seed 1 --seconds 10

Each run is its own ``run.py`` process, so every workload starts from a
fresh Spark driver. Exits 1 when any result failed its oracle.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

from perfbench.workloads import WORKLOADS  # noqa: E402


def run(workload: str, seed: int, seconds: int, trace: int) -> tuple[dict, dict]:
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)]
    lines = subprocess.run(cmd, stdout=subprocess.PIPE, text=True, check=True).stdout.splitlines()
    return json.loads(lines[-2])["report"], json.loads(lines[-1])


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=10)
    args = ap.parse_args(argv)
    correct = True
    for workload in WORKLOADS:
        for trace in (0, 1):
            report, out = run(workload, args.seed, args.seconds, trace)
            correct &= out["correct"]
            kind = "per-layer" if trace else "end-to-end"
            print(f"{workload} {kind}: attempted {out['attempted']}, failed {out['failed']}, "
                  f"failed_frac {report['failed_frac']:.4f}")
            for name, m in out["metrics"].items():
                print(f"  {name:<20} {m['value']:>14.4f} {m['unit']}")
            if not trace:
                p95 = report["latency_p95_ms"]
                print(f"  {'latency_p95_ms':<20} {'n/a' if p95 is None else f'{p95:.4f}':>14} ms"
                      f" ({report['samples']} samples)")
                print(f"  {'startup_s':<20} {report['startup_s']:>14.4f} s")
    print(f"correct: {str(correct).lower()}")
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
