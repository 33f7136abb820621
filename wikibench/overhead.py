"""Tracing overhead: traced minus untraced, for each end-to-end metric.

Runs every workload once untraced and once traced with the same seed; the
traced run reports its own end-to-end figures as `traced.<metric>`.

    python3 wikibench/overhead.py [--seed 7]
"""

import argparse
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
from run import WORKLOADS  # noqa: E402


def metrics(workload, seed, trace):
    out = subprocess.run([sys.executable, os.path.join(HERE, "run.py"),
                          "--workload", workload, "--seed", str(seed),
                          "--seconds", "1", "--trace", str(trace)],
                         capture_output=True, text=True)
    if out.returncode != 0:
        sys.exit(f"{workload} seed {seed} trace {trace} failed")
    return json.loads(out.stdout.strip().splitlines()[-1])["metrics"]


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--seed", type=int, default=7)
    a = ap.parse_args()
    for wl in WORKLOADS:
        plain = metrics(wl, a.seed, 0)
        traced = metrics(wl, a.seed, 1)
        for name, m in plain.items():
            t = traced[f"traced.{name}"]["value"]
            print(f"{wl:15s} {name:12s} untraced {m['value']:12.3f} traced {t:12.3f} "
                  f"overhead {t - m['value']:+10.3f} {m['unit']} "
                  f"({(t - m['value']) / m['value']:+.1%})")


if __name__ == "__main__":
    main()
