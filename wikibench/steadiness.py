"""The benchmark's own steadiness test.

For each workload, makes two traced runs with one seed and one with
another, then checks:
  - the deterministic per-layer counters (jobs, tasks, files written,
    rows read per result, storage amplification) are exactly equal in the
    two same-seed runs;
  - the other seed changes the inputs but not the op mix: every call name
    is made the same number of times.

    python3 wikibench/steadiness.py [--seeds 5,6] [--workload NAME]

Exits 0 when every check holds.
"""

import argparse
import collections
import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import build  # noqa: E402
from run import WORKLOADS  # noqa: E402

DETERMINISTIC = (".jobs", ".tasks", ".files_written", ".rows_read_per_result",
                 "catalog.storage_amp")


def traced(workload, seed):
    """Per-layer metrics and call counts by name of one traced run."""
    out = subprocess.run([sys.executable, os.path.join(HERE, "run.py"),
                          "--workload", workload, "--seed", str(seed),
                          "--seconds", "1", "--trace", "1"],
                         capture_output=True, text=True)
    if out.returncode != 0:
        sys.exit(f"{workload} seed {seed} failed:\n{out.stderr[-2000:]}")
    metrics = json.loads(out.stdout.strip().splitlines()[-1])["metrics"]
    trace = os.path.join(build.OUT, "traces", f"{workload}-{seed}.jsonl")
    with open(trace) as f:
        spans = [json.loads(l) for l in f]
    calls = collections.Counter(s["name"] for s in spans if s["parent"] < 0)
    return {k: v["value"] for k, v in metrics.items()}, calls


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--seeds", default="5,6")
    ap.add_argument("--workload", choices=WORKLOADS)
    a = ap.parse_args()
    seed, other = (int(s) for s in a.seeds.split(","))
    problems = []
    for wl in [a.workload] if a.workload else WORKLOADS:
        m1, c1 = traced(wl, seed)
        m2, c2 = traced(wl, seed)
        m3, c3 = traced(wl, other)
        keys = sorted(k for k in m1 if k.endswith(DETERMINISTIC))
        differ = [f"{k}: {m1[k]} vs {m2[k]}" for k in keys if m1[k] != m2[k]]
        problems += [f"{wl} seed {seed} twice: {d}" for d in differ]
        if c1 != c3:
            problems.append(f"{wl}: op mix differs between seeds {seed} and {other}: "
                            f"{dict(c1)} vs {dict(c3)}")
        print(f"{wl}: {len(keys)} deterministic counters, {len(differ)} differ; "
              f"op mix {'same' if c1 == c3 else 'differs'} across seeds "
              f"({sum(c1.values())} calls)")
    for p in problems:
        print("FAIL", p)
    sys.exit(1 if problems else 0)


if __name__ == "__main__":
    main()
