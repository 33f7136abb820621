"""Runs one benchmark workload and prints its result.

    python3 wikibench/run.py --workload wiki_lifecycle --seed 1 --seconds 10 --trace 0

Builds the engine and the benchmark from source first if needed (see
build.py), then runs the workload in one JVM on Spark local[k], k =
min(4, cores). Standard output carries JSON lines only; the last one is the
result: {"correct", "attempted", "failed", "metrics"}. With --trace 1 the
metrics are the per-layer ones and the spans are written to
.bench_build/wikibench/traces/. The exit code is 0 only when every call
succeeded and passed its check.
"""

import argparse
import os
import shutil
import signal
import subprocess
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402

WORKLOADS = ("wiki_lifecycle", "corpus_churn")
TIMEOUT_S = 170


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    try:
        cp = build.build()
    except build.BuildError as e:
        sys.exit(f"wikibench: build failed: {e}")

    work = os.path.join(build.OUT, "runs", f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    trace_out = os.path.join(build.OUT, "traces", f"{a.workload}-{a.seed}.jsonl")
    # the engine reads tuning knobs from the environment; run it on its
    # defaults, and keep Spark's scratch space inside the run directory
    env = {k: v for k, v in os.environ.items()
           if not (k.startswith("SPARK_GRAFT_") or k == "GRAFT_PROF")}
    env["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    cmd = (["java"] + build.jvm_options(work) +
           [f"-XX:SharedArchiveFile={build.archive()}", "-Xshare:auto",
            "-cp", cp, "wikibench.Main",
            "--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", str(a.trace),
            "--work", work, "--trace-out", trace_out])
    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, env=env, text=True)
    # a SIGTERM to this script must not leave the JVM running
    signal.signal(signal.SIGTERM, lambda *_: sys.exit("wikibench: terminated"))
    try:
        out, _ = proc.communicate(timeout=TIMEOUT_S)
    except subprocess.TimeoutExpired:
        sys.exit(f"wikibench: {a.workload} did not finish in {TIMEOUT_S} s")
    finally:
        if proc.poll() is None:
            proc.kill()
        proc.wait()
        shutil.rmtree(work, ignore_errors=True)
    lines = [l for l in out.splitlines() if l.strip()]
    for l in lines:
        print(l)
    if not lines or not lines[-1].startswith('{"correct"'):
        sys.exit(f"wikibench: {a.workload} printed no result (exit {proc.returncode})")
    sys.exit(proc.returncode)


if __name__ == "__main__":
    main()
