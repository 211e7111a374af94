"""Run one benchmark workload and print its result as the last stdout line.

Usage:
  python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1
                           [--spark-jars DIR] [--selfcheck]

Builds the library and the benchmark program first (perfbench/build.py), then
runs it in one JVM on local[nproc]. Everything the run writes lives under the
repository root: .bench_build/ (classes), .bench_tmp/ (deleted after the
run) and .bench_out/ (trace files and the last untraced result per
workload, which the traced run uses to price tracing overhead).
--selfcheck plants a wrong expectation so the output checks must report
failures (the run then prints correct=false).
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import uuid
from pathlib import Path

sys.dont_write_bytecode = True
sys.path.insert(0, str(Path(__file__).resolve().parent))
import build  # noqa: E402

WORKLOADS = ("export_bulk", "kv_mixed", "stream_ingest", "corpus_dedup")
JAVA_TIMEOUT_S = 165


def git_commit(root):
    if not (root / ".git").exists():
        return "none"
    try:
        return subprocess.run(["git", "-C", str(root), "rev-parse", "HEAD"],
                              capture_output=True, text=True, timeout=10).stdout.strip() or "none"
    except (OSError, subprocess.SubprocessError):
        return "none"


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, type=int, choices=(0, 1))
    ap.add_argument("--spark-jars")
    ap.add_argument("--selfcheck", action="store_true")
    args = ap.parse_args()
    if args.seconds < 1:
        ap.error("--seconds must be positive")

    try:
        java_args, src_hash = build.build(args.spark_jars)
    except build.BuildError as e:
        print(f"[perfbench] {e}", file=sys.stderr)
        return 2

    root = build.ROOT
    out_dir = root / ".bench_out"
    out_dir.mkdir(exist_ok=True)
    tmp = root / ".bench_tmp" / uuid.uuid4().hex[:12]
    tmp.mkdir(parents=True)
    cmd = java_args(tmp) + [
        "perfbench.Main",
        "--workload", args.workload, "--seed", str(args.seed),
        "--seconds", str(args.seconds), "--trace", str(args.trace),
        "--tmp", str(tmp), "--out", str(out_dir),
        "--commit", git_commit(root), "--source-hash", src_hash,
    ]
    if args.selfcheck:
        cmd.append("--selfcheck")

    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, text=True, start_new_session=True)
    lines = []
    try:
        out, _ = proc.communicate(timeout=JAVA_TIMEOUT_S)
        lines = out.splitlines()
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        print(f"[perfbench] benchmark JVM exceeded {JAVA_TIMEOUT_S}s", file=sys.stderr)
        return 3
    finally:
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
        shutil.rmtree(tmp, ignore_errors=True)
        try:
            (root / ".bench_tmp").rmdir()
        except OSError:
            pass

    if proc.returncode != 0:
        sys.stderr.write("\n".join(lines[-20:]) + "\n")
        print(f"[perfbench] benchmark JVM exited with {proc.returncode}", file=sys.stderr)
        return 1
    result = None
    for line in lines[:-1]:
        print(line)
    if lines:
        try:
            result = json.loads(lines[-1])
        except json.JSONDecodeError:
            result = None
    if not isinstance(result, dict) or set(result) != {"correct", "attempted", "failed", "metrics"}:
        print("[perfbench] benchmark JVM printed no result line", file=sys.stderr)
        return 1
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
