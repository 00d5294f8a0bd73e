#!/usr/bin/env python3
"""End-to-end benchmark of the ingest engine. Run from the repository root:

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <n> --trace <0|1>

Builds the program from source when needed (see build.py), then runs one
workload in one JVM and prints, as its last line, one JSON object with
`correct`, `attempted`, `failed` and `metrics`. With --trace 1 the metrics
are the per-layer ones and the spans go to .bench_out/trace-<workload>-s<seed>.json.
Every file a run writes goes under a fresh directory in .bench_tmp/, removed
when the run ends. See perfbench/README.md.
"""
import argparse
import os
import shutil
import signal
import subprocess
import sys
import tempfile

sys.dont_write_bytecode = True  # nothing written next to the sources
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402

JVM_TIMEOUT_S = 170


def main():
    p = argparse.ArgumentParser()
    p.add_argument("--workload", required=True, help="see perfbench/README.md")
    p.add_argument("--seed", required=True, type=int)
    p.add_argument("--seconds", required=True, type=int)
    p.add_argument("--trace", required=True, choices=["0", "1"])
    p.add_argument("--cores", type=int, default=4,
                   help="Spark local[k] threads (the reference runs use 4)")
    a = p.parse_args()

    root = os.getcwd()
    build.build(root)
    os.makedirs(os.path.join(root, ".bench_tmp"), exist_ok=True)
    tmp = tempfile.mkdtemp(prefix=f"{a.workload}-s{a.seed}-", dir=os.path.join(root, ".bench_tmp"))
    cmd = build.java_command(root, tmp, a.cores, [
        "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
        "--trace", a.trace, "--tmp", tmp, "--out", os.path.join(root, ".bench_out")])
    proc = subprocess.Popen(cmd, cwd=tmp, start_new_session=True)
    try:
        code = proc.wait(timeout=JVM_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        print(f"perfbench: {a.workload} did not finish in {JVM_TIMEOUT_S} s", file=sys.stderr)
        code = 1
    finally:
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
        shutil.rmtree(tmp, ignore_errors=True)
    sys.exit(code)


if __name__ == "__main__":
    main()
