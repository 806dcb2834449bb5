#!/usr/bin/env python3
"""The benchmark's one command (see perfbench/README.md).

    python3 perfbench/run.py --workload extract|corpus-resume|queries \
        --seed N --seconds S --trace 0|1

Builds the program from source (build.py), then runs one workload in a
single JVM at local[nproc/2]. Every output line is passed through; the last
line is the JSON result. Exits non-zero, with no result, when the build
or the run fails, and non-zero with "correct": false when an output check
fails. `--size tiny` and `--tamper 1` exist for selftest.py.
"""
import argparse
import fcntl
import pathlib
import shutil
import signal
import subprocess
import sys
import threading

sys.dont_write_bytecode = True
sys.path.insert(0, str(pathlib.Path(__file__).resolve().parent))
import build  # noqa: E402

RUN_TIMEOUT_S = 170


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=["extract", "corpus-resume", "queries"])
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, type=int, choices=[0, 1])
    ap.add_argument("--size", default="full", choices=["full", "tiny"])
    ap.add_argument("--tamper", default=0, type=int, choices=[0, 1])
    a = ap.parse_args()

    # runs share perfbench/.build and perfbench/.work: one at a time
    lock = open(build.BENCH / ".lock", "w")
    try:
        fcntl.flock(lock, fcntl.LOCK_EX | fcntl.LOCK_NB)
    except OSError:
        print("perfbench: another run is using this checkout", file=sys.stderr)
        sys.exit(2)
    classes, jars = build.build()
    work = build.BENCH / ".work"
    tmp = work / "tmp"
    shutil.rmtree(work, ignore_errors=True)
    tmp.mkdir(parents=True)
    cmd = build.java_cmd(classes, jars, tmp, "perfbench.Main", [
        "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
        "--trace", str(a.trace), "--work", str(work / "run"), "--size", a.size,
        "--tamper", str(a.tamper)])
    result = None
    # a terminated run must still stop its JVM: SIGTERM unwinds to `finally`
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, text=True, cwd=build.ROOT)
    watchdog = threading.Timer(RUN_TIMEOUT_S, proc.kill)
    watchdog.start()
    try:
        for line in proc.stdout:
            if line.startswith('{"correct"'):
                result = line.rstrip("\n")
            else:
                sys.stdout.write(line)
                sys.stdout.flush()
        code = proc.wait()
    finally:
        watchdog.cancel()
        if proc.poll() is None:
            proc.kill()
        proc.wait()
        shutil.rmtree(work, ignore_errors=True)
    if result is None:
        print(f"perfbench: {a.workload} ended with code {code} and no result", file=sys.stderr)
        sys.exit(code or 1)
    print(result)
    sys.exit(code)


if __name__ == "__main__":
    main()
