#!/usr/bin/env python3
"""Compare the benchmark's generated query tables with the shared sf test
tables (perfbench/src/perfbench/TableCheck.scala prints the comparison).

    python3 perfbench/tablecheck.py --fixture DIR [--seed N]

DIR holds the sf0.01 tables (`<table>.parquet`). The work dir is
perfbench/.work-tablecheck, deleted at the end.
"""
import argparse
import shutil
import subprocess
import sys

sys.dont_write_bytecode = True
import build  # noqa: E402


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--fixture", required=True)
    ap.add_argument("--seed", default="1")
    a = ap.parse_args()
    classes, jars = build.build()
    work = build.BENCH / ".work-tablecheck"
    tmp = work / "tmp"
    shutil.rmtree(work, ignore_errors=True)
    tmp.mkdir(parents=True)
    try:
        code = subprocess.run(build.java_cmd(classes, jars, tmp, "perfbench.TableCheck", [
            "--fixture", a.fixture, "--seed", a.seed, "--work", str(work / "run")]),
            cwd=build.ROOT).returncode
    finally:
        shutil.rmtree(work, ignore_errors=True)
    sys.exit(code)


if __name__ == "__main__":
    main()
