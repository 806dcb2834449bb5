#!/usr/bin/env python3
"""Tiny-size self-test of the benchmark (about seven minutes on 4 cores).

    python3 perfbench/selftest.py

For every workload in BENCHMARK.json, and for corpus-resume, at tiny size:
  - the untraced run prints exactly the end-to-end metrics with their
    units, and the traced run exactly the per-layer metrics;
  - a tampered expected digest (extract, corpus-resume) or row count
    (queries) makes the command exit non-zero with "correct": false;
and, in a directory holding only BENCHMARK.json and perfbench/, the
command exits non-zero without printing a result.
"""
import json
import pathlib
import shutil
import subprocess
import sys

BENCH = pathlib.Path(__file__).resolve().parent
ROOT = BENCH.parent
CORPUS_LAYER = {"pipeline.resume_s": "s", "corpus.scrub_s": "s", "pipeline.assemble_s": "s",
                "corpus.template_lines": "count", "corpus.docs": "count",
                "corpus.dup_dropped": "count", "corpus.quality_dropped": "count"}


def run(cwd, workload, trace, tamper=0):
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "7",
           "--seconds", "1", "--trace", str(trace), "--size", "tiny", "--tamper", str(tamper)]
    p = subprocess.run(cmd, cwd=cwd, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL,
                       text=True, timeout=600)
    lines = p.stdout.strip().splitlines()
    last = json.loads(lines[-1]) if lines and lines[-1].startswith('{"correct"') else None
    return p.returncode, last


def main():
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    e2e = {m["name"]: m["unit"] for m in spec["end_to_end"]}
    layer = {m["name"]: m["unit"] for m in spec["per_layer"]}
    problems = []

    def check(cond, what):
        print(("ok   " if cond else "FAIL ") + what, flush=True)
        if not cond:
            problems.append(what)

    for w in [x["name"] for x in spec["workloads"]] + ["corpus-resume"]:
        for trace, want in ((0, e2e), (1, layer)):
            if trace and w == "corpus-resume":
                want = {**layer, **CORPUS_LAYER}
            code, res = run(ROOT, w, trace)
            check(code == 0 and res is not None and res["correct"], f"{w} trace={trace} runs clean")
            got = {k: v["unit"] for k, v in (res or {}).get("metrics", {}).items()}
            check(got == want, f"{w} trace={trace} prints exactly its metrics with their units")
            check(res is not None and res["attempted"] >= 1 and res["failed"] == 0,
                  f"{w} trace={trace} attempted >= 1, failed == 0")
        code, res = run(ROOT, w, 0, tamper=1)
        check(code != 0 and res is not None and not res["correct"],
              f"{w} with a tampered expectation exits non-zero, correct=false")

    bare = BENCH / ".work-selftest"
    shutil.rmtree(bare, ignore_errors=True)
    bare.mkdir()
    shutil.copy(ROOT / "BENCHMARK.json", bare)
    shutil.copytree(BENCH, bare / "perfbench",
                    ignore=shutil.ignore_patterns(".build", ".work", ".work-selftest", ".lock",
                                                  "__pycache__"))
    code, res = run(bare, spec["workloads"][0]["name"], 0)
    shutil.rmtree(bare, ignore_errors=True)
    check(code != 0 and res is None, "without the program's sources: non-zero exit, no result")

    print(f"{len(problems)} problem(s)")
    sys.exit(1 if problems else 0)


if __name__ == "__main__":
    main()
