#!/usr/bin/env python3
"""Smoke test of the benchmark itself, on a tiny corpus.

    python3 perfbench/smoke.py [--files 300]

For every workload it checks that

* an untraced run prints exactly the end-to-end metrics of
  BENCHMARK.json, a traced run exactly the per-layer ones, each with
  its unit, and both pass every correctness gate;
* a run with ``--corrupt`` (each output damaged before its gate: an
  ``edges`` row dropped, an ``edges_canonical`` row dropped, an answer
  row dropped) fails every operation instead of passing;

and that the benchmark exits non-zero, printing no result, when the
program's sources are absent. Exits 1 on the first broken expectation.
Takes about five minutes (ten Spark sessions).
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def run(args: list[str], cwd: str = ROOT) -> tuple[int, list[str]]:
    p = subprocess.run(
        [sys.executable, os.path.join(cwd, "perfbench", "run.py"), *args],
        cwd=cwd, capture_output=True, text=True, timeout=600,
    )
    if p.returncode != 0:
        sys.stderr.write(p.stderr[-3000:])
    return p.returncode, p.stdout.strip().splitlines()


def check(cond: bool, msg: str) -> None:
    print(("ok   " if cond else "FAIL ") + msg, flush=True)
    if not cond:
        sys.exit(1)


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--files", type=int, default=300)
    a = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    wanted = {
        0: {m["name"]: m["unit"] for m in bench["end_to_end"]},
        1: {m["name"]: m["unit"] for m in bench["per_layer"]},
    }
    base = ["--seed", "7", "--seconds", "1", "--files", str(a.files)]
    # build_delta is not scheduled in BENCHMARK.json (see NOTES.md) but
    # stays runnable, so it is smoke-tested too
    names = [x["name"] for x in bench["workloads"]]
    for w in names + [w for w in ("build_full", "build_delta", "query_mix") if w not in names]:
        for trace in (0, 1):
            rc, out = run(["--workload", w, "--trace", str(trace), *base])
            check(rc == 0 and bool(out), f"{w} trace={trace}: exit 0")
            res = json.loads(out[-1])
            check(set(res) == {"correct", "attempted", "failed", "metrics"},
                  f"{w} trace={trace}: result keys")
            got = {k: v["unit"] for k, v in res["metrics"].items()}
            check(got == wanted[trace], f"{w} trace={trace}: every metric with its unit"
                  + ("" if got == wanted[trace] else
                     f" missing={sorted(set(wanted[trace]) - set(got))}"
                     f" extra={sorted(set(got) - set(wanted[trace]))}"))
            check(res["correct"] and res["failed"] == 0 and res["attempted"] >= 1,
                  f"{w} trace={trace}: error_rate 0 over {res['attempted']} ops")
            if trace:
                cov = res["metrics"]["trace.coverage"]["value"]
                print(f"     trace.coverage={cov:.3f} "
                      f"overhead={res['metrics']['trace.overhead_pct']['value']:.1f}%")
        rc, out = run(["--workload", w, "--trace", "0", "--corrupt", *base])
        res = json.loads(out[-1])
        check(rc == 0 and not res["correct"] and res["failed"] == res["attempted"] >= 1,
              f"{w}: corrupted output fails {res['failed']}/{res['attempted']} gates")

    bare = os.path.join(ROOT, ".perfbench_work", "smoke-bare")
    shutil.rmtree(bare, ignore_errors=True)
    os.makedirs(bare)
    try:
        shutil.copytree(HERE, os.path.join(bare, "perfbench"),
                        ignore=shutil.ignore_patterns("__pycache__"))
        shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
        rc, out = run(["--workload", "build_full", "--seed", "1", "--seconds", "1",
                       "--trace", "0"], cwd=bare)
        check(rc != 0 and not out, "without the program: non-zero exit, no result")
    finally:
        shutil.rmtree(bare, ignore_errors=True)


if __name__ == "__main__":
    main()
