#!/usr/bin/env python3
"""Tiny-scale self-test of the benchmark.

    python3 perfbench/selftest.py

Run from the repository root. For every workload in BENCHMARK.json, and for
`serve` (runnable by hand, not in BENCHMARK.json), it runs run.py
untraced and traced, at the benchmark's own sizes and run_seconds, and
asserts that

  * the last stdout line is the result object with exactly the keys
    correct / attempted / failed / metrics, and the output checks passed;
  * every end-to-end (untraced) or per-layer (traced) metric named in
    BENCHMARK.json is printed, with its declared unit, and nothing else;
  * every metric is above 0, except the per-layer ones in ZERO_OK, so that
    a span that went missing does not read as a silent 0;
  * a traced run attributes every Spark job to a span.

It also checks that run.py fails, without printing a result, in a copy of
the benchmark that has no program beside it. Takes about ten minutes.
"""

from __future__ import annotations

import argparse
import json
import os
import re
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
# per-layer metrics that may truly be 0: spill, GC and shuffle volumes, the
# failure counts, and the Spark counts of an engine call type that could be
# answered without a job (engine.jobs_per_query must still be above 0)
ZERO_OK = re.compile(
    r"(.*spill_bytes|build\.gc_s|.*shuffle.*bytes.*|unattributed_jobs|failed_frac"
    r"|engine\.[a-z_0-9]+\.(jobs|tasks|executor_ms))$"
)


def run(cwd: str, workload: str, trace: int, seconds: int) -> tuple[int, str, str]:
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "7",
         "--seconds", str(seconds), "--trace", str(trace)],
        cwd=cwd, capture_output=True, text=True, timeout=600,
    )
    return p.returncode, p.stdout, p.stderr


def check_result(stdout: str, declared: list[dict], what: str) -> dict:
    res = json.loads(stdout.strip().splitlines()[-1])
    assert set(res) == {"correct", "attempted", "failed", "metrics"}, what
    assert res["correct"] is True and res["failed"] == 0, f"{what}: checks failed"
    assert isinstance(res["attempted"], int) and res["attempted"] >= 1, what
    want = {m["name"]: m["unit"] for m in declared}
    got = {k: v["unit"] for k, v in res["metrics"].items()}
    assert got == want, f"{what}: metrics differ: {set(got) ^ set(want)}"
    for k, v in res["metrics"].items():
        assert isinstance(v["value"], (int, float)), f"{what}: {k} is not a number"
    return res["metrics"]


def main() -> int:
    argparse.ArgumentParser(description=__doc__.split("\n\n")[0]).parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)

    for w in [w["name"] for w in bench["workloads"]] + ["serve"]:
        for trace, declared in ((0, bench["end_to_end"]), (1, bench["per_layer"])):
            what = f"{w} --trace {trace}"
            code, out, err = run(ROOT, w, trace, bench["run_seconds"])
            assert code == 0, f"{what}: exit {code}\n{err[-3000:]}"
            metrics = check_result(out, declared, what)
            zero = [k for k, v in metrics.items() if v["value"] <= 0
                    and not (trace and ZERO_OK.match(k))]
            assert not zero, f"{what}: metrics at 0: {zero}"
            if trace:
                assert metrics["unattributed_jobs"]["value"] == 0, what
            print(f"ok  {what}", flush=True)

    bare = os.path.join(ROOT, ".bench_work", "selftest-bare")
    shutil.rmtree(bare, ignore_errors=True)
    shutil.copytree(HERE, os.path.join(bare, "perfbench"),
                    ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
    try:
        code, out, _ = run(bare, bench["workloads"][0]["name"], 0, bench["run_seconds"])
    finally:
        shutil.rmtree(bare, ignore_errors=True)
    assert code != 0 and '"metrics"' not in out, "run.py must fail without the program"
    print("ok  fails without the program")
    return 0


if __name__ == "__main__":
    sys.exit(main())
