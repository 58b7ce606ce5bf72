"""Fast self-test of the benchmark: one pass of each workload on tiny inputs.

    python3 perfbench/selftest.py

Checks that
* each workload's untraced run prints every end-to-end metric of
  BENCHMARK.json, with its unit, and counts no failure;
* a traced run prints every per-layer metric, with its unit;
* a wrong value planted in the log_store model is counted as a failure;
* without the engine's sources next to it, the benchmark exits non-zero
  and prints no result.
Exits non-zero on the first failed check.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
import tempfile

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH_DIR)


def run(*args: str, cwd: str = ROOT) -> tuple[int, dict | None]:
    proc = subprocess.run(
        [sys.executable, os.path.join(cwd, "perfbench", "run.py"), *args],
        cwd=cwd,
        capture_output=True,
        text=True,
        timeout=600,
    )
    lines = proc.stdout.strip().splitlines()
    try:
        result = json.loads(lines[-1]) if lines else None
    except json.JSONDecodeError:
        result = None
    if proc.returncode != 0:
        sys.stderr.write(proc.stderr[-3000:])
    return proc.returncode, result


def check(cond: bool, what: str) -> None:
    print(("ok   " if cond else "FAIL ") + what, flush=True)
    if not cond:
        sys.exit(1)


def check_metrics(result: dict, declared: list[dict], what: str) -> None:
    got = {k: v["unit"] for k, v in result["metrics"].items()}
    want = {m["name"]: m["unit"] for m in declared}
    check(got == want, f"{what}: every declared metric printed with its unit")
    check(
        all(isinstance(v["value"], (int, float)) for v in result["metrics"].values()),
        f"{what}: every value is a number",
    )


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    tiny = ["--seed", "1", "--seconds", "1", "--scale", "tiny"]
    for w in spec["workloads"]:
        rc, res = run("--workload", w["name"], "--trace", "0", *tiny)
        check(rc == 0 and res is not None, f"{w['name']}: exit 0 with a result line")
        check_metrics(res, spec["end_to_end"], w["name"])
        check(
            res["correct"] and res["failed"] == 0 and res["attempted"] > 0,
            f"{w['name']}: all {res['attempted']} ops correct",
        )

    rc, res = run("--workload", "log_store", "--trace", "1", "--corrupt-model", *tiny)
    check(rc == 0 and res is not None, "log_store traced: exit 0 with a result line")
    check_metrics(res, spec["per_layer"], "log_store traced")
    check(
        not res["correct"] and res["failed"] > 0,
        f"log_store: planted model value counted ({res['failed']} of {res['attempted']} failed)",
    )

    os.makedirs(os.path.join(BENCH_DIR, ".work"), exist_ok=True)
    with tempfile.TemporaryDirectory(dir=os.path.join(BENCH_DIR, ".work")) as bare:
        shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
        shutil.copytree(
            BENCH_DIR, os.path.join(bare, "perfbench"), ignore=shutil.ignore_patterns(".work", "__pycache__")
        )
        rc, res = run("--workload", "queries", "--trace", "0", *tiny, cwd=bare)
        check(rc != 0 and res is None, "without the engine: non-zero exit, no result")
    return 0


if __name__ == "__main__":
    sys.exit(main())
