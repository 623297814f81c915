"""Self-check of the benchmark at tiny size.

    python3 perfbench/selfcheck.py

Runs every workload of ``BENCHMARK.json`` at ``--size tiny`` once
untraced and once traced, with the same seed, and checks that

- each run exits 0, counts no failed operation and reports its
  correctness checks as passed;
- the untraced run prints exactly the ``end_to_end`` metrics and the
  traced run exactly the ``per_layer`` metrics, each with its unit;
- both runs print the same output fingerprints;
- the runner refuses, with a non-zero exit and no result, to run in a
  directory that holds only ``BENCHMARK.json`` and the benchmark.

Exits 0 when every check holds; prints each failed check otherwise.
Takes about five minutes on 4 cores.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SEED = 1


def _run(cwd: str, workload: str, trace: int) -> tuple[int, list[str]]:
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", str(SEED)]
    cmd += ["--seconds", "1", "--trace", str(trace), "--size", "tiny"]
    p = subprocess.run(cmd, cwd=cwd, capture_output=True, text=True, timeout=600)
    if p.returncode != 0:
        sys.stderr.write(p.stderr[-4000:])
    return p.returncode, p.stdout.strip().splitlines()


def _check_run(bench: dict, workload: str, trace: int, errors: list[str]) -> dict:
    """Run one workload and check its result; returns its info line."""
    tag = f"{workload} --trace {trace}"
    rc, lines = _run(ROOT, workload, trace)
    if rc != 0 or not lines:
        errors.append(f"{tag}: exit code {rc}")
        return {}
    res = json.loads(lines[-1])
    if set(res) != {"correct", "attempted", "failed", "metrics"}:
        errors.append(f"{tag}: result keys {sorted(res)}")
    if not res["correct"] or res["failed"] != 0 or res["attempted"] < 1:
        errors.append(f"{tag}: correct={res['correct']} failed={res['failed']}")
    want = {m["name"]: m["unit"] for m in bench["per_layer" if trace else "end_to_end"]}
    got = {name: m["unit"] for name, m in res["metrics"].items()}
    if got != want:
        diff = sorted(set(got.items()) ^ set(want.items()))
        errors.append(f"{tag}: metric names/units differ from BENCHMARK.json: {diff}")
    info = [json.loads(line[5:]) for line in lines if line.startswith("info ")]
    return info[0] if info else {}


def _check_refuses(errors: list[str]) -> None:
    """The runner must fail without a result where the package is absent."""
    bare = os.path.join(ROOT, ".perfbench_work", "selfcheck-bare")
    shutil.rmtree(bare, ignore_errors=True)
    try:
        shutil.copytree(HERE, os.path.join(bare, "perfbench"))
        shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
        rc, lines = _run(bare, "build_query", 0)
        if rc == 0 or any(line.startswith("{") for line in lines):
            errors.append(f"bare directory: exit code {rc}, output {lines[-1:]}")
    finally:
        shutil.rmtree(bare, ignore_errors=True)


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    errors: list[str] = []
    _check_refuses(errors)
    for w in bench["workloads"]:
        name = w["name"]
        untraced = _check_run(bench, name, 0, errors)
        traced = _check_run(bench, name, 1, errors)
        if untraced.get("fingerprints") != traced.get("fingerprints"):
            errors.append(f"{name}: fingerprints differ between two runs of seed {SEED}")
        print(f"{name}: checked", flush=True)
    for e in errors:
        print("FAIL " + e)
    print("selfcheck " + ("failed" if errors else "passed"))
    return 1 if errors else 0


if __name__ == "__main__":
    sys.exit(main())
