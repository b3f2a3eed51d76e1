"""Tiny-size self-check of the benchmark.

    python3 perfbench/selfcheck.py

Runs every workload once untraced and once traced at self-check sizes
and asserts that each prints a well-formed result naming every metric
BENCHMARK.json lists, with its unit; then asserts that the benchmark
fails, printing no result, in a directory holding only BENCHMARK.json
and the benchmark's own files.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _run(cwd: str, workload: str, trace: int) -> subprocess.CompletedProcess:
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "1"]
    cmd += ["--seconds", "1", "--trace", str(trace), "--tiny"]
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    return subprocess.run(cmd, cwd=cwd, env=env, capture_output=True, text=True, timeout=600)


def _check_result(spec: dict, workload: str, trace: int, proc: subprocess.CompletedProcess) -> None:
    where = f"{workload} --trace {trace}"
    if proc.returncode != 0:
        raise AssertionError(f"{where}: exit {proc.returncode}\n{proc.stderr[-3000:]}")
    res = json.loads(proc.stdout.strip().splitlines()[-1])
    if set(res) != {"correct", "attempted", "failed", "metrics"}:
        raise AssertionError(f"{where}: result keys {sorted(res)}")
    if res["correct"] is not True or res["failed"] != 0 or res["attempted"] < 1:
        raise AssertionError(f"{where}: {res['correct']=} {res['failed']=} {res['attempted']=}")
    want = spec["per_layer" if trace else "end_to_end"]
    got = res["metrics"]
    if set(got) != {m["name"] for m in want}:
        raise AssertionError(f"{where}: metric names differ: {sorted(set(got) ^ {m['name'] for m in want})}")
    for m in want:
        v = got[m["name"]]
        if v["unit"] != m["unit"] or not isinstance(v["value"], (int, float)):
            raise AssertionError(f"{where}: {m['name']} = {v}")
        if not trace and v["value"] == 0:
            raise AssertionError(f"{where}: end-to-end metric {m['name']} is 0")


def _check_fails_alone(spec: dict) -> None:
    alone = os.path.join(ROOT, ".bench_work", "alone")
    shutil.rmtree(alone, ignore_errors=True)
    os.makedirs(alone)
    try:
        shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), alone)
        for path in spec["paths"]:
            shutil.copytree(
                os.path.join(ROOT, path),
                os.path.join(alone, path),
                ignore=shutil.ignore_patterns("__pycache__"),
            )
        proc = _run(alone, spec["workloads"][0]["name"], 0)
        if proc.returncode == 0 or proc.stdout.strip():
            raise AssertionError(f"benchmark without the program: exit {proc.returncode}, stdout {proc.stdout!r}")
    finally:
        shutil.rmtree(alone, ignore_errors=True)


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    _check_fails_alone(spec)
    print("ok: fails without the program", flush=True)
    for w in spec["workloads"]:
        for trace in (0, 1):
            _check_result(spec, w["name"], trace, _run(ROOT, w["name"], trace))
            print(f"ok: {w['name']} --trace {trace}", flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
