"""Self-test of the benchmark, at the scale the benchmark runs (sf0.01).

    python3 perfbench/selftest.py

Runs every workload of BENCHMARK.json once untraced and once traced with
a one-second budget, and checks that

- each run exits 0 and its last stdout line is the result object with
  exactly the keys correct / attempted / failed / metrics, all outputs
  correct;
- every declared metric prints by name with its declared unit, and every
  end-to-end value is a positive number;
- every per-layer metric is measured by at least one workload;
- no reported percentile above the median has fewer than 10 samples
  beyond it;
- in a directory holding only BENCHMARK.json and the benchmark's files,
  the command fails without printing a result.

Exits 1 and lists the failures if any check fails.
"""

from __future__ import annotations

import json
import os
import re
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
RESULT_KEYS = {"correct", "attempted", "failed", "metrics"}


def run(cmd: list[str], cwd: str, env=None) -> tuple[int, list[str]]:
    proc = subprocess.run(cmd, cwd=cwd, env=env, capture_output=True,
                          text=True, timeout=600)
    return proc.returncode, proc.stdout.strip().splitlines()


def check_run(spec: dict, workload: str, trace: int, problems: list[str],
              measured: set[str]) -> None:
    cmd = spec["command"] + ["--workload", workload, "--seed", "1",
                             "--seconds", "1", "--trace", str(trace)]
    code, lines = run(cmd, ROOT)
    tag = f"{workload} trace={trace}"
    if code != 0 or not lines:
        problems.append(f"{tag}: exit {code}")
        return
    result = json.loads(lines[-1])
    info = json.loads(lines[-2])["info"] if len(lines) > 1 else {}
    if set(result) != RESULT_KEYS:
        problems.append(f"{tag}: result keys {sorted(result)}")
        return
    if not result["correct"] or result["failed"] or result["attempted"] < 1:
        problems.append(f"{tag}: correct={result['correct']} "
                        f"failed={result['failed']} "
                        f"errors={info.get('errors')}")
    declared = spec["per_layer"] if trace else spec["end_to_end"]
    got = result["metrics"]
    if set(got) != {m["name"] for m in declared}:
        problems.append(f"{tag}: metric names differ from BENCHMARK.json")
    for m in declared:
        entry = got.get(m["name"], {})
        value = entry.get("value")
        if entry.get("unit") != m["unit"] or not isinstance(value, float):
            problems.append(f"{tag}: {m['name']} printed as {entry}")
        elif not trace and not value > 0:
            problems.append(f"{tag}: {m['name']} = {value}")
        pct = re.search(r"_p(\d+)_", m["name"])
        if pct and int(pct.group(1)) > 50:
            n = len(info.get("ops", []))
            beyond = int(n * (1 - int(pct.group(1)) / 100))
            if beyond < 10:
                problems.append(f"{tag}: {m['name']} has {beyond} samples "
                                f"beyond it")
    if trace:
        measured.update(set(got) - set(info.get("unmeasured", [])))


def check_bare_directory(spec: dict, problems: list[str]) -> None:
    bare = os.path.join(HERE, "_work", f"bare-{os.getpid()}")
    shutil.rmtree(bare, ignore_errors=True)
    os.makedirs(bare)
    try:
        shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
        for path in spec["paths"]:
            shutil.copytree(os.path.join(ROOT, path),
                            os.path.join(bare, path),
                            ignore=shutil.ignore_patterns("_work", "_cache",
                                                          "__pycache__"))
        env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
        cmd = spec["command"] + ["--workload", spec["workloads"][0]["name"],
                                 "--seed", "1", "--seconds", "1",
                                 "--trace", "0"]
        code, lines = run(cmd, bare, env)
        if code == 0 or any(line.startswith('{"correct"') for line in lines):
            problems.append(f"bare directory: exit {code}, printed a result")
    finally:
        shutil.rmtree(bare, ignore_errors=True)


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    problems: list[str] = []
    measured: set[str] = set()
    for w in spec["workloads"]:
        for trace in (0, 1):
            check_run(spec, w["name"], trace, problems, measured)
    unmeasured = {m["name"] for m in spec["per_layer"]} - measured
    if unmeasured:
        problems.append(f"per-layer metrics no workload measures: "
                        f"{sorted(unmeasured)}")
    check_bare_directory(spec, problems)
    for p in problems:
        print("FAIL", p)
    print("selftest:", "FAILED" if problems else "ok")
    return 1 if problems else 0


if __name__ == "__main__":
    sys.exit(main())
