"""Self-test: run every workload tiny, untraced and traced, and check the
result line against BENCHMARK.json.

    python3 perfbench/selftest.py

Each run uses sf0.001 tables and a 2000-line corpus. The test asserts that
every run exits 0 with a correct result, that every metric named in
BENCHMARK.json is reported with its unit, that each per-layer metric is
non-zero on at least one workload (a layer nobody fills is a broken
probe), and that the command fails without a result when the package is
missing.
"""

from __future__ import annotations

import json
import math
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

from run import WORKLOADS  # noqa: E402

TINY = ["--sf", "0.001", "--lines", "2000", "--seconds", "1"]
#: Per-layer counters that stay zero on a healthy run.
FAULT_COUNTERS = {"spark.exec.spill_bytes", "spark.exec.failed_tasks"}


def run(workload: str, trace: int, cwd: str = ROOT) -> tuple[int, list[str]]:
    cmd = [sys.executable, os.path.join(cwd, "perfbench", "run.py"),
           "--workload", workload, "--seed", "7", "--trace", str(trace), *TINY]
    out = subprocess.run(cmd, cwd=cwd, capture_output=True, text=True, timeout=600)
    if out.returncode and cwd == ROOT:
        sys.stderr.write(out.stderr[-4000:])
    return out.returncode, out.stdout.strip().splitlines()


def check_result(lines: list[str], wanted: list[dict]) -> dict:
    result = json.loads(lines[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}, result.keys()
    assert result["correct"] is True and result["failed"] == 0, lines[-2:]
    assert isinstance(result["attempted"], int) and result["attempted"] >= 1
    metrics = result["metrics"]
    assert [m["name"] for m in wanted] == list(metrics), sorted(set(metrics) ^ {m["name"] for m in wanted})
    for m in wanted:
        got = metrics[m["name"]]
        assert got["unit"] == m["unit"], (m["name"], got)
        assert isinstance(got["value"], float) and math.isfinite(got["value"]), (m["name"], got)
    return {k: v["value"] for k, v in metrics.items()}


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    listed = {w["name"] for w in spec["workloads"]}
    assert listed <= set(WORKLOADS), listed - set(WORKLOADS)
    nonzero: set[str] = set()
    for workload in WORKLOADS:
        for trace, wanted in ((0, spec["end_to_end"]), (1, spec["per_layer"])):
            code, lines = run(workload, trace)
            assert code == 0, (workload, trace, code)
            values = check_result(lines, wanted)
            if trace == 0:
                assert all(v > 0 for v in values.values()), (workload, values)
            nonzero |= {k for k, v in values.items() if v}
            print(f"ok {workload} trace={trace}", flush=True)
    dead = {m["name"] for m in spec["per_layer"]} - nonzero - FAULT_COUNTERS
    assert not dead, f"per-layer metrics zero on every workload: {sorted(dead)}"

    bare = os.path.join(ROOT, ".perfbench", "selftest-bare")
    shutil.rmtree(bare, ignore_errors=True)
    shutil.copytree(HERE, os.path.join(bare, "perfbench"),
                    ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
    code, lines = run(spec["workloads"][0]["name"], 0, cwd=bare)
    shutil.rmtree(bare, ignore_errors=True)
    assert code != 0 and not lines, (code, lines)
    print("ok missing package fails without a result")
    return 0


if __name__ == "__main__":
    sys.exit(main())
