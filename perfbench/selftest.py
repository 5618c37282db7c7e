"""The benchmark's own check, on tiny inputs.

    python3 perfbench/selftest.py

Run from the root of a checkout. For every workload in BENCHMARK.json
it runs ``run.py --tiny`` untraced and traced, and asserts that the
last line of output has exactly the keys ``correct``, ``attempted``,
``failed`` and ``metrics``, that the outputs were correct, and that
every metric BENCHMARK.json names is printed with its unit (end-to-end
metrics untraced, never 0; per-layer metrics traced). It also checks
that the benchmark fails, printing no result, in a directory that holds
only BENCHMARK.json and the benchmark's files.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def run_bench(cwd: str, workload: str, trace: int) -> tuple[int, str]:
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "7",
           "--seconds", "1", "--trace", str(trace), "--tiny"]
    p = subprocess.run(cmd, cwd=cwd, capture_output=True, text=True, timeout=600)
    return p.returncode, p.stdout


def check_result(spec: dict, workload: str, trace: int) -> None:
    code, out = run_bench(ROOT, workload, trace)
    assert code == 0, f"{workload} trace={trace}: exit {code}"
    result = json.loads(out.strip().splitlines()[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}, result.keys()
    assert result["correct"] is True, result
    assert result["attempted"] >= 1 and result["failed"] == 0, result
    wanted = spec["per_layer"] if trace else spec["end_to_end"]
    metrics = result["metrics"]
    assert set(metrics) == {m["name"] for m in wanted}, set(metrics) ^ {m["name"] for m in wanted}
    for m in wanted:
        got = metrics[m["name"]]
        assert got["unit"] == m["unit"], (m["name"], got)
        assert isinstance(got["value"], (int, float)), (m["name"], got)
        if not trace:
            assert got["value"] > 0, (m["name"], got)
    print(f"ok  {workload} trace={trace}: {len(metrics)} metrics", flush=True)


def check_fails_without_program(spec: dict) -> None:
    bare = os.path.join(ROOT, ".perfbench", "selftest-bare")
    shutil.rmtree(bare, ignore_errors=True)
    os.makedirs(bare)
    try:
        shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
        for p in spec["paths"]:
            shutil.copytree(os.path.join(ROOT, p), os.path.join(bare, p),
                            ignore=shutil.ignore_patterns("__pycache__"))
        code, out = run_bench(bare, spec["workloads"][0]["name"], 0)
        assert code != 0, "benchmark succeeded without the program"
        assert '"metrics"' not in out, out
    finally:
        shutil.rmtree(bare, ignore_errors=True)
    print("ok  fails without the program", flush=True)


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    check_fails_without_program(spec)
    for w in spec["workloads"]:
        for trace in (0, 1):
            check_result(spec, w["name"], trace)
    print("selftest passed")
    return 0


if __name__ == "__main__":
    sys.exit(main())
