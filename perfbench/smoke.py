"""Smoke test of the benchmark itself, at the tiny input size.

    python3 perfbench/smoke.py

Runs every workload of ``BENCHMARK.json`` untraced and traced with
``--size tiny --seconds 2`` and asserts that the last line is the
result object, that it names every metric of its mode with the unit
``BENCHMARK.json`` gives, and that the correctness checks ran and
passed. Then runs the benchmark from a directory that holds only
``BENCHMARK.json`` and the benchmark's own files, where it must fail
without a result line. Takes about three minutes on 4 cores.
"""

from __future__ import annotations

import json
import re
import shutil
import subprocess
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent


def run(cwd: Path, workload: str, trace: int) -> subprocess.CompletedProcess:
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    cmd = [
        *spec["command"],
        "--workload", workload,
        "--seed", "1",
        "--seconds", "2",
        "--trace", str(trace),
        "--size", "tiny",
    ]
    return subprocess.run(cmd, cwd=cwd, capture_output=True, text=True, timeout=300)


def check_result(spec: dict, workload: str, trace: int) -> None:
    p = run(ROOT, workload, trace)
    assert p.returncode == 0, f"{workload} trace={trace} exited {p.returncode}: {p.stderr[-2000:]}"
    result = json.loads(p.stdout.strip().splitlines()[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}, result.keys()
    assert result["correct"] is True and result["failed"] == 0, result
    assert result["attempted"] >= 1, result
    wanted = spec["per_layer" if trace else "end_to_end"]
    got = result["metrics"]
    assert set(got) == {m["name"] for m in wanted}, set(got) ^ {m["name"] for m in wanted}
    for m in wanted:
        assert got[m["name"]]["unit"] == m["unit"], (m, got[m["name"]])
        assert isinstance(got[m["name"]]["value"], (int, float)), m
    checks = re.search(r"perfbench: checks=(\d+)", p.stderr)
    assert checks and int(checks.group(1)) > 0, "no correctness checks ran"
    print(f"ok {workload} trace={trace} attempted={result['attempted']} checks={checks.group(1)}")


def check_bare_dir(spec: dict) -> None:
    """Without the engine next to it the benchmark must fail cleanly."""
    bare = ROOT / ".perfbench_work" / "bare"
    shutil.rmtree(bare, ignore_errors=True)
    bare.mkdir(parents=True)
    try:
        shutil.copy(ROOT / "BENCHMARK.json", bare)
        for path in spec["paths"]:
            shutil.copytree(
                ROOT / path, bare / path, ignore=shutil.ignore_patterns("__pycache__")
            )
        p = run(bare, spec["workloads"][0]["name"], 0)
        assert p.returncode != 0, "benchmark succeeded without the engine"
        assert '"metrics"' not in p.stdout, "benchmark printed a result without the engine"
        print(f"ok bare directory exits {p.returncode}")
    finally:
        shutil.rmtree(bare, ignore_errors=True)


def main() -> int:
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    for w in spec["workloads"]:
        for trace in (0, 1):
            check_result(spec, w["name"], trace)
    check_bare_dir(spec)
    return 0


if __name__ == "__main__":
    sys.exit(main())
