"""Smoke test of the benchmark itself, on sf0.001-sized inputs.

    python3 perfbench/smoke.py

Run from the repository root. Checks that

* for each workload and both trace modes, the last line holds exactly the
  result keys, ``correct`` is true, and every metric BENCHMARK.json names
  is printed with its unit;
* a wrong expected drift count, and a table that ``compare_all`` skips
  with a warning, are each reported as failed operations, with every
  metric still printed (not a crash, not a pass);
* in a directory holding only BENCHMARK.json and the benchmark's files, the
  benchmark exits non-zero without printing a result.

Exits non-zero on the first failed check.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
SPEC = json.loads((ROOT / "BENCHMARK.json").read_text())
RESULT_KEYS = {"correct", "attempted", "failed", "metrics"}


def bench(*extra: str, cwd: Path = ROOT) -> tuple[int, list[str]]:
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--seed", "7", "--seconds", "1", *extra],
        cwd=cwd, capture_output=True, text=True, timeout=300,
    )
    if proc.returncode:
        print(proc.stderr[-2000:], file=sys.stderr)
    return proc.returncode, proc.stdout.strip().splitlines()


def result(lines: list[str]) -> dict:
    doc = json.loads(lines[-1])
    assert set(doc) == RESULT_KEYS, f"result keys {sorted(doc)}"
    assert isinstance(doc["attempted"], int) and doc["attempted"] >= 1, doc["attempted"]
    return doc


def check_metrics(doc: dict, trace: int) -> None:
    want = {m["name"]: m["unit"] for m in SPEC["per_layer" if trace else "end_to_end"]}
    got = {k: v["unit"] for k, v in doc["metrics"].items()}
    assert got == want, f"metrics/units differ: {sorted(set(got.items()) ^ set(want.items()))}"
    for k, v in doc["metrics"].items():
        assert isinstance(v["value"], (int, float)), (k, v)


def main() -> int:
    for w in (w["name"] for w in SPEC["workloads"]):
        for trace in (0, 1):
            code, lines = bench("--workload", w, "--trace", str(trace), "--scale", "0.001")
            assert code == 0, f"{w} trace={trace} exited {code}"
            doc = result(lines)
            assert doc["correct"] and doc["failed"] == 0, f"{w} trace={trace}: {lines[-2]}"
            check_metrics(doc, trace)
            print(f"ok: {w} trace={trace} attempted={doc['attempted']}")

    w = SPEC["workloads"][0]["name"]
    for flag in ("--corrupt-expected", "--skip-table"):
        code, lines = bench("--workload", w, "--trace", "0", "--scale", "0.001", flag)
        assert code == 0, f"{flag} run exited {code}"
        doc = result(lines)
        assert not doc["correct"] and doc["failed"] >= 1, f"{flag} not counted: {doc}"
        check_metrics(doc, 0)
        print(f"ok: {flag} -> failed={doc['failed']} of {doc['attempted']}")

    bare = ROOT / ".perfbench_work" / f"bare-{os.getpid()}"
    shutil.rmtree(bare, ignore_errors=True)
    bare.mkdir(parents=True)
    try:
        shutil.copy(ROOT / "BENCHMARK.json", bare)
        for path in SPEC["paths"]:
            shutil.copytree(ROOT / path, bare / path,
                            ignore=shutil.ignore_patterns("__pycache__"))
        code, lines = bench("--workload", w, "--trace", "0", cwd=bare)
        assert code != 0, "bare directory run exited 0"
        assert not any(line.startswith("{\"correct\"") for line in lines), lines
        print(f"ok: bare directory -> exit {code}, no result")
    finally:
        shutil.rmtree(bare, ignore_errors=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
