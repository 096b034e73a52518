"""Drift-diff benchmark: ``compare_all`` and the ignorable-column wizard.

    python3 perfbench/run.py --workload catalog --seed 1 --seconds 14 --trace 0

Run from the repository root. The seeded fixture (two parquet databases
and the DuckDB oracle's expectations, see fixtures.py) is built and cached
under ``.perfbench_work/`` before any timer starts. The run itself happens
in a fresh process (worker.py) with ``SPARK_GRAFT_CPUS`` set to the CPUs
this process may use, so set-up time is what a new user process pays.

Prints one detail line (every sample, host weather per timed call,
oracle mismatches, input sizes) and then, as the last line, the result:
``{"correct", "attempted", "failed", "metrics"}``. ``--trace 0`` reports
the end-to-end metrics, ``--trace 1`` the per-layer ones (LAYERS.md says
which end-to-end metric each should move, and on which workload).
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
WORKLOADS = ("catalog", "bulk")
RUN_TIMEOUT_S = 170.0
HEAP = "3g"  # the Spark driver's heap (local mode: executors run inside it)
# worker.calibrate() on an idle 4-core host (Xeon, 2.1 GHz): CPU times are
# reported as if the host ran at that speed.
CALIB_REF_S = 0.138


def _stop_group(proc: subprocess.Popen) -> None:
    """Stop the worker's process group (the worker, its Spark JVM and
    Python daemons) and wait until none of it is left. A worker that has
    exited leaves only idle daemons, which take ~1.5 s to obey SIGTERM, so
    they get SIGKILL at once."""
    signals = (signal.SIGKILL,) if proc.poll() is not None else (signal.SIGTERM, signal.SIGKILL)
    for sig in signals:
        try:
            os.killpg(proc.pid, sig)
        except ProcessLookupError:
            break
        deadline = time.monotonic() + 10.0
        while time.monotonic() < deadline:
            proc.poll()
            try:
                os.killpg(proc.pid, 0)
            except ProcessLookupError:
                return
            time.sleep(0.1)
    proc.wait()


def _end_to_end(doc: dict, spawn_wall: float, rows: int) -> dict:
    # Means over a fixed run of calls, not medians: JIT compilation that
    # one call triggers is often done during the next, and a mean over the
    # run counts it once wherever it lands.
    # CPU times scaled to the reference host speed: the whole machine
    # drifts by a third within half an hour, which moves CPU time as much
    # as wall time.
    speed = CALIB_REF_S / doc["calib_s"]
    compare_cpu_s = statistics.fmean(doc["compare_cpu_samples"]) * speed
    return {
        "setup_s": (doc["ready_wall"] - spawn_wall, "s"),
        "first_compare_cpu_s": (doc["first_compare_cpu_s"] * speed, "cpu_s"),
        "compare_cpu_s": (compare_cpu_s, "cpu_s"),
        "rows_per_cpu_s": (rows / compare_cpu_s, "rows/cpu_s"),
        "suggest_cpu_s": (statistics.fmean(doc["suggest_cpu_samples"]) * speed, "cpu_s"),
    }


def _per_layer(doc: dict, expected: dict) -> dict:
    layers, counts = doc["layers"], doc["counts"]
    warm, cold = doc["warm"], doc["cold"]
    plain_s = statistics.fmean(doc["compare_samples"])
    return {
        "sources.catalog_s": (doc["catalog_s"], "s"),
        "sources.scan_s": (layers["scan_s"], "s"),
        "sources.rows_db1": (expected["rows"][0], "rows"),
        "sources.rows_db2": (expected["rows"][1], "rows"),
        "sources.bytes_db1": (expected["bytes"][0], "bytes"),
        "sources.bytes_db2": (expected["bytes"][1], "bytes"),
        "hashing.arrow_s": (layers["arrow_s"], "s"),
        "hashing.jvm_s": (layers["jvm_s"], "s"),
        "hashing.py_start_s": (cold["py_start_s"], "s"),
        "hashing.py_run_s": (warm["py_run_s"], "s"),
        "diff.call_s": (layers["call_s"], "s"),
        "diff.probe_execs": (counts["probe_execs"], "count"),
        "diff.exec_s": (layers["exec_s"], "s"),
        "diff.fast_path_tables": (counts["fast_path_tables"], "count"),
        "diff.groupby_tables": (counts["groupby_tables"], "count"),
        "compare.first_wall_s": (doc["first_compare_s"], "s"),
        "compare.wall_s": (plain_s, "s"),
        "compare.serial_s": (layers["serial_s"], "s"),
        "compare.overlap_ratio": (layers["serial_s"] / plain_s, "ratio"),
        "compare.sql_execs": (warm["sql_execs"], "count"),
        "compare.shuffle_write_bytes": (warm["shuffle_write_bytes"], "bytes"),
        "compare.output_bytes": (doc["output_bytes"], "bytes"),
        "trace.overhead_s": (doc["traced_s"] - plain_s, "s"),
        "analysis.write_s": (doc["analysis_write_s"], "s"),
        "analysis.report_s": (doc["analysis_report_s"], "s"),
        "wizard.sweep_wall_s": (doc["suggest_samples"][0], "s"),
        "wizard.table_s": (doc["wizard_table_s"], "s"),
        "wizard.columns": (doc["wizard_columns"], "count"),
        "session.jvm_peak_rss_mb": (doc["jvm_peak_rss_mb"], "MB"),
        "host.calib_s": (doc["calib_s"], "s"),
        "host.steal_pct": (doc["steal_pct"], "%"),
        "host.load_delta": (doc["load_delta"], "load"),
        "failed_frac": (doc["failed"] / max(1, doc["attempted"]), "ratio"),
    }


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), required=True)
    ap.add_argument("--scale", type=float, default=None,
                    help="override the workload's TPC-H scale factor (smoke test)")
    ap.add_argument("--corrupt-expected", action="store_true",
                    help="make the oracle expect a wrong count (smoke test)")
    ap.add_argument("--skip-table", action="store_true",
                    help="make compare_all skip a zero-drift table (smoke test)")
    args = ap.parse_args()

    if not (ROOT / "lotad_spark" / "__init__.py").is_file():
        print(f"perfbench: no lotad_spark package under {ROOT}; run from a "
              "checkout of the repository", file=sys.stderr)
        return 2
    sys.path.insert(0, str(HERE))
    import fixtures

    start = time.monotonic()
    work_root = ROOT / ".perfbench_work"
    wl = fixtures.workload(args.workload, args.seed, args.scale)
    fixture = fixtures.build(str(work_root / "fixtures"), wl, args.seed)
    expected = json.loads((fixture / "expected.json").read_text())

    work = work_root / f"run-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)
    out = work / "result.json"
    env = dict(os.environ)
    env.update({
        "SPARK_GRAFT_CPUS": str(len(os.sched_getaffinity(0))),
        "PYTHONPATH": os.pathsep.join(filter(None, [str(ROOT), env.get("PYTHONPATH")])),
        "SPARK_LOCAL_DIRS": str(work / "spark-local"),
        "TMPDIR": str(work / "tmp"),
        # Keep every JVM's temporary files (Spark's launcher included) inside
        # the checkout; -UsePerfData: no hsperfdata file in the system /tmp.
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={work / 'tmp'} -XX:-UsePerfData",
        # A fixed heap, committed at start (the launcher passes
        # SPARK_SUBMIT_OPTS to the driver JVM only). By default the heap
        # follows the host's free memory and G1 grows it from a small
        # start; runs then split into ones with ~0.2 and ~2.7 CPU-seconds
        # of collection per warm compare.
        "SPARK_GRAFT_DRIVER_MEM": HEAP,
        "SPARK_SUBMIT_OPTS": f"-Xms{HEAP}",
    })
    cmd = [sys.executable, str(HERE / "worker.py"), "--fixture", str(fixture),
           "--work", str(work), "--seconds", str(args.seconds),
           "--trace", str(args.trace), "--out", str(out)]
    for flag in ("corrupt_expected", "skip_table"):
        if getattr(args, flag):
            cmd.append("--" + flag.replace("_", "-"))
    log_path = work / "worker.log"
    with open(log_path, "w") as log:
        spawn_wall = time.time()
        proc = subprocess.Popen(cmd, cwd=str(work), env=env, stdout=log,
                                stderr=subprocess.STDOUT, start_new_session=True)
        try:
            proc.wait(timeout=max(10.0, RUN_TIMEOUT_S - (time.monotonic() - start)))
        except subprocess.TimeoutExpired:
            print("perfbench: worker timed out", file=sys.stderr)
        finally:
            _stop_group(proc)
    if proc.returncode != 0 or not out.is_file():
        tail = log_path.read_text(errors="replace").splitlines()[-30:]
        print("perfbench: worker failed\n" + "\n".join(tail), file=sys.stderr)
        return 1
    doc = json.loads(out.read_text())
    shutil.rmtree(work, ignore_errors=True)

    rows = expected["rows"][0] + expected["rows"][1]
    metrics = _per_layer(doc, expected) if args.trace else _end_to_end(doc, spawn_wall, rows)
    detail = {
        "workload": args.workload, "seed": args.seed, "scale": wl.scale,
        "input_rows": expected["rows"], "input_bytes": expected["bytes"],
        "compare_samples": doc["compare_samples"], "compare_count": len(doc["compare_samples"]),
        "compare_cpu_samples": doc.get("compare_cpu_samples"),
        "suggest_samples": doc["suggest_samples"], "suggest_count": len(doc["suggest_samples"]),
        "suggest_cpu_samples": doc.get("suggest_cpu_samples"),
        "calib_samples": doc["calib_samples"],
        "high_steal_calls": [c["call"] for c in doc["calls"] if c["high_steal"]],
        "calls": [{k: c[k] for k in ("call", "s", "cpu_s", "steal_pct", "load_delta")} for c in doc["calls"]],
        "problems": doc["problems"],
    }
    print(json.dumps({"detail": detail}))
    print(json.dumps({
        "correct": doc["failed"] == 0,
        "attempted": doc["attempted"],
        "failed": doc["failed"],
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
