"""CPU per JVM thread group over warm ``compare_all`` calls.

    python scripts/thread_cpu.py --workload catalog --seed 1 --compares 6

Run from the repository root. It builds (or reuses) the perfbench fixture
of ``--workload`` under ``.perfbench_work/fixtures``, starts one local
session, runs ``--warmup`` untimed compares and then ``--compares`` timed
ones. Over the timed compares it prints:

* the CPU of the session JVM's threads, by group: compiler (C1/C2),
  executor tasks, py4j (``Thread-N``), GC, dag-scheduler and other;
* the CPU of this Python process, less the poller's;
* the JIT's compile time (``CompilationMXBean``), Spark's whole-stage
  codegen compiles (``CodegenMetrics``) and the classes loaded.

``--warmup 0 --compares 1`` measures the cold compare.

Thread CPU is read from ``/proc/<jvm pid>/task/*/stat``. A poller samples
every 20 ms, so a thread that exits during the timed compares (compiler
threads come and go) keeps the CPU of its last sample: at most 20 ms of
its CPU is lost. The script reads only its own processes and changes no
setting of the machine.
"""

from __future__ import annotations

import argparse
import os
import re
import sys
import threading
import time
from collections import defaultdict
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
POLL_S = 0.02
GROUPS = (
    ("compiler", re.compile(r"^C[12] CompilerThre")),
    ("executor tasks", re.compile(r"^Executor task")),
    ("py4j (Thread-N)", re.compile(r"^Thread-\d+$")),
    ("gc", re.compile(r"^(GC |G1 )")),
    ("dag-scheduler", re.compile(r"^dag-scheduler")),
)
TICK_S = 1.0 / os.sysconf("SC_CLK_TCK")


def group_of(comm: str) -> str:
    for name, pattern in GROUPS:
        if pattern.match(comm):
            return name
    return "other"


def _threads(pid: int) -> dict[tuple[int, int], tuple[str, int]]:
    """(tid, start time) -> (comm, utime + stime in ticks) of every live
    thread of ``pid``. The start time tells a reused tid apart."""
    out = {}
    task = f"/proc/{pid}/task"
    for tid in os.listdir(task):
        try:
            with open(f"{task}/{tid}/stat") as fh:
                stat = fh.read()
        except OSError:  # the thread exited
            continue
        comm = stat[stat.index("(") + 1 : stat.rindex(")")]
        fields = stat[stat.rindex(")") + 2 :].split()
        # fields[0] is stat field 3 (state): utime, stime, starttime are 14, 15, 22
        out[(int(tid), int(fields[19]))] = (comm, int(fields[11]) + int(fields[12]))
    return out


class ThreadCpu:
    """Per-thread CPU of one process between ``start()`` and ``stop()``."""

    def __init__(self, pid: int) -> None:
        self.pid = pid
        self._base: dict = {}
        self._last: dict = {}
        self._done = threading.Event()
        self._poller = threading.Thread(target=self._poll, daemon=True)
        self.poller_cpu_s = 0.0  # the poller's own CPU, in this process

    def _poll(self) -> None:
        while not self._done.wait(POLL_S):
            self._last.update(_threads(self.pid))
        self.poller_cpu_s = time.thread_time()

    def start(self) -> None:
        self._base = _threads(self.pid)
        self._last = dict(self._base)
        self._poller.start()

    def stop(self) -> dict[str, float]:
        self._done.set()
        self._poller.join()
        self._last.update(_threads(self.pid))
        by_group: dict[str, float] = defaultdict(float)
        for key, (comm, ticks) in self._last.items():
            base = self._base.get(key, (comm, 0))[1]
            by_group[group_of(comm)] += (ticks - base) * TICK_S
        return dict(by_group)


def _jvm_counters(spark) -> dict[str, float]:
    jvm = spark._jvm
    mx = jvm.java.lang.management.ManagementFactory
    return {
        "jit compile s": mx.getCompilationMXBean().getTotalCompilationTime() / 1e3,
        "codegen compiles": jvm.org.apache.spark.metrics.source.CodegenMetrics
        .METRIC_COMPILATION_TIME().getCount(),
        "classes loaded": mx.getClassLoadingMXBean().getTotalLoadedClassCount(),
    }


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", default="catalog", choices=("catalog", "bulk"))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--warmup", type=int, default=4)
    ap.add_argument("--compares", type=int, default=6)
    args = ap.parse_args()

    sys.path[:0] = [str(ROOT), str(ROOT / "perfbench")]
    import fixtures

    from lotad_spark.compare import compare_all
    from lotad_spark.session import get_spark
    from lotad_spark.sources.parquet import ParquetDatabase

    fixture = fixtures.build(
        str(ROOT / ".perfbench_work" / "fixtures"),
        fixtures.workload(args.workload, args.seed),
        args.seed,
    )
    spark = get_spark("thread_cpu")
    d1 = ParquetDatabase(spark, str(fixture / "db1"), "db1")
    d2 = ParquetDatabase(spark, str(fixture / "db2"), "db2")
    out = str(ROOT / ".perfbench_work" / "thread_cpu_out")

    def run() -> None:
        compare_all(spark, d1, d2, output_path=out).report()

    for _ in range(args.warmup):
        run()
    threads = ThreadCpu(int(spark._jvm.java.lang.ProcessHandle.current().pid()))
    before = _jvm_counters(spark)
    py0, wall0 = time.process_time(), time.perf_counter()
    threads.start()
    for _ in range(args.compares):
        run()
    cpu = threads.stop()
    py_s = time.process_time() - py0 - threads.poller_cpu_s
    wall_s = time.perf_counter() - wall0
    after = _jvm_counters(spark)
    spark.stop()

    n = args.compares
    print(f"{args.workload} seed {args.seed}: {n} compares after {args.warmup} "
          f"warm-up, per compare")
    print(f"  {'wall s':<18}{wall_s / n:8.3f}")
    for name in [g for g, _ in GROUPS] + ["other"]:
        print(f"  {name:<18}{cpu.get(name, 0.0) / n:8.3f} cpu_s")
    print(f"  {'jvm total':<18}{sum(cpu.values()) / n:8.3f} cpu_s")
    print(f"  {'python process':<18}{py_s / n:8.3f} cpu_s")
    for key in after:
        print(f"  {key:<18}{(after[key] - before[key]) / n:8.3f}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
