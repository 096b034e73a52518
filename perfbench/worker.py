"""One benchmark run inside a fresh process (see run.py, which spawns it).

Untraced (``--trace 0``): set up a session, run ``compare_all`` once cold,
two warm-up sweeps of ``suggest_ignore_columns`` over the workload's wizard
tables and one warm-up ``compare_all``, then a fixed number of warm
``compare_all`` calls (``--seconds`` worth, at least ``SAMPLES``), one more
warm-up sweep and ``SWEEPS`` sampled sweeps. Every timed call records its
wall time and the CPU time of this process and all its descendants
(``Host.tree_cpu``).

Traced (``--trace 1``): one wizard sweep and a few warm compares,
plus per-layer timings taken from outside the library, by calling each
layer's public functions on the same inputs and reading Spark's SQL status
store after each call.

Every compare and wizard call is checked against the DuckDB oracle in the
fixture's ``expected.json``; an exception, a mismatch, or a table that
``compare_all`` skipped with a warning counts as a failed operation and the
run goes on.

Writes one JSON document to ``--out``; run.py turns it into the result line.
"""

from __future__ import annotations

import argparse
import json
import logging
import os
import re
import shutil
import statistics
import time
import zlib
from pathlib import Path

TICKS = os.sysconf("SC_CLK_TCK")
HIGH_STEAL_PCT = 10.0  # a timed call above this steal share is flagged
# Sampled warm compares (~4.5 s each) and wizard sweeps (~1.3 s each) per
# run. The counts are fixed, never "until the clock runs out": CPU time per
# call still falls by several percent a call (JIT), so the samples must sit
# at the same place in that trend whatever the host's speed.
SAMPLES = 3
SWEEPS = 4
COMPARE_NOMINAL_S = 4.5  # --seconds buys one sampled compare per this much
# Warm-up sweeps right after the cold compare: they warm code the compares
# share with the wizard and give the JIT time to work off its queue.
WIZARD_WARMUPS = 2
# Idle time before each sampled call: the JIT compiler threads finish the
# work the previous call queued instead of charging it to the sample.
SETTLE_S = 0.5
SKIP_WARNING = "Failed to process table"  # compare_all's warning for a table it skipped
CALIB_ROUNDS = 30  # ~0.15 CPU-seconds of compression per calibration


def calibrate() -> float:
    """CPU seconds this thread takes for a fixed piece of work that does not
    touch the library: compressing a fixed 256 KiB buffer. It measures how
    fast the host runs code right now; a busy physical machine slows it as
    much as it slows the Spark JVM."""
    buf = bytes((i * 2654435761 >> 13) & 0xFF if i % 4 == 0 else 65 + i % 26
                for i in range(1 << 18))
    start = time.thread_time()
    for _ in range(CALIB_ROUNDS):
        zlib.compress(buf, 6)
    return time.thread_time() - start


class Host:
    """Times calls: wall time, CPU time of this process and its
    descendants, and the host weather over the call: CPU steal share
    (``/proc/stat``) and the change in 1-minute load average
    (``/proc/loadavg``)."""

    @staticmethod
    def _sample() -> tuple[int, int, float]:
        with open("/proc/stat") as fh:
            cpu = [int(x) for x in fh.readline().split()[1:]]
        with open("/proc/loadavg") as fh:
            load1 = float(fh.read().split()[0])
        steal = cpu[7] if len(cpu) > 7 else 0
        return steal, sum(cpu[:8]), load1

    def __init__(self) -> None:
        self.calls: list[dict] = []

    @staticmethod
    def tree_cpu() -> float:
        """CPU seconds used so far by this process and its descendants
        (the Spark JVM, the Python daemon and its workers): user + system
        time of each live process plus that of the children it reaped."""
        ppid, cpu = {}, {}
        for d in os.listdir("/proc"):
            if not d.isdigit():
                continue
            try:
                with open(f"/proc/{d}/stat") as fh:
                    f = fh.read().rsplit(")", 1)[1].split()
            except OSError:
                continue
            ppid[int(d)] = int(f[1])
            cpu[int(d)] = sum(int(x) for x in f[11:15])
        mine, frontier = {os.getpid()}, [os.getpid()]
        while frontier:
            parent = frontier.pop()
            for pid, pp in ppid.items():
                if pp == parent and pid not in mine:
                    mine.add(pid)
                    frontier.append(pid)
        return sum(cpu.get(p, 0) for p in mine) / TICKS

    def timed(self, name: str, fn, *args, **kwargs):
        """Run ``fn`` and record its wall time, CPU time and weather. Returns
        ``(result, seconds, error)``; exceptions are caught and returned so
        the run can count them as failures and continue."""
        s0, t0, l0 = self._sample()
        c0 = self.tree_cpu()
        start = time.perf_counter()
        result, error = None, None
        try:
            result = fn(*args, **kwargs)
        except Exception as exc:  # counted as a failed operation
            error = f"{type(exc).__name__}: {exc}"[:300]
        seconds = time.perf_counter() - start
        cpu_s = self.tree_cpu() - c0
        s1, t1, l1 = self._sample()
        steal_pct = 100.0 * (s1 - s0) / max(1, t1 - t0)
        self.calls.append({
            "call": name, "s": round(seconds, 4), "cpu_s": round(cpu_s, 2),
            "steal_pct": round(steal_pct, 2),
            "load_delta": round(l1 - l0, 2), "high_steal": steal_pct > HIGH_STEAL_PCT,
            "steal_jiffies": s1 - s0, "total_jiffies": t1 - t0,
        })
        return result, seconds, error

    def steal_pct(self) -> float:
        steal = sum(c["steal_jiffies"] for c in self.calls)
        total = sum(c["total_jiffies"] for c in self.calls)
        return 100.0 * steal / max(1, total)

    def load_delta(self) -> float:
        return statistics.fmean(c["load_delta"] for c in self.calls)


class SkippedTables(logging.Handler):
    """Collects ``compare_all``'s "Failed to process table" warnings: the
    table was skipped, which its result cannot tell from zero drift."""

    def __init__(self) -> None:
        super().__init__(logging.WARNING)
        self.messages: list[str] = []

    def emit(self, record: logging.LogRecord) -> None:
        msg = record.getMessage()
        if msg.startswith(SKIP_WARNING):
            self.messages.append(msg[:300])


class StatusStore:
    """Reads SQL executions and node metrics from the session's status
    store (works with the UI disabled). The store is filled asynchronously
    from the listener bus, so every read first waits for the bus to drain."""

    _DURATION = {"ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0}
    _SIZE = {"B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30, "TiB": 1 << 40}

    def __init__(self, spark) -> None:
        self.store = spark._jsparkSession.sharedState().statusStore()
        self.bus = spark.sparkContext._jsc.sc().listenerBus()

    def _ids(self) -> list[int]:
        self.bus.waitUntilEmpty()
        it = self.store.executionsList().iterator()
        ids = []
        while it.hasNext():
            ids.append(int(it.next().executionId()))
        return ids

    def next_id(self) -> int:
        """One above the largest execution id so far: every later action
        gets an id at least this large (ids only grow; evictions and
        executions still queued on the bus cannot shift it)."""
        return max(self._ids(), default=-1) + 1

    def executions_since(self, first_id: int) -> list[int]:
        return [i for i in self._ids() if i >= first_id]

    @classmethod
    def _value(cls, rendered: str, kind: str) -> float:
        # "2.4 s" for one task, "total (min, med, max ...)\n2.4 s (...)" for many
        text = rendered.split("\n")[-1]
        m = re.match(r"\s*([\d,.]+)\s*([A-Za-z]+)?", text)
        if not m:
            return 0.0
        num = float(m.group(1).replace(",", ""))
        unit = m.group(2) or ""
        if kind == "timing":
            return num * cls._DURATION.get(unit, 1e-3)
        if kind == "size":
            return num * cls._SIZE.get(unit, 1)
        return num

    def metrics_since(self, first_id: int) -> dict[str, float]:
        """Sum of the node metrics this benchmark reads, over executions
        with id >= ``first_id``."""
        want = {
            ("ArrowEvalPython", "time to start Python workers"): "py_start_s",
            ("ArrowEvalPython", "time to run Python workers"): "py_run_s",
            ("Exchange", "shuffle bytes written"): "shuffle_write_bytes",
        }
        out = {v: 0.0 for v in want.values()}
        execs = self.executions_since(first_id)
        out["sql_execs"] = len(execs)
        for eid in execs:
            values = self.store.executionMetrics(eid)
            nodes = self.store.planGraph(eid).allNodes().iterator()
            while nodes.hasNext():
                node = nodes.next()
                ms = node.metrics().iterator()
                while ms.hasNext():
                    m = ms.next()
                    key = want.get((node.name().strip(), m.name()))
                    v = values.get(m.accumulatorId())
                    if key and v.isDefined():
                        out[key] += self._value(v.get(), m.metricType())
        return out


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _dir_bytes(path: str) -> int:
    return sum(p.stat().st_size for p in Path(path).rglob("*") if p.is_file())


def _jvm_peak_rss_mb(spark) -> float:
    pid = spark._jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


class Checker:
    """Compares engine outputs with the oracle's expectations."""

    def __init__(self, expected: dict) -> None:
        self.expected = expected
        self.attempted = 0
        self.failed = 0
        self.problems: list[str] = []

    def _record(self, what: str, problems: list[str]) -> None:
        self.attempted += 1
        if problems:
            self.failed += 1
            self.problems.extend(f"{what}: {p}" for p in problems)

    def compare(self, what: str, res, error: str | None, skipped: list[str]) -> None:
        if error:
            return self._record(what, [error])
        exp = self.expected
        problems = list(skipped)
        want = {t: (v["rows_only_in_db1"], v["rows_only_in_db2"])
                for t, v in exp["tables"].items()
                if v["rows_only_in_db1"] or v["rows_only_in_db2"]}
        got = {d.table_name: (d.rows_only_in_db1, d.rows_only_in_db2) for d in res.data_drift}
        if got != want:
            problems.append(f"drift {got} != oracle {want}")
        if sorted(res.compared_tables) != sorted(exp["tables"]):
            problems.append(f"compared {sorted(res.compared_tables)}")
        missing = sorted(r["table_name"].strip('"') for r in res.analysis.get_missing_table_drift())
        if missing != exp["missing"]:
            problems.append(f"missing tables {missing} != {exp['missing']}")
        schema = sorted({(r["table_name"].strip('"'), r["column_name"].strip('"'))
                         for r in res.analysis.get_table_schema_drift()})
        want_schema = sorted((t, c) for t, v in exp["tables"].items() for c in v["schema_drift"])
        if schema != want_schema:
            problems.append(f"schema drift {schema} != {want_schema}")
        self._record(what, problems)

    def wizard(self, table: str, got, error: str | None) -> None:
        if error:
            return self._record(f"wizard {table}", [error])
        want = self.expected["tables"][table]["ignorable"]
        self._record(f"wizard {table}", [] if sorted(got) == sorted(want)
                     else [f"suggested {sorted(got)} != oracle {want}"])


class Run:
    """The calls of one run: set-up, the cold compare, warm-up sweeps and a
    warm-up compare, the warm compares, then (untraced) a warm-up sweep and
    the sampled sweeps. Sampled compares and sweeps are not interleaved:
    the first sweep after a compare recompiles code the JIT had specialised
    for the compares, and costs about twice the CPU of the next one."""

    def __init__(self, args) -> None:
        from lotad_spark.session import get_spark
        from lotad_spark.sources.parquet import ParquetDatabase

        self.spark = get_spark("perfbench")
        self.spark.range(1).count()
        self.doc: dict = {"ready_wall": time.time()}

        fixture = Path(args.fixture)
        self.expected = json.loads((fixture / "expected.json").read_text())
        if args.corrupt_expected:
            first = sorted(self.expected["tables"])[0]
            self.expected["tables"][first]["rows_only_in_db1"] += 1
        self.table_queries = {}
        if args.skip_table:
            # A custom query that cannot resolve: compare_all skips the
            # table with a warning. Pick one with zero expected drift, whose
            # drift counts alone cannot show the skip.
            tables = self.expected["tables"]
            t = min(tables, key=lambda n: (tables[n]["rows_only_in_db1"] + tables[n]["rows_only_in_db2"], n))
            self.table_queries = {t: f"SELECT no_such_column FROM {t}"}
        self.check = Checker(self.expected)
        self.host = Host()
        self.wizard_table_s: list[float] = []
        self.calib: list[float] = []  # calibrate() before the cold and each sampled call
        self.d1 = ParquetDatabase(self.spark, str(fixture / "db1"), "db1")
        self.d2 = ParquetDatabase(self.spark, str(fixture / "db2"), "db2")
        self.work = Path(args.work)
        self.out_dir = str(self.work / "drift_out")
        self.store = StatusStore(self.spark) if args.trace else None

    def shared_tables(self) -> list[str]:
        return sorted(set(self.d1.list_tables()) & set(self.d2.list_tables()))

    def _compare(self):
        from lotad_spark.compare import compare_all

        res = compare_all(self.spark, self.d1, self.d2, output_path=self.out_dir,
                          table_queries=self.table_queries)
        res.report()
        return res

    def compare(self, name: str):
        skipped = SkippedTables()
        logger = logging.getLogger("lotad_spark.compare")
        logger.addHandler(skipped)
        try:
            res, s, err = self.host.timed(name, self._compare)
        finally:
            logger.removeHandler(skipped)
        self.check.compare(name, res, err, skipped.messages)
        return res, s, self.host.calls[-1]["cpu_s"]

    def cold(self) -> None:
        n0 = self.store.next_id() if self.store else 0
        self.calib.append(calibrate())
        _, self.doc["first_compare_s"], self.doc["first_compare_cpu_s"] = self.compare("compare_cold")
        if self.store:
            self.doc["cold"] = self.store.metrics_since(n0)

    def wizard(self) -> tuple[float, float]:
        """One sweep of the wizard over the workload's wizard tables, one
        table at a time as the config wizard runs it; returns its wall
        time and CPU time."""
        from lotad_spark.wizard import suggest_ignore_columns

        wall = cpu = 0.0
        for t in self.expected["wizard_tables"]:
            got, s, err = self.host.timed(
                f"wizard {t}", suggest_ignore_columns, self.d1.table(t), self.d2.table(t))
            self.check.wizard(t, got, err)
            self.wizard_table_s.append(s)
            wall += s
            cpu += self.host.calls[-1]["cpu_s"]
        return wall, cpu

    def warm(self, seconds: float) -> None:
        for _ in range(WIZARD_WARMUPS):
            self.wizard()
        self.compare("compare_warmup")
        n = max(SAMPLES, round(seconds / COMPARE_NOMINAL_S))
        compares = []
        for i in range(n):
            time.sleep(SETTLE_S)
            self.calib.append(calibrate())
            compares.append(self.compare(f"compare_warm{i}")[1:])
        self.wizard()
        sweeps = []
        for _ in range(SWEEPS):
            time.sleep(SETTLE_S)
            self.calib.append(calibrate())
            sweeps.append(self.wizard())
        self.doc["compare_samples"] = [w for w, _ in compares]
        self.doc["compare_cpu_samples"] = [c for _, c in compares]
        self.doc["suggest_samples"] = [w for w, _ in sweeps]
        self.doc["suggest_cpu_samples"] = [c for _, c in sweeps]

    def warm_traced(self) -> None:
        """One wizard sweep; then, after a warm-up compare, a warm call
        whose timer also covers the status-store read, between two plain
        ones: the difference is the tracing overhead, with the warm-up
        trend cancelled to first order."""
        doc = self.doc
        doc["suggest_samples"] = [self.wizard()[0]]
        self.compare("compare_warmup")
        res0, s0, _ = self.compare("compare_warm0")
        n0 = self.store.next_id()
        start = time.perf_counter()
        res, _, _ = self.compare("compare_traced")
        doc["warm"] = self.store.metrics_since(n0)
        doc["traced_s"] = time.perf_counter() - start
        doc["output_bytes"] = _dir_bytes(self.out_dir)
        res2, s2, _ = self.compare("compare_warm1")
        doc["compare_samples"] = [s0, s2]
        res = res or res0 or res2
        doc["analysis_write_s"] = doc["analysis_report_s"] = 0.0  # stays 0 if all three failed
        if res is not None:
            doc["analysis_write_s"] = self.host.timed("analysis_write", res.analysis.write)[1]
            doc["analysis_report_s"] = self.host.timed("analysis_report", res.report)[1]

    def layers(self) -> None:
        """Each layer timed from outside through its public functions, per
        shared table, on the same inputs as the compares."""
        from lotad_spark.hashing import with_row_hash
        from lotad_spark.operators.diff import diff_tables, normalize_for_diff

        host, store, d1, d2 = self.host, self.store, self.d1, self.d2

        def catalog():
            for t in self.shared_tables():
                d1.get_schema(t)
                d2.get_schema(t)

        self.doc["catalog_s"] = host.timed("catalog", catalog)[1]
        layers = dict.fromkeys(("scan_s", "arrow_s", "jvm_s", "call_s", "exec_s", "serial_s"), 0.0)
        counts = dict.fromkeys(("probe_execs", "fast_path_tables", "groupby_tables"), 0)
        serial_dir = self.work / "serial_out"
        for t in self.shared_tables():
            n1, n2, cols = normalize_for_diff(d1.table(t), d2.table(t))
            for n in (n1, n2):
                layers["scan_s"] += host.timed(f"scan {t}", _noop, n)[1]
                layers["arrow_s"] += host.timed(
                    f"hash_arrow {t}", _noop, with_row_hash(n, cols, json_strings=True))[1]
                layers["jvm_s"] += host.timed(
                    f"hash_jvm {t}", _noop, with_row_hash(n, cols, json_strings=False))[1]
            e0 = store.next_id()
            r, s, _ = host.timed(f"diff_call {t}", diff_tables, d1.table(t), d2.table(t),
                                 db1_id="db1", db2_id="db2", table_name=t)
            layers["call_s"] += s
            counts["probe_execs"] += len(store.executions_since(e0))
            if r is not None:
                counts["fast_path_tables"] += r.hash_path == "fast"
                counts["groupby_tables"] += r.strategy_used == "groupby"
                layers["exec_s"] += host.timed(f"diff_exec {t}", _noop, r.diff)[1]

            def diff_and_write():
                dr = diff_tables(d1.table(t), d2.table(t), db1_id="db1", db2_id="db2", table_name=t)
                dr.diff.write.mode("overwrite").parquet(str(serial_dir / t))

            layers["serial_s"] += host.timed(f"serial {t}", diff_and_write)[1]
        shutil.rmtree(serial_dir, ignore_errors=True)
        self.doc["layers"], self.doc["counts"] = layers, counts

    def finish(self, out: str) -> None:
        doc = self.doc
        doc["wizard_table_s"] = statistics.median(self.wizard_table_s)
        doc["wizard_columns"] = sum(
            self.expected["tables"][t]["wizard_columns"] for t in self.expected["wizard_tables"])
        if self.store:
            doc["jvm_peak_rss_mb"] = _jvm_peak_rss_mb(self.spark)
        doc["calib_samples"] = self.calib
        doc["calib_s"] = statistics.median(self.calib)
        doc["steal_pct"] = self.host.steal_pct()
        doc["load_delta"] = self.host.load_delta()
        doc["calls"] = self.host.calls
        doc["attempted"], doc["failed"] = self.check.attempted, self.check.failed
        doc["problems"] = self.check.problems[:20]
        self.spark.stop()
        Path(out).write_text(json.dumps(doc))


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--fixture", required=True)
    ap.add_argument("--work", required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), required=True)
    ap.add_argument("--out", required=True)
    ap.add_argument("--corrupt-expected", action="store_true",
                    help="add one to an expected drift count (smoke test of the checker)")
    ap.add_argument("--skip-table", action="store_true",
                    help="make compare_all skip a zero-drift table (smoke test of the checker)")
    args = ap.parse_args()

    run = Run(args)
    run.cold()
    if args.trace:
        run.warm_traced()
        run.layers()
    else:
        run.warm(args.seconds)
    run.finish(args.out)


if __name__ == "__main__":
    main()
