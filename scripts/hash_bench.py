"""CPU of the canonical hash kernel in a fresh JVM, with no Spark.

    python scripts/hash_bench.py --docs 30000 --passes 5 --runs 3

Run from the repository root. It builds (or reuses) the cached jar of
``lotad_spark/jvm/`` (``hashing.canonical_hash_jar``), compiles a small
harness class into a temporary directory, and starts ``--runs`` plain
``java`` processes on the jar and Spark's jars. Each process calls
``CanonicalHash.canonical`` once (class loading, static set-up), then runs
``--passes`` passes over ``--docs`` JSON documents shaped like perfbench's:
the ``profiles_json`` and ``events`` strings in both sides' renderings and
the ``to_json`` of ``items_nested``'s struct, array and map.

For each pass it prints the process CPU (every thread of the JVM, the JIT
compiler threads included), the wall time and the JIT's compile time. The
first pass is what a fresh session pays for the kernel; the last pass is
the warm cost. End-to-end benchmarks spread by seconds on a cold run,
which hides a change to this one layer; this script names it. It reads
only the processes it starts.
"""

from __future__ import annotations

import argparse
import os
import random
import statistics
import subprocess
import sys
import tempfile
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(ROOT))

HARNESS = """
import java.lang.management.CompilationMXBean;
import java.lang.management.ManagementFactory;
import java.nio.file.Files;
import java.nio.file.Path;
import java.util.List;

import lotad_spark.jvm.CanonicalHash;

public class HashBench {
  public static void main(String[] args) throws Exception {
    List<String> docs = Files.readAllLines(Path.of(args[0]));
    int passes = Integer.parseInt(args[1]);
    com.sun.management.OperatingSystemMXBean os =
        (com.sun.management.OperatingSystemMXBean) ManagementFactory.getOperatingSystemMXBean();
    CompilationMXBean jit = ManagementFactory.getCompilationMXBean();
    long sink = CanonicalHash.canonical(docs.get(0)).length();
    for (int p = 0; p < passes; p++) {
      long cpu = os.getProcessCpuTime();
      long wall = System.nanoTime();
      long compile = jit.getTotalCompilationTime();
      for (String d : docs) {
        sink += CanonicalHash.canonical(d).length();
      }
      System.out.printf("pass %d cpu_ms %.1f wall_ms %.1f jit_ms %d%n", p,
          (os.getProcessCpuTime() - cpu) / 1e6, (System.nanoTime() - wall) / 1e6,
          jit.getTotalCompilationTime() - compile);
    }
    System.out.println("sink " + sink);
  }
}
"""


def documents(n: int, seed: int) -> list[str]:
    """JSON strings as perfbench's catalog and bulk workloads hash them."""
    rng = random.Random(seed)
    out = []
    for i in range(n):
        a, b, c = rng.randrange(100), rng.randrange(7), rng.randrange(7) + 7
        kind = i % 7
        if kind == 0:
            out.append(f'{{"name": "u{i}", "age": {a % 90}, "tags": [{b}, {c}]}}')
        elif kind == 1:
            out.append(f'{{ "tags" : [{c},{b}], "age": {a % 90}, "name": "u{i}" }}')
        elif kind == 2:
            out.append(f'{{"k": {a}}}')
        elif kind == 3:
            out.append(f'{{ "k": {a} }}')
        elif kind == 4:
            out.append(f'{{"a":{a * 10 + b},"b":"x{a % 50}"}}')
        elif kind == 5:
            out.append(f"[{b},{c},{a % 9 + 18}]")
        else:
            out.append(f'{{"p":{a},"q":{(a * 7 + b) % 100}}}')
    return out


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--docs", type=int, default=30000)
    ap.add_argument("--passes", type=int, default=5)
    ap.add_argument("--runs", type=int, default=3, help="fresh java processes")
    ap.add_argument("--seed", type=int, default=1)
    args = ap.parse_args()

    import pyspark
    from pyspark.find_spark_home import _find_spark_home

    from lotad_spark.hashing import canonical_hash_jar

    jar = canonical_hash_jar(pyspark.__version__)
    classpath = os.pathsep.join([jar, os.path.join(_find_spark_home(), "jars", "*")])
    with tempfile.TemporaryDirectory() as work:
        src = Path(work) / "HashBench.java"
        src.write_text(HARNESS)
        docs = Path(work) / "docs.txt"
        docs.write_text("\n".join(documents(args.docs, args.seed)) + "\n")
        subprocess.run(["javac", "-cp", classpath, "-d", work, str(src)], check=True)
        first, warm = [], []
        for run in range(args.runs):
            out = subprocess.run(
                ["java", "-Xmx1g", "-cp", os.pathsep.join([work, classpath]),
                 "HashBench", str(docs), str(args.passes)],
                check=True, capture_output=True, text=True,
            ).stdout
            for line in out.splitlines():
                if line.startswith("pass "):
                    print(f"run {run} {line}")
                    fields = line.split()
                    if fields[1] == "0":
                        first.append(float(fields[3]))
                    elif fields[1] == str(args.passes - 1):
                        warm.append(float(fields[3]))
    print(f"jar {jar}")
    print(f"first pass cpu_ms median {statistics.median(first):.1f} "
          f"min {min(first):.1f} max {max(first):.1f} over {len(first)} runs")
    if warm:
        print(f"last pass cpu_ms median {statistics.median(warm):.1f} "
              f"min {min(warm):.1f} max {max(warm):.1f} over {len(warm)} runs")


if __name__ == "__main__":
    main()
