"""SparkSession factory tuned for the drift-diff workload.

Local-mode defaults mirror what we would set fleet-wide on a real cluster:
AQE on (runtime coalescing + skew-join handling), Arrow on (the
pipeline's ``mapInPandas`` stages), shuffle partitions sized to
cores instead of the 200 default, UTC session timezone so timestamp
comparisons against external engines (DuckDB oracle) are stable. Every
session gets the Java ``get_row_hash`` UDF (``hashing.register_sql_functions``).
A local master also gets ``lotad_spark/jvm/LocalFs.java`` as the ``file:``
file system, which sets the permissions of written files in-process
instead of spawning a ``chmod`` per file (see ``_in_process_permissions``).
"""

from __future__ import annotations

import os

import pyspark
from pyspark import SparkContext
from pyspark.sql import SparkSession

_LOCAL_FS_CLASS = "lotad_spark.jvm.LocalFs"


def default_parallelism() -> int:
    return int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 4))


def _read_int_file(path: str) -> int | None:
    try:
        with open(path) as fh:
            raw = fh.read().strip()
        return None if raw == "max" else int(raw)
    except (OSError, ValueError):
        return None


def _cgroup_limit_bytes() -> int | None:
    """Effective memory limit of THIS process's cgroup, or None.

    Resolves the process's own cgroup from /proc/self/cgroup and takes
    the min of memory.max over the ancestor chain (a limit can sit on
    any ancestor, e.g. a systemd slice); falls back to the mount-root
    files for containers with a private cgroup namespace where the
    relative path is '/'. v1 uses memory.limit_in_bytes. Unlimited
    sentinels ("max", >=2^60) are ignored."""
    v2_rel = v1_rel = None
    try:
        with open("/proc/self/cgroup") as fh:
            for line in fh:
                parts = line.rstrip("\n").split(":", 2)
                if len(parts) != 3:
                    continue
                if parts[0] == "0":
                    v2_rel = parts[2]
                elif "memory" in parts[1].split(","):
                    v1_rel = parts[2]
    except OSError:
        pass
    limits = []
    if v2_rel is not None:
        rel = v2_rel.strip("/")
        segs = rel.split("/") if rel else []
        for depth in range(len(segs) + 1):
            base = "/".join(["/sys/fs/cgroup"] + segs[:depth])
            v = _read_int_file(f"{base}/memory.max")
            if v is not None:
                limits.append(v)
    if v1_rel is not None:
        rel = v1_rel.strip("/")
        for base in ({f"/sys/fs/cgroup/memory/{rel}"} if rel else set()) | {
            "/sys/fs/cgroup/memory"
        }:
            v = _read_int_file(f"{base}/memory.limit_in_bytes")
            if v is not None:
                limits.append(v)
    limits = [v for v in limits if v < 1 << 60]  # drop unlimited sentinels
    return min(limits) if limits else None


def _default_driver_mem() -> str:
    """Driver-heap default derived from the machine, not a constant.

    Local mode puts every executor thread inside the driver JVM, so the
    heap must scale with the box: half of the effective available
    memory — MemAvailable capped by this process's cgroup limit (the
    host number is a lie inside a memory-limited container, and a heap
    sized past the cgroup gets OOM-killed mid-job) — clamped to at most
    16g. The floor is 2g only when the budget allows it: in a 1-2 GB
    cgroup a forced 2g heap plus JVM off-heap would exceed the limit,
    so constrained environments get 1g (slow but alive; GC pressure
    beats a kernel OOM kill). ``SPARK_GRAFT_DRIVER_MEM`` overrides
    outright."""
    avail_gb = None
    try:
        with open("/proc/meminfo") as fh:
            for line in fh:
                if line.startswith("MemAvailable:"):
                    avail_gb = int(line.split()[1]) // (1024 * 1024)
                    break
    except OSError:
        pass
    limit = _cgroup_limit_bytes()
    if limit is not None:
        limit_gb = limit // (1024 ** 3)
        avail_gb = limit_gb if avail_gb is None else min(avail_gb, limit_gb)
    if avail_gb is None:
        return "4g"
    return f"{max(1, min(16, avail_gb // 2))}g"


def _in_process_permissions(master: str) -> dict[str, str]:
    """Confs that install ``LocalFs`` as the ``file:`` file system.

    Without Hadoop's native library, every directory and file a local
    write creates (part files, ``.crc`` files, ``_temporary`` and attempt
    directories) costs a ``chmod`` process; ``LocalFs`` makes the same
    system call in-process. Hadoop loads the class by name, so
    the jar must be on the driver's class path, which only a JVM launch
    sets (a caller's own ``spark.driver.extraClassPath`` is appended); and
    only a local master runs every executor in the driver JVM. A JVM
    already running without the jar (one that ``spark-submit`` launched,
    say) keeps Hadoop's file system."""
    if not (master == "local" or master.startswith("local[")):
        return {}
    from lotad_spark.hashing import canonical_hash_jar

    jar = canonical_hash_jar(pyspark.__version__)
    fs_impl = {"spark.hadoop.fs.file.impl": _LOCAL_FS_CLASS}
    gateway = SparkContext._gateway
    if gateway is None:
        if "PYSPARK_GATEWAY_PORT" in os.environ:  # spark-submit's JVM
            return {}
        return {"spark.driver.extraClassPath": jar, **fs_impl}
    class_path = gateway.jvm.java.lang.System.getProperty("java.class.path")
    return fs_impl if jar in class_path.split(os.pathsep) else {}


def get_spark(
    app_name: str = "lotad_spark",
    *,
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with scale-aware defaults.

    On a real cluster ``master``/memory come from spark-submit; everything
    set here is safe to carry over unchanged.
    """
    cores = default_parallelism()
    # Export the repo root to the WORKER side before the JVM launches:
    # the pre-importing daemon module below must be importable by the
    # forked Python daemon, which inherits this process env — a
    # sys.path fix in the driver script alone never reaches workers.
    _repo_root = os.path.dirname(
        os.path.dirname(os.path.abspath(__file__))
    )
    _pp = os.environ.get("PYTHONPATH", "")
    if _repo_root not in _pp.split(os.pathsep):
        os.environ["PYTHONPATH"] = (
            _repo_root + ((os.pathsep + _pp) if _pp else "")
        )
    master = master or f"local[{cores}]"
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        # Fork Python workers from a daemon that has pandas/pyarrow and
        # the Arrow-UDF serializer stack ALREADY imported (see
        # lotad_spark/python_daemon.py): a burst of concurrent Arrow
        # stages (the pipeline's; a drift run has none) otherwise forks
        # dozens of fresh workers that each pay the ~0.6 s import storm
        # inside the task critical path.
        .config(
            "spark.python.daemon.module", "lotad_spark.python_daemon"
        )
        # Local mode puts every executor thread inside the driver JVM, so
        # the 1g spark.driver.memory default is the binding constraint on
        # a many-core box (observed: GCLocker thrash → job death at ~6M-row
        # diffs with 32 threads). Size the heap to the box (see
        # _default_driver_mem); on a cluster this conf is owned by
        # spark-submit and the env override keeps CI/driver boxes in
        # control. Takes effect only at JVM launch — a pre-existing
        # session keeps its heap.
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_GRAFT_DRIVER_MEM", _default_driver_mem()),
        )
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions or max(cores, 4)))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # Let AQE right-size the materialized layout of persisted plans
        # (dedup_components' edge cache, curate's deduped corpus): off,
        # a cached repartition("k") pins shuffle.partitions-many
        # partitions, so every iterative-CC round launched 32 tasks over
        # a few hundred cached edges (~7 ms scheduling each); on, the
        # cache materializes at AQE's advisory size — partition count
        # scales with the DATA on this box and on a cluster alike.
        .config(
            "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning",
            "true",
        )
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.filterPushdown", "true")
        # WARC body decode (sources/warc.py) routes WHATWG CJK charset
        # labels through the full JVM charset set, with malformed
        # sequences replaced by U+FFFD (the WHATWG rule) instead of
        # failing the task. warc_http_text also sets these at plan
        # build for externally-created sessions.
        .config("spark.sql.legacy.javaCharsets", "true")
        .config("spark.sql.legacy.codingErrorAction", "true")
        # Read TIMESTAMP(NANOS) parquet as BIGINT (sources/parquet.py
        # rebuilds µs timestamps with floor division). Set once here so the
        # behavior never depends on table read order.
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # Inter-table concurrency: compare_all submits one job per table from
        # a driver thread pool; FAIR scheduling keeps small tables from
        # starving behind a big one.
        .config("spark.scheduler.mode", "FAIR")
        .config("spark.ui.enabled", os.environ.get("LOTAD_SPARK_UI", "false"))
    )
    conf = _in_process_permissions(master)
    for k, v in (extra_conf or {}).items():
        if k == "spark.driver.extraClassPath" and k in conf:
            v = conf[k] + os.pathsep + v
        conf[k] = v
    for k, v in conf.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    # SQL-callable canonical hash (a Java UDF), mirroring the reference's
    # per-connection UDF registration (lotad/connection.py:133,247) so
    # custom queries can call get_row_hash(to_json(struct(*))).
    from lotad_spark.hashing import register_sql_functions

    register_sql_functions(spark)
    return spark
