"""In-process permissions of local writes (``lotad_spark/jvm/LocalFs.java``).

Without Hadoop's native library, the stock local file system runs a
``chmod`` process for every directory and file a write creates. A local
``get_spark`` session installs ``LocalFs`` instead; these tests record the
JVM's process starts with JFR around real writes and check that the
written files keep the modes Hadoop gives them."""

import os
import stat

import pyspark.sql.functions as F
from pyspark import SparkContext

from lotad_spark import compare_all
from lotad_spark.session import _in_process_permissions
from lotad_spark.sources.memory import DictDatabase

LOCAL_FS = "lotad_spark.jvm.LocalFs"


def _process_starts(spark, tmp_path, work) -> list[str]:
    """Commands of the processes the JVM started while ``work()`` ran."""
    jvm = spark._jvm
    recording = jvm.jdk.jfr.Recording()
    recording.enable("jdk.ProcessStart")
    recording.start()
    try:
        work()
    finally:
        recording.stop()
    dump = jvm.java.io.File(str(tmp_path / "process_starts.jfr")).toPath()
    recording.dump(dump)
    recording.close()
    events = jvm.jdk.jfr.consumer.RecordingFile.readAllEvents(dump)
    return [e.getString("command") for e in events]


class TestInProcessPermissions:
    def test_local_session_uses_local_fs(self, spark):
        hadoop = spark._jsc.hadoopConfiguration()
        assert hadoop.get("fs.file.impl") == LOCAL_FS
        local = spark._jvm.org.apache.hadoop.fs.FileSystem.getLocal(hadoop)
        assert local.getClass().getName() == LOCAL_FS

    def test_only_a_local_master_gets_it(self, spark):
        assert _in_process_permissions("local[2]") == {
            "spark.hadoop.fs.file.impl": LOCAL_FS
        }
        assert _in_process_permissions("local-cluster[2,1,1024]") == {}
        assert _in_process_permissions("spark://host:7077") == {}

    def test_set_at_launch_unless_spark_submit_launched(self, monkeypatch):
        """Only a JVM launch can put the jar on the driver class path; a
        JVM that spark-submit started has its class path already."""
        monkeypatch.setattr(SparkContext, "_gateway", None)
        monkeypatch.delenv("PYSPARK_GATEWAY_PORT", raising=False)
        launch = _in_process_permissions("local[2]")
        assert launch["spark.driver.extraClassPath"].endswith(".jar")
        assert launch["spark.hadoop.fs.file.impl"] == LOCAL_FS
        monkeypatch.setenv("PYSPARK_GATEWAY_PORT", "1")
        assert _in_process_permissions("local[2]") == {}

    def test_writes_start_no_chmod(self, spark, tmp_path):
        # The first tasks of a session fetch its added jar (one chmod).
        spark.range(8).repartition(4).count()
        df = spark.range(300).withColumn("v", F.col("id") % 7)
        db1 = DictDatabase({"t": df, "u": df}, "db1")
        db2 = DictDatabase({"t": df.filter("id != 5")}, "db2")

        def work():
            df.repartition(3).write.parquet(str(tmp_path / "out"))
            compare_all(spark, db1, db2, output_path=str(tmp_path / "drift"))
            # A known process start: the recording sees what runs.
            spark._jvm.java.lang.ProcessBuilder(["true"]).start().waitFor()

        commands = _process_starts(spark, tmp_path, work)
        assert "true" in commands
        assert [c for c in commands if c.startswith("chmod")] == []
        assert (tmp_path / "drift" / "t").is_dir()

    def test_written_modes_unchanged(self, spark, tmp_path):
        out = tmp_path / "out"
        spark.range(20).withColumn("k", F.col("id") % 2).write.partitionBy(
            "k"
        ).parquet(str(out))
        modes = {}
        for root, dirs, files in os.walk(out):
            for name in dirs + files:
                path = os.path.join(root, name)
                modes[path] = stat.S_IMODE(os.stat(path).st_mode)
        dirs = [p for p in modes if os.path.isdir(p)]
        files = [p for p in modes if not os.path.isdir(p)]
        assert len(dirs) == 2 and any(p.endswith(".crc") for p in files)
        assert stat.S_IMODE(os.stat(out).st_mode) == 0o755
        assert {modes[p] for p in dirs} == {0o755}
        assert {modes[p] for p in files} == {0o644}
