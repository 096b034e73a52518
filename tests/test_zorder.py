"""Z-order layout: Morton-code correctness + measured pruning benefit."""

import glob

import pyarrow.parquet as pq
import pytest

from lotad_spark.sources import ParquetDatabase, zvalue


def _interleave2(x: int, y: int) -> int:
    out = 0
    for i in range(16):
        out |= ((x >> i) & 1) << (2 * i)
        out |= ((y >> i) & 1) << (2 * i + 1)
    return out


class TestZValue:
    def test_known_bit_patterns(self, spark):
        df = spark.createDataFrame(
            [(0.0, 0.0), (65535.0, 0.0), (0.0, 65535.0), (21845.0, 43690.0)],
            "x double, y double",
        )
        got = [
            r.z
            for r in df.select(
                zvalue([("x", 0.0, 65535.0), ("y", 0.0, 65535.0)]).alias("z")
            ).collect()
        ]
        expect = [
            _interleave2(0, 0),
            _interleave2(65535, 0),
            _interleave2(0, 65535),
            _interleave2(21845, 43690),
        ]
        assert got == expect

    def test_rejects_degenerate_dims(self, spark):
        with pytest.raises(ValueError):
            zvalue([("x", 0.0, 1.0)])
        with pytest.raises(ValueError):
            zvalue([("x", 1.0, 1.0), ("y", 0.0, 1.0)])

    def test_rejects_codes_wider_than_bigint(self, spark):
        """4 dims x 16 bits would put dim 3's top bit on the bigint sign
        bit (breaking range order) and >=5 dims would wrap JVM shiftleft
        mod 64 — both must be refused, 3 dims (48 bits) must pass."""
        dims4 = [(c, 0.0, 1.0) for c in ("a", "b", "c", "d")]
        with pytest.raises(ValueError, match="63 usable bits"):
            zvalue(dims4)
        zvalue([(c, 0.0, 1.0) for c in ("a", "b", "c")])  # fits: no raise


class TestWriteZordered:
    def test_per_file_ranges_tighten_on_both_columns(
        self, spark, sf_dir, tmp_path
    ):
        """The point of the code: after range-sorting a write by the
        z-value of (value, user_id), EACH file's min-max range on BOTH
        columns is a fraction of the global range — that's what
        footer-based pruning feeds on."""
        ev = ParquetDatabase(spark, sf_dir, "db").table("events").select(
            "event_id", "user_id", "value"
        )
        out = str(tmp_path / "z")
        # calibrate the curve to the actual data ranges (profile_table is
        # the production way to get these)
        import pyspark.sql.functions as F

        vmax, umax = ev.agg(F.max("value"), F.max("user_id")).collect()[0]
        # the layout: range-partition by z-value (Spark samples quantiles,
        # so files hold contiguous curve segments), sort within files
        z = zvalue([("value", 0.0, float(vmax)), ("user_id", 0.0, float(umax))])
        (
            ev.withColumn("_z", z)
            .repartitionByRange(16, "_z")
            .sortWithinPartitions("_z")
            .drop("_z")
            .write.mode("overwrite")
            .parquet(out)
        )
        files = glob.glob(f"{out}/part-*.parquet")
        assert len(files) >= 8

        def spans(col):
            spans = []
            for f in files:
                md = pq.ParquetFile(f).metadata
                mn = min(
                    md.row_group(g).column_index_by_name(col)
                    if False else
                    md.row_group(g).column(
                        [md.schema.column(i).name for i in range(md.num_columns)].index(col)
                    ).statistics.min
                    for g in range(md.num_row_groups)
                )
                mx = max(
                    md.row_group(g).column(
                        [md.schema.column(i).name for i in range(md.num_columns)].index(col)
                    ).statistics.max
                    for g in range(md.num_row_groups)
                )
                spans.append(mx - mn)
            return spans

        v_spans, u_spans = spans("value"), spans("user_id")
        v_global = float(vmax)
        u_global = float(umax)
        # average per-file span well under the global range on BOTH dims
        assert sum(v_spans) / len(v_spans) < 0.6 * v_global
        assert sum(u_spans) / len(u_spans) < 0.6 * u_global
