"""Physical-plan regression tests — the scale properties the engine
promises (pruning, pushdown, broadcast, vectorized-only Python) must stay
visible in the executed plan, not just hold by accident."""

import re
from contextlib import contextmanager

import pyspark.sql.functions as F
import pytest

from lotad_spark.operators.diff import diff_tables
from lotad_spark.sources.parquet import ParquetDatabase


@pytest.fixture(scope="module")
def customer(spark, sf_dir):
    return ParquetDatabase(spark, sf_dir, "db").table("customer")


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


class TestDiffPlans:
    def test_ignore_column_prunes_parquet_scan(self, customer):
        r = diff_tables(
            customer, customer.filter("c_custkey != 5"), ignore_columns=["c_name"]
        )
        scans = [l for l in _plan(r.diff).splitlines() if "FileScan" in l]
        assert scans and all("c_name" not in l for l in scans)

    def test_side_filters_pushed_into_scan(self, customer):
        r = diff_tables(customer, customer.filter("c_custkey != 5"))
        plan = _plan(r.diff)
        assert "NOT (c_custkey" in plan  # filter reached DataFilters

    def test_json_free_path_has_no_python(self, customer):
        r = diff_tables(customer, customer, json_strings=False)
        plan = _plan(r.diff)
        assert "EvalPython" not in plan

    def test_default_path_is_arrow_vectorized_only(self, customer):
        plan = _plan(diff_tables(customer, customer).diff)
        assert "BatchEvalPython" not in plan  # never row-at-a-time


class TestCanonicalHashPlans:
    """The default diff hashes JSON-looking strings and nested columns
    through the Java get_row_hash UDF: formatting-only JSON differences
    cancel, and the executed plan carries no Python stage."""

    @staticmethod
    def _sides(spark):
        schema = "id bigint, payload string, st struct<a:int,b:string>, tags array<string>"
        d1 = spark.createDataFrame(
            [(1, '{"a":1,"b":[1,2]}', (1, "x"), ["p", "q"]), (2, "plain", None, [])],
            schema,
        )
        d2 = spark.createDataFrame(
            [(1, '{ "b": [2, 1], "a": 1 }', (1, "x"), ["q", "p"]), (2, "plain", None, [])],
            schema,
        )
        return d1, d2

    def test_reformatted_json_cancels(self, spark):
        r = diff_tables(*self._sides(spark))
        assert r.hash_path == "canonical"
        # formatting-only JSON differences cancel on the default path
        assert r.diff.count() == 0

    def test_default_plan_has_no_python(self, spark):
        d1, d2 = self._sides(spark)
        d2 = d2.withColumn(
            "payload",
            F.when(F.col("id") == 1, F.lit('{"a": 2}')).otherwise(F.col("payload")),
        )
        r = diff_tables(d1, d2)
        plan = _plan(r.diff)
        assert "EvalPython" not in plan
        assert "get_row_hash" in plan  # the Java UDF does the canonicalizing
        assert r.diff.count() == 2

    def test_plain_session_runs_canonical_hash(self, tmp_path):
        """A session built with SparkSession.builder, not get_spark, gets
        the Java UDF on first use: diff_tables cancels reformatted JSON
        and SQL get_row_hash resolves afterwards."""
        import os
        import subprocess
        import sys
        import textwrap

        script = tmp_path / "plain_session.py"
        script.write_text(textwrap.dedent("""
            from pyspark.sql import SparkSession
            from lotad_spark.hashing import canonical_value_hash
            from lotad_spark.operators.diff import diff_tables

            spark = (SparkSession.builder.master("local[2]")
                     .appName("plain-session").getOrCreate())
            d1 = spark.createDataFrame([(1, '{"a":1,"b":2}')], "id bigint, j string")
            d2 = spark.createDataFrame([(1, '{ "b": 2, "a": 1 }')], "id bigint, j string")
            print("DIFF_ROWS", diff_tables(d1, d2).diff.count())
            got = spark.sql("SELECT get_row_hash('[2, 1]') AS h").collect()[0].h
            print("SQL_OK", got == canonical_value_hash("[1, 2]"))
            spark.stop()
        """))
        repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
        env = dict(os.environ, PYTHONPATH=repo)
        out = subprocess.run(
            [sys.executable, str(script)], env=env, cwd=tmp_path,
            capture_output=True, text=True, timeout=300,
        )
        assert out.returncode == 0, out.stderr[-2000:]
        assert "DIFF_ROWS 0" in out.stdout
        assert "SQL_OK True" in out.stdout


@contextmanager
def _scaled_estimates(spark, factor: float):
    """File scans' optimizer size estimates multiplied by ``factor``, so a
    fixture-sized table plans as if it were that much larger (a factor
    past 2^63 saturates the estimate at Spark's value for an unknown
    size). The estimate is taken when a plan is optimized: re-read the
    table inside the block."""
    key = "spark.sql.sources.fileCompressionFactor"
    old = spark.conf.get(key)
    spark.conf.set(key, str(factor))
    try:
        yield
    finally:
        spark.conf.set(key, old)


class TestGroupbyDiffPlans:
    """The diff plans one scan per side, one exchange and no join at any
    input size: a table estimated in the terabytes plans like a small
    one."""

    def test_survivor_aggregate_shuffles_hash_only(self, spark, sf_dir):
        """Each side is scanned (and hashed) once, and the only exchange
        is the one by ``hashed_row``."""
        with _scaled_estimates(spark, 1e9):
            big = ParquetDatabase(spark, sf_dir, "db").table("customer")
            plan = _plan(diff_tables(big, big.filter("c_custkey != 5")).diff)
        assert plan.count("FileScan") == 2, plan
        exchanges = [l for l in plan.splitlines() if "Exchange" in l]
        assert len(exchanges) == 1, plan
        assert "hashpartitioning(hashed_row" in exchanges[0]

    def test_semi_join_back_broadcasts_small_survivors(self, spark, sf_dir):
        """No join in the plan, before or after AQE finalizes it: the
        surviving rows are never joined back against the inputs."""
        with _scaled_estimates(spark, 1e9):
            big = ParquetDatabase(spark, sf_dir, "db").table("customer")
            r = diff_tables(big, big.filter("c_custkey != 5"))
            assert "Join" not in _plan(r.diff)
            rows = r.diff.collect()
        assert "Join" not in _plan(r.diff)
        assert len(rows) == 1 and rows[0]["c_custkey"] == 5


class TestWindowDiffPlans:
    def test_single_exchange(self, customer):
        """The defining property of the default (window) strategy: ONE
        exchange for the whole diff — the window shuffles by hash and the
        trailing exact-duplicate collapse reuses that partitioning. A
        second exchange means the distinct regressed to its own shuffle."""
        r = diff_tables(customer, customer.filter("c_custkey != 5"))
        plan = _plan(r.diff)
        exchanges = [
            l for l in plan.splitlines()
            if "Exchange" in l and "Reused" not in l
        ]
        assert len(exchanges) == 1, plan
        assert "hashpartitioning(hashed_row" in exchanges[0]


class TestTextPlans:
    def test_corpus_filter_single_scan_no_joins(self, spark, sf_dir):
        """The training gate is ONE projection: a join or exchange here
        means the expression composition regressed to self-joins."""
        from lotad_spark.pipeline.text import corpus_filter

        d = ParquetDatabase(spark, sf_dir, "db").table("documents")
        plan = _plan(corpus_filter(d))
        assert "Exchange" not in plan
        assert "Join" not in plan
        assert plan.count("FileScan") == 1


class TestPairingPlans:
    def test_simhash_pairing_no_cartesian(self, spark, sf_dir):
        from lotad_spark.pipeline.dedup import simhash_near_dup_pairs

        d = ParquetDatabase(spark, sf_dir, "db").table("documents")
        plan = _plan(simhash_near_dup_pairs(d))
        assert "CartesianProduct" not in plan

class TestProbePlans:
    def test_wizard_probe_broadcasts(self, customer, spark, sf_dir):
        supplier = ParquetDatabase(spark, sf_dir, "db").table("supplier")
        sample = (
            customer.select(F.col("c_nationkey").alias("s_nationkey"))
            .distinct()
            .limit(10000)
        )
        probe = supplier.join(F.broadcast(sample), "s_nationkey", "left_semi")
        assert "BroadcastHashJoin" in _plan(probe)

    def test_ann_corpus_scan_not_shuffled_before_scoring(self, spark, sf_dir):
        from lotad_spark.pipeline.similarity import cosine_topk

        e = ParquetDatabase(spark, sf_dir, "db").table("embeddings")
        plan = _plan(cosine_topk(e.filter("vec_id < 3"), e, k=3))
        # query side broadcast → corpus side scored without a pre-join shuffle
        assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan


class TestTemporalPlans:
    def test_asof_is_window_not_inequality_join(self, spark, sf_dir):
        """The scale property of asof_join: one hash exchange on the key
        feeding a Window — never a join that pairs left rows with every
        earlier right row."""
        from lotad_spark.operators import asof_join

        ev = ParquetDatabase(spark, sf_dir, "db").table("events")
        orders = ParquetDatabase(spark, sf_dir, "db").table("orders")
        plan = _plan(
            asof_join(
                ev.select("event_id", "user_id", "ts"),
                orders.select("o_custkey", "o_orderdate", "o_orderkey"),
                key="user_id",
                right_key="o_custkey",
                left_ts="ts",
                right_ts="o_orderdate",
                value_cols=["o_orderkey"],
            )
        )
        assert "Join" not in plan  # no join operator of any kind
        assert "Window" in plan
        assert plan.count("Exchange hashpartitioning(_asof_k") == 1

    def test_range_join_is_equi_join_no_nested_loop(self, spark, sf_dir):
        """Bin bucketing must surface as a hash-joinable equi-condition:
        no BroadcastNestedLoopJoin / CartesianProduct in the plan."""
        from lotad_spark.operators import range_join

        ev = ParquetDatabase(spark, sf_dir, "db").table("events")
        pts = ev.select(
            F.col("event_id").alias("v_id"),
            F.col("user_id").alias("v_user"),
            F.col("ts").alias("v_ts"),
        )
        ivs = ev.select(
            F.col("event_id").alias("p_id"),
            F.col("user_id").alias("p_user"),
            (F.col("ts") - F.expr("INTERVAL 1 HOUR")).alias("w_start"),
            F.col("ts").alias("w_end"),
        )
        plan = _plan(
            range_join(
                pts,
                ivs,
                point_col="v_ts",
                start_col="w_start",
                end_col="w_end",
                bin_width=3600.0,
                point_key="v_user",
                interval_key="p_user",
            )
        )
        assert "BroadcastNestedLoopJoin" not in plan
        assert "CartesianProduct" not in plan
        assert "HashJoin" in plan or "SortMergeJoin" in plan

    def test_rollup_merge_never_rereads_raw(self, spark, sf_dir):
        """Coarsening a rollup must aggregate rollup rows only — exactly
        one FileScan in the merged plan (the original fine scan), with
        partial aggregation map-side combined."""
        from lotad_spark.operators import merge_rollup, rollup_time_bucket

        ev = ParquetDatabase(spark, sf_dir, "db").table("events")
        minutes = rollup_time_bucket(
            ev, ts_col="ts", value_col="value", unit="minute"
        )
        plan = _plan(merge_rollup(minutes, unit="hour"))
        assert plan.count("FileScan") == 1
        assert "partial_sum" in plan.lower() or "HashAggregate" in plan


class TestRollupPlans:
    def test_gapfill_single_scan_no_data_window(self, spark, sf_dir):
        """Gapfill must read raw ONCE (the rollup scan) and run its LOCF
        window partitioned by series — never a global single-partition
        window over data rows."""
        from lotad_spark.operators import gapfill_rollup, rollup_time_bucket

        ev = ParquetDatabase(spark, sf_dir, "db").table("events")
        hours = rollup_time_bucket(
            ev, ts_col="ts", value_col="value", unit="hour",
            dims=["event_type"],
        )
        plan = _plan(gapfill_rollup(hours, unit="hour", dims=["event_type"]))
        assert plan.count("FileScan") <= 2  # rollup reused, not re-derived
        # the LOCF window partitions by the series key
        assert "windowspecdefinition(event_type" in plan

    def test_twa_is_one_key_exchange(self, spark, sf_dir):
        from lotad_spark.operators import time_weighted_sum

        ev = ParquetDatabase(spark, sf_dir, "db").table("events")
        plan = _plan(
            time_weighted_sum(
                ev, key_col="user_id", ts_col="ts", value_col="value",
                tiebreak_col="event_id",
            )
        )
        # one exchange for the lead() window; the aggregation reuses the
        # user_id partitioning instead of shuffling again
        assert plan.count("Exchange hashpartitioning(user_id") == 1
        assert "Join" not in plan


class TestSkewedDiffPlans:
    """Duplicate-key skew on the diff path. The diff's shuffle key is the
    content hash, so a dominant key MEANS identical duplicate rows — which
    compress to ~nothing in the shuffle, making them INVISIBLE to AQE's
    byte-based skew-join detection (verified empirically: 50k constant
    copies never trip skewedPartitionThresholdInBytes). Every copy lands
    in one partition, where the copies must cancel exactly; the plan does
    not change with input size or duplication. The AQE skew-join config
    is proven live for the genuinely byte-skewed joins it CAN see."""

    def _skewed(self, spark, customer, n=5000):
        const = customer.limit(1)
        copies = (
            spark.range(n)
            .crossJoin(F.broadcast(const))
            .drop("id")
            .select(*customer.columns)
        )
        return customer.unionByName(copies)

    def test_groupby_partial_agg_absorbs_duplicate_skew(self, spark, customer):
        """With one row duplicated thousands of times on both sides, the
        copies cancel exactly, and the duplicate collapse is a codegen
        HashAggregate that reuses the window's exchange (no sort-based
        aggregate, no second exchange by hash)."""
        skew1 = self._skewed(spark, customer)
        skew2 = self._skewed(spark, customer.filter("c_custkey != 5"))
        r = diff_tables(skew1, skew2, json_strings=False)
        plan = _plan(r.diff)
        assert "HashAggregate" in plan and "SortAggregate" not in plan, plan
        assert plan.count("Exchange hashpartitioning(hashed_row") == 1, plan
        rows = r.diff.collect()
        assert len(rows) == 1 and rows[0]["c_custkey"] == 5

    def test_window_strategy_correct_under_duplicate_skew(self, spark, customer):
        """The diff stays CORRECT under duplicate skew: all copies land in
        one window partition and cancel."""
        skew1 = self._skewed(spark, customer)
        skew2 = self._skewed(spark, customer.filter("c_custkey != 5"))
        r = diff_tables(skew1, skew2, json_strings=False)
        rows = r.diff.collect()
        assert len(rows) == 1 and rows[0]["c_custkey"] == 5

    @staticmethod
    def _call(spark, df1, df2):
        """diff_tables, the Spark jobs its call ran, and the operator names
        of its (not yet executed) plan."""
        tracker = spark.sparkContext.statusTracker()
        before = tracker.getJobIdsForGroup(None)
        r = diff_tables(df1, df2, json_strings=False)
        jobs = set(tracker.getJobIdsForGroup(None)) - set(before)
        ops = [re.match(r"[\s:+|-]*(?:\*\(\d+\) )?(\w+)", l).group(1)
               for l in _plan(r.diff).splitlines()]
        return r, jobs, ops

    def _small_and_large(self, spark, sf_dir, factor, side=lambda df: df):
        """``_call`` on customer against customer minus one row (each
        passed through ``side``), under the table's own size estimate and
        under one ``factor`` times larger."""
        out = []
        for f in (1.0, factor):
            with _scaled_estimates(spark, f):
                c = ParquetDatabase(spark, sf_dir, "db").table("customer")
                out.append(self._call(spark, side(c), side(c.filter("c_custkey != 5"))))
        return out

    def test_auto_routes_skewed_input_to_groupby(self, spark, sf_dir):
        """A duplicate-heavy input plans the same operators under its own
        size estimate and under one a billion times larger, runs no job at
        call time, and cancels its copies."""
        (r1, jobs1, ops1), (r2, jobs2, ops2) = self._small_and_large(
            spark, sf_dir, 1e9, side=lambda c: self._skewed(spark, c)
        )
        assert ops1 == ops2
        assert jobs1 == jobs2 == set()
        for r in (r1, r2):
            rows = r.diff.collect()
            assert len(rows) == 1 and rows[0]["c_custkey"] == 5

    def test_auto_routes_uniform_input_to_window(self, spark, sf_dir):
        """The plan does not depend on input size: the same duplicate-free
        input plans the same operators under its own size estimate and
        under one a billion times larger, and neither call runs a job."""
        (r1, jobs1, ops1), (r2, jobs2, ops2) = self._small_and_large(spark, sf_dir, 1e9)
        assert ops1 == ops2
        assert jobs1 == jobs2 == set()
        for r in (r1, r2):
            rows = r.diff.collect()
            assert len(rows) == 1 and rows[0]["c_custkey"] == 5

    def test_auto_small_input_skips_probe(self, spark, customer):
        """A small input runs no job at call time: the diff stays lazy."""
        r, jobs, _ = self._call(spark, customer, customer)
        assert r.strategy_used == "window"
        assert jobs == set()

    def test_auto_unknown_size_routes_to_groupby(self, spark, sf_dir):
        """An estimate saturated at Spark's unknown-size value plans the
        same operators as the table's own estimate, still with no job at
        call time."""
        (r1, jobs1, ops1), (r2, jobs2, ops2) = self._small_and_large(spark, sf_dir, 1e30)
        assert ops1 == ops2
        assert jobs1 == jobs2 == set()
        rows = r2.diff.collect()
        assert len(rows) == 1 and rows[0]["c_custkey"] == 5

    def test_aqe_skew_join_fires_under_session_config(self, spark):
        """The session's AQE skew-join machinery must actually engage when
        a join-side partition is byte-skewed (incompressible payload under
        one key): the finalized plan carries SortMergeJoin(skew=true).
        Thresholds are lowered to make fixture-scale bytes trip the same
        detection that fires at production partition sizes."""
        confs = {
            "spark.sql.autoBroadcastJoinThreshold": "-1",
            "spark.sql.adaptive.autoBroadcastJoinThreshold": "-1",
            "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "256KB",
            "spark.sql.adaptive.advisoryPartitionSizeInBytes": "128KB",
            "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2",
            "spark.sql.adaptive.coalescePartitions.enabled": "false",
        }
        old = {k: spark.conf.get(k, None) for k in confs}
        for k, v in confs.items():
            spark.conf.set(k, v)
        try:
            left = spark.range(50000).select(
                F.lit(0).alias("k"),
                F.md5(F.col("id").cast("string")).alias("payload"),
            ).unionByName(
                spark.range(1000).select(
                    (F.col("id") % 7 + 1).cast("int").alias("k"),
                    F.lit("x").alias("payload"),
                )
            )
            right = spark.range(8).select(
                F.col("id").cast("int").alias("k"), F.lit("r").alias("rv")
            )
            j = left.join(right, "k", "inner")
            assert len(j.collect()) == 51000
            plan = _plan(j)
            assert "isFinalPlan=true" in plan
            assert "skew=true" in plan, plan
        finally:
            for k, v in old.items():
                if v is None:
                    spark.conf.unset(k)
                else:
                    spark.conf.set(k, v)


class TestEditDistancePlans:
    """The r13 scale-killer, fixed r14: PassJoin's candidate exchange
    must carry (xxhash64(segment), id, length, position) ONLY — texts
    are cut and hashed map-side, dropped before the join, and
    re-joined by id after the id-pair distinct. A bare text attribute
    (s#N / t#N / _s#N / _t#N) under the segment-hash exchange means
    the O(len²)-bytes-per-document shuffle is back."""

    _TEXT_ATTR = r"(?<![\w])_?[st]#\d+"

    @staticmethod
    def _exchange_blocks(df):
        """(input_line, arguments_line) for every Exchange operator in
        the formatted physical plan."""
        import re

        s = df.sparkSession._jvm.org.apache.spark.sql.api.python \
            .PythonSQLUtils.explainString(
                df._jdf.queryExecution(), "formatted"
            )
        out = []
        for block in re.split(r"\n\(\d+\) ", s):
            if not block.startswith("Exchange"):
                continue
            inp = next(
                (l for l in block.splitlines() if l.startswith("Input")), ""
            )
            args = next(
                (l for l in block.splitlines() if l.startswith("Arguments")),
                "",
            )
            out.append((inp, args))
        return out

    def test_pairs_candidate_exchange_carries_no_text(self, spark):
        import re

        from lotad_spark.pipeline import edit_distance_pairs

        df = spark.createDataFrame(
            [(i, f"string number {i}") for i in range(20)],
            "doc_id bigint, text string",
        )
        blocks = self._exchange_blocks(edit_distance_pairs(df, k=2))
        seg_exchanges = [b for b in blocks if "_sh" in b[1]]
        assert seg_exchanges, blocks  # the candidate join must exist
        for inp, args in seg_exchanges:
            assert not re.search(self._TEXT_ATTR, inp), (inp, args)
        # the id-pair distinct (partitioned by BOTH ids) is id-only too
        pair_exchanges = [
            b for b in blocks if "id_a#" in b[1] and "id_b#" in b[1]
        ]
        assert pair_exchanges, blocks
        for inp, args in pair_exchanges:
            assert not re.search(self._TEXT_ATTR, inp), (inp, args)

    def test_search_no_exchange_carries_text(self, spark):
        import re

        from lotad_spark.pipeline import edit_distance_search

        corpus = spark.createDataFrame(
            [(i, f"string number {i}") for i in range(20)],
            "doc_id bigint, text string",
        )
        queries = spark.createDataFrame(
            [(100, "string number 1")], "query_id bigint, text string"
        )
        blocks = self._exchange_blocks(
            edit_distance_search(corpus, queries, k_max=2, topn=3)
        )
        assert blocks  # the rank window shuffles (query_id, id, distance)
        for inp, args in blocks:
            assert not re.search(self._TEXT_ATTR, inp), (inp, args)


class TestHeavyHittersPlans:
    def test_one_corpus_scan_in_verify_plan(self, spark, sf_dir):
        """heavy_hitters' returned plan must read the corpus ONCE (the
        exact-verify pass), take candidates from the collected local
        summary, and leave NOTHING cached — a second FileScan means
        the r13 separate n_total pass is back; an InMemoryRelation
        means the r14 persist leak is back."""
        from lotad_spark.pipeline import heavy_hitters

        d = ParquetDatabase(spark, sf_dir, "db").table("documents")
        plan = _plan(heavy_hitters(d, phi=0.01))
        assert plan.count("FileScan") == 1, plan
        assert "MapInPandas" not in plan, plan  # MG pass never re-runs
        assert "InMemoryRelation" not in plan, plan  # no cache leak
        # collected candidates enter as a local/parallelized relation
        assert "LocalTableScan" in plan or "ExistingRDD" in plan, plan


class TestWebPlans:
    def test_html_extract_single_scan_no_exchange(self, spark, sf_dir):
        """The extraction chain is ONE projection fused into the scan:
        an Exchange or Join here means the regexp chain regressed to
        something non-streaming."""
        from lotad_spark.pipeline.web import html_to_text

        d = ParquetDatabase(spark, sf_dir, "db").table("documents")
        pages = d.select("doc_id", F.col("text").alias("html"))
        plan = _plan(html_to_text(pages))
        assert "Exchange" not in plan
        assert "Join" not in plan
        assert "EvalPython" not in plan  # zero UDFs
        assert plan.count("FileScan") == 1

    def test_extract_links_no_exchange(self, spark, sf_dir):
        from lotad_spark.pipeline.web import extract_links

        d = ParquetDatabase(spark, sf_dir, "db").table("documents")
        pages = d.select("doc_id", F.col("text").alias("html"))
        plan = _plan(extract_links(pages))
        assert "Exchange" not in plan
        assert "Generate explode" in plan
        assert "EvalPython" not in plan


class TestMediaStagePlans:
    def test_pdf_extract_single_arrow_stage_no_exchange(self, spark, sf_dir):
        """extract_pdf_text is ONE Arrow mapInPandas over the scan — an
        Exchange or a second FileScan means the per-payload parse
        stopped living inside the scan stage."""
        from lotad_spark.pipeline.pdf import extract_pdf_text

        d = ParquetDatabase(spark, sf_dir, "db").table("documents")
        media = d.select(
            F.col("doc_id").alias("media_id"),
            F.encode("text", "utf-8").alias("content"),
        )
        plan = _plan(extract_pdf_text(media))
        assert "Exchange" not in plan
        assert plan.count("FileScan") == 1
        assert plan.count("MapInPandas") == 1

    def test_image_hashes_multi_kind_single_stage(self, spark, sf_dir):
        """The unified hash stage: two hash kinds still cost ONE
        mapInPandas (one decode) over one scan."""
        from lotad_spark.pipeline.multimodal import image_hashes

        d = ParquetDatabase(spark, sf_dir, "db").table("documents")
        media = d.select(
            F.col("doc_id").alias("media_id"),
            F.encode("text", "utf-8").alias("content"),
        )
        plan = _plan(image_hashes(media, kinds=("ahash", "dhash")))
        assert "Exchange" not in plan
        assert plan.count("FileScan") == 1
        assert plan.count("MapInPandas") == 1


class TestR17MediaPlans:
    """r17 faces keep the scan-stage shape: one FileScan, one Arrow
    stage, zero exchanges."""

    def _media(self, spark, sf_dir):
        d = ParquetDatabase(spark, sf_dir, "db").table("documents")
        return d.select(
            F.col("doc_id").alias("media_id"),
            F.encode("text", "utf-8").alias("content"),
        )

    def test_audio_tags_single_stage(self, spark, sf_dir):
        from lotad_spark.pipeline.multimodal import audio_tags

        plan = _plan(audio_tags(self._media(spark, sf_dir)))
        assert "Exchange" not in plan
        assert plan.count("FileScan") == 1
        assert plan.count("MapInPandas") == 1

    def test_audio_fingerprint_single_stage(self, spark, sf_dir):
        from lotad_spark.pipeline.multimodal import audio_fingerprint

        plan = _plan(audio_fingerprint(self._media(spark, sf_dir)))
        assert "Exchange" not in plan
        assert plan.count("FileScan") == 1
        assert plan.count("MapInPandas") == 1

    def test_http_unwrap_single_arrow_stage(self, spark, sf_dir):
        """warc_http_unwrap + the charset-ladder text projection stay
        ONE Arrow stage over the binary scan — the wire decode must
        not introduce an exchange or a Python round-trip beyond the
        single mapInPandas."""
        from lotad_spark.sources.warc import (
            unwrapped_body_text,
            warc_http_unwrap,
        )

        d = ParquetDatabase(spark, sf_dir, "db").table("documents")
        media = d.select(
            F.col("doc_id").alias("media_id"),
            F.encode("text", "utf-8").alias("content"),
        )
        plan = _plan(unwrapped_body_text(warc_http_unwrap(media)))
        assert "Exchange" not in plan
        assert plan.count("FileScan") == 1
        assert plan.count("MapInPandas") == 1
        assert "EvalPython" not in plan.replace("MapInPandas", "")
