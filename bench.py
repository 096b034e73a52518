"""Benchmark harness: headline queries at $SPARK_GRAFT_SF_DIR.

Prints ONE JSON line:
    {"metric": "...", "value": N, "unit": "sec", "queries": {...}, "sf": ...}

``value`` is the wall time of the full-database drift diff (8 relational
tables, db1 vs mutated db2 — the same workload measured for the DuckDB
reference baseline in BASELINE.md / scripts/measure_baseline.py). Extra
headline queries (aggregation, top-k, window agg) are reported in
``queries`` alongside the per-table diff times.

Run: PYTHONPATH=/root/repo python bench.py
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from pyspark.sql import functions as F  # noqa: E402

from lotad_spark.benchmarks.fixtures import (  # noqa: E402
    EXPECTED_DRIFT_SF01,
    RELATIONAL_TABLES,
    build_parquet_variants,
)
from lotad_spark.operators.diff import diff_tables  # noqa: E402
from lotad_spark.session import get_spark  # noqa: E402
from lotad_spark.sources.memory import bounded_local_df  # noqa: E402
from lotad_spark.sources.parquet import ParquetDatabase  # noqa: E402


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = float(sf_dir.rstrip("/").split("sf")[-1])
    work = f"/tmp/lotad_bench_sf{sf}"

    db1_dir, db2_dir = build_parquet_variants(sf_dir, work)
    spark = get_spark("lotad_bench")

    db1 = ParquetDatabase(spark, db1_dir, "db1")
    db2 = ParquetDatabase(spark, db2_dir, "db2")

    # r18 measurement fix (guide §1.4): the timed action for registry
    # rows is the noop sink — it computes EVERY column of every row and
    # discards the result. The previous action, foreach(lambda: None),
    # additionally pickled every output row into Python workers, a cost
    # the real query does not have; output-heavy rows paid 1.5-3× for
    # it (isolated min-of-3 A/B at sf0.1: psi_drift 2.39→0.73,
    # contamination_bloom 6.43→3.04, streaming_dedup_batch 1.36→0.68,
    # dedup_components 3.74→2.51, value_deciles 1.87→1.31; compute-bound
    # rows unchanged: text_winnow_fp 2.83→2.91, events_window_agg
    # 0.62→0.58, dedup_near_minhash 2.28→2.16). Documented in
    # OPTIMIZATION_r18.md with the r17-methodology numbers kept.
    def run_query(df) -> None:
        df.write.format("noop").mode("overwrite").save()

    queries: dict[str, float] = {}

    # Warm up the JVM, parquet readers, Python worker pool, and codegen so
    # per-query times measure the workload, not session spin-up.
    diff_tables(
        db1.table("region").limit(5), db2.table("region").limit(5),
        db1_id="db1", db2_id="db2",
    ).diff.count()
    # r18: one full pass over the 8 tables first. The tiny region
    # warm-up above does not JIT the per-table-width codegen paths, and
    # the headline block runs FIRST in a fresh JVM — r18 isolated
    # protocol read 8.3-8.7 s (in-band with r17's 8.756) while the
    # cold-sweep headline read 12.3 s, and the single-pass ladder showed
    # the decay explicitly (19.2 → 9.7 by rep 3). Warming all tables
    # makes the headline measure the WORKLOAD, not first-call
    # compilation, matching the isolated min-of-N protocol every flag
    # triage already uses.
    # r19 (per the r18 verdict): the prelude pass is now TIMED and
    # reported as ``diff_all_tables_cold_1rep`` — one rep over all 8
    # tables in a fresh JVM, prelude-free — so rounds keep a
    # fixed-methodology cold number next to the warmed headline.
    t0 = time.perf_counter()
    for t in RELATIONAL_TABLES:
        diff_tables(
            db1.table(t), db2.table(t), db1_id="db1", db2_id="db2"
        ).diff.count()
    queries["diff_all_tables_cold_1rep"] = round(
        time.perf_counter() - t0, 3
    )
    drift_counts: dict[str, int] = {}
    # Correctness pins evaluated during the bench run — recorded in the
    # output JSON so a silent regression cannot hide behind a green
    # timing row (stderr is not captured by the driver).
    checks: dict[str, bool] = {}

    # Min of three warm repeats per table: per-job scheduling overhead on a
    # shared box varies by ±1s, which across 8 tables swamps the signal
    # (the round-4 driver run recorded diff_orders at 4.55s where the
    # warm best was 2.5s — one noisy repeat out of two was enough).
    diff_total = 0.0
    for t in RELATIONAL_TABLES:
        best = None
        for _ in range(3):
            t0 = time.perf_counter()
            r = diff_tables(
                db1.table(t), db2.table(t), db1_id="db1", db2_id="db2"
            )
            drift_counts[t] = r.diff.count()
            dt = time.perf_counter() - t0
            best = dt if best is None else min(best, dt)
        queries[f"diff_{t}"] = round(best, 3)
        diff_total += best

    if sf == 0.1:
        mismatches = {
            t: (drift_counts[t], EXPECTED_DRIFT_SF01[t])
            for t in RELATIONAL_TABLES
            if drift_counts[t] != EXPECTED_DRIFT_SF01[t]
        }
        if mismatches:
            print(
                f"DRIFT COUNT MISMATCH vs reference baseline: {mismatches}",
                file=sys.stderr,
            )
            sys.exit(1)

    # Orchestrated run: same 8 tables through compare_all's ThreadPool +
    # FAIR scheduling — measures the concurrency win over the sequential
    # per-table loop above (the reference runs one process per table).
    import shutil
    import tempfile

    from lotad_spark.compare import compare_all

    # r19: warm the orchestrator-only cold paths first (parquet WRITE
    # committer classes, the observe/accumulator sink, the report
    # renderer) on the two tiny tables — the diff warm-up above
    # exercises none of them, so the first compare_all call used to
    # pay 8-10 s of first-call JIT that no steady-state deployment
    # pays (r18 sweep read 11-16 s single-shot
    # vs a 4.4-5.7 s warm floor). Untimed, ~1 s; the timed run still
    # re-executes every diff, write, and summary from scratch.
    out_dir = tempfile.mkdtemp(prefix="lotad_bench_warm_")
    compare_all(
        spark, db1, db2, output_path=out_dir,
        target_tables=["region", "nation"],
    )
    shutil.rmtree(out_dir, ignore_errors=True)

    out_dir = tempfile.mkdtemp(prefix="lotad_bench_out_")
    t0 = time.perf_counter()
    compare_all(spark, db1, db2, output_path=out_dir)
    queries["compare_all_concurrent"] = round(time.perf_counter() - t0, 3)
    shutil.rmtree(out_dir, ignore_errors=True)

    # Duplicate-key skew stress: one constant row replicated to ~25% of
    # lineitem on BOTH sides (all copies share ONE content hash and
    # cancel in the diff; drift stays the standard mutation set). The
    # diff lands every copy in one row-count-bound partition, invisible
    # to AQE's byte-based skew detection because identical rows compress
    # to ~nothing in the shuffle (tests/test_plans.py::TestSkewedDiffPlans).
    # Versioned fixture path: the spec changed in r9 (deterministic
    # off-mutation-set row). A bare exists() guard would trust a stale
    # pre-change fixture forever, silently making diff_skewed numbers
    # non-comparable across work dirs — bump the suffix on any spec change.
    skew_dir = os.path.join(work, "skew_v2")
    li1, li2 = db1.table("lineitem"), db2.table("lineitem")
    if not os.path.exists(skew_dir):
        n_copies = li1.count() // 4
        # Collect ONE concrete row reused by both writes — an
        # unmaterialized limit(1) re-executes per action and may pick
        # different rows for db1/db2, leaving copies that don't cancel
        # in the diff. Ordered so a fixture rebuild duplicates the SAME
        # row and bench numbers stay comparable across rounds, and
        # filtered off the mutation set: duplicating a quantity-shifted
        # key's db1 version onto both sides would cancel one side of
        # that drift pair and shrink the expected drift by one.
        from lotad_spark.benchmarks.fixtures import LINEITEM_MUTATION_MOD

        const = bounded_local_df(spark, 
            li1.filter(
                F.col("l_orderkey") % LINEITEM_MUTATION_MOD != 0
            ).orderBy("l_orderkey", "l_linenumber").take(1),
            li1.schema,
        )
        copies = (
            spark.range(n_copies)
            .crossJoin(F.broadcast(const))
            .drop("id")
            .select(*li1.columns)
        )
        # Build under a temp name and rename into place: a crash
        # between the two writes must not leave a half-fixture that
        # the exists() guard then trusts forever.
        tmp_dir = skew_dir + ".tmp"
        shutil.rmtree(tmp_dir, ignore_errors=True)
        li1.unionByName(copies).write.parquet(f"{tmp_dir}/db1")
        li2.unionByName(copies).write.parquet(f"{tmp_dir}/db2")
        os.rename(tmp_dir, skew_dir)
    from lotad_spark.sources.parquet import read_table as _read_table

    sk1 = _read_table(spark, f"{skew_dir}/db1")
    sk2 = _read_table(spark, f"{skew_dir}/db2")
    best = None
    for _ in range(2):
        t0 = time.perf_counter()
        skew_drift = diff_tables(sk1, sk2, db1_id="db1", db2_id="db2").diff.count()
        dt = time.perf_counter() - t0
        best = dt if best is None else min(best, dt)
    queries["diff_skewed"] = round(best, 3)
    # The copies cancel, so the skew fixture drifts exactly as lineitem does.
    if skew_drift != drift_counts["lineitem"]:
        print(
            f"SKEW DRIFT MISMATCH: {skew_drift} rows vs lineitem's "
            f"{drift_counts['lineitem']}",
            file=sys.stderr,
        )
        sys.exit(1)

    # Headline analytics queries from the driver contract.
    import __spark_entry__ as entry_mod

    for name in ("q1_lineitem_agg", "topk_orders", "events_window_agg", "events_funnel", "profile_drift", "events_retention", "psi_drift", "asof_latest_order", "range_join_views", "rollup_hourly", "rollup_incremental", "rollup_gapfill", "twa_by_user", "rollup_distinct_users", "quantile_estimates", "quantiles_online", "events_sliding_agg", "rollup_anomaly", "multi_grain_cube", "event_transitions", "path_signatures", "strip_dup_spans", "temperature_rates", "anomaly_online", "events_funnel_windowed", "value_deciles", "span_index_probe", "canonical_keep", "contamination_spans", "rolling_active_users_bound", "strip_dup_lines", "json_schema_drift", "sql_row_hash_diff", "json_key_stats", "apply_bpe", "bpe_fertility", "interval_join_batch", "orc_scan_diff", "csv_scan_diff", "jsonl_scan_diff", "streaming_dedup_batch", "frame_sample_plan"):
        fn = entry_mod.queries()[name]
        t0 = time.perf_counter()
        df = fn(spark, sf_dir)
        run_query(df)
        queries[name] = round(time.perf_counter() - t0, 3)

    # Machine-complete registry sweep (r16): price EVERY queries() row
    # not already priced above and not on the explicit exemption list —
    # the r13/r15 trap was a prefix whitelist that silently skipped new
    # query families; now a new row is priced by construction and the
    # bench_coverage_ok check below turns any future gap into a failed
    # check in the recorded JSON instead of an eyeball catch.
    # Exemptions (each one's production path is priced elsewhere in
    # this file): the three ANN rows that run the ORACLE config (expr
    # kernels, bit-deterministic for the driver's value check) and
    # retrain codebooks per call — the serving-shape *_build_once /
    # *_probe rows below price the real arrow paths (the dedup_semantic
    # lesson from r9).
    bench_exempt = {
        "ann_ivfpq_topk": "oracle config; priced by ann_ivfpq_build_once/_probe",
        "ann_ivfpq_residual_topk": "oracle config; priced by ann_ivfpq_residual_build_once/_probe",
        "ann_sq8_topk": "oracle config; priced by ann_sq8_build_once/_probe",
    }
    for name, fn in entry_mod.queries().items():
        if name in queries or name in bench_exempt:
            continue
        t0 = time.perf_counter()
        run_query(fn(spark, sf_dir))
        queries[name] = round(time.perf_counter() - t0, 3)

    # ANN serving shape: ann_ivf_topk above pays k-means training per call
    # (the correctness query). Production builds the index ONCE
    # (build_ivf_index: train + assign + write partitioned-by-centroid)
    # and serves probes off the materialized layout with static partition
    # pruning — report both halves so the bench reflects serving latency.
    from lotad_spark.pipeline.similarity import build_ivf_index, ivf_topk_indexed
    from lotad_spark.sources.parquet import read_table

    emb = read_table(spark, f"{sf_dir}/embeddings.parquet")
    idx_dir = tempfile.mkdtemp(prefix="lotad_bench_ivf_")
    t0 = time.perf_counter()
    build_ivf_index(emb, idx_dir)
    queries["ann_ivf_build_once"] = round(time.perf_counter() - t0, 3)
    best = None
    for _ in range(3):
        t0 = time.perf_counter()
        run_query(ivf_topk_indexed(
            spark, idx_dir, emb.filter(F.col("vec_id") < 5), k=5
        ))
        dt = time.perf_counter() - t0
        best = dt if best is None else min(best, dt)
    queries["ann_ivf_probe_indexed"] = round(best, 3)
    shutil.rmtree(idx_dir, ignore_errors=True)

    # IVF-PQ serving shape (r10): coarse partitioning + PQ codes — the
    # probe scan touches nprobe/n_centroids of an index holding a few
    # bytes/row (codes only; embedding column absent from the layout).
    from lotad_spark.pipeline.pq import build_ivf_pq_index, ivf_pq_topk

    idx_dir = tempfile.mkdtemp(prefix="lotad_bench_ivfpq_")
    t0 = time.perf_counter()
    build_ivf_pq_index(emb, idx_dir)
    queries["ann_ivfpq_build_once"] = round(time.perf_counter() - t0, 3)
    best = None
    for _ in range(3):
        t0 = time.perf_counter()
        run_query(ivf_pq_topk(
            spark, idx_dir, emb.filter(F.col("vec_id") < 5), k=5
        ))
        dt = time.perf_counter() - t0
        best = dt if best is None else min(best, dt)
    queries["ann_ivfpq_probe"] = round(best, 3)
    shutil.rmtree(idx_dir, ignore_errors=True)

    # IVFADC (residual IVF-PQ) serving shape (late r10): same layout,
    # codes quantize v − anchor; probe adds the anchor terms as
    # broadcast scaled-integer literals — priced on the arrow path.
    idx_dir = tempfile.mkdtemp(prefix="lotad_bench_ivfpq_res_")
    t0 = time.perf_counter()
    build_ivf_pq_index(emb, idx_dir, residual=True)
    queries["ann_ivfpq_residual_build_once"] = round(
        time.perf_counter() - t0, 3
    )
    best = None
    for _ in range(3):
        t0 = time.perf_counter()
        run_query(ivf_pq_topk(
            spark, idx_dir, emb.filter(F.col("vec_id") < 5), k=5
        ))
        dt = time.perf_counter() - t0
        best = dt if best is None else min(best, dt)
    queries["ann_ivfpq_residual_probe"] = round(best, 3)
    shutil.rmtree(idx_dir, ignore_errors=True)

    # IVF-SQ8 serving shape (late r10): int8 rows + stored Σq/Σq² —
    # the middle rung between raw-vector IVF and IVF-PQ.
    from lotad_spark.pipeline.similarity import (
        build_ivf_sq8_index,
        ivf_sq8_topk,
    )

    idx_dir = tempfile.mkdtemp(prefix="lotad_bench_sq8_")
    t0 = time.perf_counter()
    build_ivf_sq8_index(emb, idx_dir)
    queries["ann_sq8_build_once"] = round(time.perf_counter() - t0, 3)
    best = None
    for _ in range(3):
        t0 = time.perf_counter()
        run_query(ivf_sq8_topk(
            spark, idx_dir, emb.filter(F.col("vec_id") < 5), k=5
        ))
        dt = time.perf_counter() - t0
        best = dt if best is None else min(best, dt)
    queries["ann_sq8_probe"] = round(best, 3)
    shutil.rmtree(idx_dir, ignore_errors=True)

    # BM25 serving shape (late r10): tokenize the corpus ONCE into the
    # stored postings relation; probes broadcast the query terms and
    # never re-read document text.
    from lotad_spark.pipeline.retrieval import (
        bm25_against_index,
        write_bm25_index,
    )

    bm25_queries = bounded_local_df(spark, 
        entry_mod._BM25_QUERIES, "query_id bigint, query string"
    )
    bm25_docs = read_table(spark, f"{sf_dir}/documents.parquet")
    idx_dir = tempfile.mkdtemp(prefix="lotad_bench_bm25_")
    t0 = time.perf_counter()
    write_bm25_index(bm25_docs, idx_dir)
    queries["bm25_build_once"] = round(time.perf_counter() - t0, 3)
    best = None
    for _ in range(3):
        t0 = time.perf_counter()
        run_query(bm25_against_index(
            spark, idx_dir, bm25_queries, k=5
        ))
        dt = time.perf_counter() - t0
        best = dt if best is None else min(best, dt)
    queries["bm25_probe"] = round(best, 3)
    shutil.rmtree(idx_dir, ignore_errors=True)

    # Persisted sketch index (r12): build once (CMS grid + Bloom bitmap
    # + meta), then probe a bounded vocabulary off the stored layout —
    # the ingest-monitoring serving shape; probe state is the few-KB
    # grid, so probe cost is corpus-independent by construction.
    from lotad_spark.pipeline.sketch import (
        sketch_index_estimate,
        write_sketch_index,
    )

    idx_dir = tempfile.mkdtemp(prefix="lotad_bench_sketch_")
    t0 = time.perf_counter()
    write_sketch_index(read_table(spark, f"{sf_dir}/documents.parquet"), idx_dir)
    queries["sketch_index_build_once"] = round(time.perf_counter() - t0, 3)
    probe_terms = bounded_local_df(spark, 
        [(t,) for t in ("the", "dup", "data", "never-there")],
        "term string",
    )
    best = None
    for _ in range(3):
        t0 = time.perf_counter()
        run_query(sketch_index_estimate(spark, idx_dir, probe_terms))
        dt = time.perf_counter() - t0
        best = dt if best is None else min(best, dt)
    queries["sketch_index_probe"] = round(best, 3)
    shutil.rmtree(idx_dir, ignore_errors=True)

    # URL-dedup serving shape: the url_dedup_incremental registry row
    # is the ORACLE configuration (rebuilds the stored set per call);
    # production builds once and probes batches — the bm25/ivf
    # build-once/probe split.
    from lotad_spark.pipeline.urls import (
        url_dedup_against_index,
        write_url_index,
    )

    url_corpus = entry_mod._url_corpus(spark, sf_dir)
    idx_dir = tempfile.mkdtemp(prefix="lotad_bench_urlidx_")
    t0 = time.perf_counter()
    write_url_index(url_corpus, idx_dir)
    queries["url_index_build_once"] = round(time.perf_counter() - t0, 3)
    best = None
    for _ in range(3):
        t0 = time.perf_counter()
        run_query(url_dedup_against_index(spark, idx_dir, url_corpus))
        dt = time.perf_counter() - t0
        best = dt if best is None else min(best, dt)
    queries["url_index_probe"] = round(best, 3)
    shutil.rmtree(idx_dir, ignore_errors=True)

    # SemDeDup at the production configuration (r10): the dedup_semantic
    # entry row above measures the DEMO config (k=8, expr kernel — the
    # deterministic shape the DuckDB oracle replays). Production uses the
    # cluster-size rule (n_clusters ≈ corpus/250, the sf1-measured lever
    # that cut pair volume) and the Arrow assignment kernel (39.2 → 9.0 s
    # at sf1) — this row prices that path on the same corpus.
    from lotad_spark.pipeline.similarity import semantic_dedup_corpus

    sem_corpus = entry_mod._embedding_dup_corpus(spark, sf_dir)
    sem_k = max(8, sem_corpus.count() // 250)
    t0 = time.perf_counter()
    run_query(semantic_dedup_corpus(
        sem_corpus, n_clusters=sem_k, threshold=0.99, kernel="arrow"
    ))
    queries["dedup_semantic_scaled"] = round(time.perf_counter() - t0, 3)

    # MinHash at production parameters (K=128 permutations, 16 bands × 8
    # rows) on the same corpus as the K=8 demo row — the measured cost of
    # the scale-grade configuration, not just the oracle-sized one.
    from lotad_spark.pipeline.dedup import near_dup_pairs

    docs = read_table(spark, f"{sf_dir}/documents.parquet")
    t0 = time.perf_counter()
    run_query(near_dup_pairs(
        docs, num_perms=128, bands=16, threshold=0.6
    ))
    queries["dedup_near_minhash_k128"] = round(time.perf_counter() - t0, 3)

    # Long-string edit join: the r14 shuffle-shape fix priced at the
    # scale it was built for. 2,000 synthetic documents of 1 KiB each
    # (every 10th a 1-edit mutant of its predecessor, so the true pair
    # set is 200 rows at distance 1). The candidate exchange now
    # carries fixed-width (xxhash64(segment), id, length, position)
    # rows, and aligned-substring selection bounds probes to O(k³) per
    # doc (plan-pinned in tests/test_plans.py). The r13 shape — every
    # one of ~3·L probe rows per doc carrying the full 1 KiB text —
    # measured 47 s on this corpus; this row tracks the fixed shape
    # (~10 s cold, dominated by stage overhead at toy scale).
    from lotad_spark.pipeline.dedup import edit_distance_pairs

    _seed = F.when(
        F.col("id") % 10 == 1, F.col("id") - 1
    ).otherwise(F.col("id"))
    _long_text = F.concat(
        *[
            F.md5(F.concat(_seed.cast("string"), F.lit(f"_{i}")))
            for i in range(32)
        ]
    )
    long_docs = (
        spark.range(2000)
        .repartition(32)
        .select(
            F.col("id").alias("doc_id"),
            F.when(
                F.col("id") % 10 == 1, F.concat(_long_text, F.lit("Z"))
            ).otherwise(_long_text).alias("text"),
        )
    )
    t0 = time.perf_counter()
    n_long_pairs = edit_distance_pairs(long_docs, k=2).count()
    queries["edit_distance_pairs_long1k"] = round(
        time.perf_counter() - t0, 3
    )
    # Machine-visible recall pin: a regression in the candidate-exchange
    # rewrite must show in the recorded JSON, not only on stderr.
    checks["edit_distance_pairs_long1k_pairs_ok"] = n_long_pairs == 200
    if n_long_pairs != 200:
        print(
            f"edit_distance_pairs_long1k: expected 200 pairs, got "
            f"{n_long_pairs}",
            file=sys.stderr,
        )

    # Streaming soak: the FULL sf events table through a real multi-batch
    # readStream (8 source files, one per micro-batch) — windowed agg and
    # the applyInPandasWithState custom operator both carry
    # watermark-bounded state across batches; availableNow terminates
    # after draining. Wall time is the whole run: spin-up, all
    # micro-batches, state commits.
    from lotad_spark.streaming import key_lifetime_stats, windowed_event_agg

    stream_src = os.path.join(work, "stream_src")
    if not os.path.exists(stream_src):
        read_table(spark, f"{sf_dir}/events.parquet").repartition(8).write.mode(
            "overwrite"
        ).parquet(stream_src)
    stream_schema = spark.read.parquet(stream_src).schema
    # State-store partitioning is fixed at first run by the checkpoint and
    # SHOULD be sized to the state, not inherited from the batch shuffle
    # width: each micro-batch commits every state partition, so 32
    # partitions × 8 batches = 256 commits of mostly-empty stores for a
    # ~150-key workload — measured 2-3× the whole soak. At production key
    # cardinality raise the width with the state size (commits amortize
    # once partitions hold real state).
    #
    # r19 state-store config A/B (min-of-3 per cell, interleaved, fresh
    # checkpoint per run, identical 7-batch output in every cell):
    #   windowed:  p8 3.13 / p4 2.60 / p2 2.43 / RocksDB-p8 3.02
    #   sliding:   p8 3.29 / p4 2.86 / p2 2.65 / RocksDB-p8 3.40
    #   stateful:  p8 6.84 / p4 7.84 / p2 8.48 / RocksDB-p8 6.18
    # and noDataMicroBatches=false saved a further ~0.2-0.4 s on the two
    # JVM window aggs. Cost model: the JVM aggs hold KB-scale state, so
    # per-partition commit overhead dominates → fewer, larger state
    # partitions win (guide §2.2 fewer-larger applied to state commits);
    # the applyInPandasWithState op spends its time in per-partition
    # Python round trips, so SHRINKING its width serializes Python work
    # and loses — it keeps 8 (RocksDB and no-data-batch deltas on it are
    # inside its 6.1-7.8 s run-to-run noise band; the remaining floor is
    # micro-batch machinery: 7 batches × state commit + Arrow
    # round-trips, config-insensitive — full table in
    # OPTIMIZATION_r19.md). No-data micro-batches only advance the
    # watermark and evict state — in update mode they emit nothing, so
    # skipping them cannot change soak output (batch count and rows
    # pinned identical in the A/B).
    old_parts = spark.conf.get("spark.sql.shuffle.partitions")
    old_nodata = spark.conf.get(
        "spark.sql.streaming.noDataMicroBatches.enabled", "true"
    )
    spark.conf.set("spark.sql.streaming.noDataMicroBatches.enabled", "false")
    from lotad_spark.streaming import sliding_window_agg

    for bench_name, op, state_parts in (
        ("stream_windowed_agg_soak", windowed_event_agg, 4),
        ("stream_sliding_agg_soak", sliding_window_agg, 4),
        ("stream_stateful_soak", key_lifetime_stats, 8),
    ):
        spark.conf.set("spark.sql.shuffle.partitions", str(state_parts))
        ckpt = tempfile.mkdtemp(prefix=f"lotad_bench_ckpt_{bench_name}_")
        stream = (
            spark.readStream.schema(stream_schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(stream_src)
        )
        t0 = time.perf_counter()
        sq = (
            op(stream)
            .writeStream.format("noop")
            .outputMode("update")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        sq.awaitTermination()
        queries[bench_name] = round(time.perf_counter() - t0, 3)
        n_batches = (sq.lastProgress or {}).get("batchId")
        if n_batches is not None and n_batches < 2:
            print(
                f"{bench_name}: expected multi-batch soak, got "
                f"batchId={n_batches}",
                file=sys.stderr,
            )
        shutil.rmtree(ckpt, ignore_errors=True)
    spark.conf.set("spark.sql.shuffle.partitions", old_parts)
    spark.conf.set(
        "spark.sql.streaming.noDataMicroBatches.enabled", old_nodata
    )

    # Coverage gate: every registry row priced or exempt, recorded as a
    # machine-visible check (a silent pricing gap must fail the sweep,
    # not wait for an eyeball diff of n_queries).
    unpriced = [
        n for n in entry_mod.queries()
        if n not in queries and n not in bench_exempt
    ]
    checks["bench_coverage_ok"] = not unpriced
    if unpriced:
        print(f"BENCH COVERAGE GAP: {unpriced}", file=sys.stderr)

    # The driver captures only the last ~2000 chars of output and parses
    # the FINAL line as JSON, so the full per-query map (200+ rows, far
    # over the window) goes to a file and to an EARLIER stdout line; the
    # final line is a short headline dict that always fits. r19 (per the
    # r18 verdict, which lost the driver's per-query regression screen
    # to the truncation): the final line now carries a COMPACT ``queries``
    # map — the 8 per-table diff rows + the cold 1-rep headline + the 10
    # slowest tail rows + the top family subtotals — sized to stay under
    # ~1500 chars so the driver's per_query/scaling comparisons have
    # real data again. Additions only: every row the final line carried
    # before is still present, and BENCH_FULL.json keeps the full map.
    full = {
        "metric": "full_db_drift_diff_wall_sec",
        "value": round(diff_total, 3),
        "unit": "sec",
        "queries": queries,
        "sf": sf,
        "checks": checks,
    }
    with open(os.path.join(os.path.dirname(os.path.abspath(__file__)),
                           "BENCH_FULL.json"), "w") as fh:
        json.dump(full, fh, indent=1)
    print(json.dumps(full))
    headline = {k: full[k] for k in ("metric", "value", "unit", "sf")}
    headline["n_queries"] = len(queries)
    headline["queries_file"] = "BENCH_FULL.json"
    headline["checks_ok"] = all(checks.values())
    headline["coverage_ok"] = checks["bench_coverage_ok"]
    compact: dict[str, float] = {
        f"diff_{t}": queries[f"diff_{t}"] for t in RELATIONAL_TABLES
    }
    compact["diff_all_tables_cold_1rep"] = queries[
        "diff_all_tables_cold_1rep"
    ]
    for name, secs in sorted(queries.items(), key=lambda kv: -kv[1])[:10]:
        compact.setdefault(name, secs)
    fam_tot: dict[str, float] = {}
    for name, secs in queries.items():
        fam = name.split("_", 1)[0]
        fam_tot[fam] = fam_tot.get(fam, 0.0) + secs
    fams = sorted(fam_tot.items(), key=lambda kv: -kv[1])[:10]
    for fam, tot in fams:
        compact[f"family_{fam}_total"] = round(tot, 3)
    compact["all_queries_total"] = round(sum(queries.values()), 3)
    headline["queries"] = compact
    # Hard size guard: the driver tail-captures ~2000 chars and parses
    # the final line — shed family subtotals first if we ever approach it.
    while len(json.dumps(headline)) > 1800 and fams:
        fam, _ = fams.pop()
        compact.pop(f"family_{fam}_total", None)
    print(json.dumps(headline))


if __name__ == "__main__":
    main()
