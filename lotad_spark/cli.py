"""Command-line interface.

Mirrors the reference CLI surface (lotad/cli.py:66-108): ``run`` executes a
config-driven full-database comparison and prints the drift report;
``suggest-ignore-columns`` is the wizard's analytic core
(lotad/config_wizard.py:101-147) as a non-interactive command.

    python -m lotad_spark.cli run --config compare.yaml
    python -m lotad_spark.cli run --db1 /data/db1 --db2 /data/db2 --output out
    python -m lotad_spark.cli suggest-ignore-columns --db1 ... --db2 ... -t customer
"""

from __future__ import annotations

from datetime import datetime

import click

from lotad_spark.config import Config, comparator_from_config, database_from_config
from lotad_spark.sources.memory import bounded_local_df
from lotad_spark.session import get_spark


@click.group()
def cli() -> None:
    """lotad_spark — PySpark-native database drift diff."""


@cli.command()
@click.option("--config", "config_path", type=click.Path(exists=True), default=None)
@click.option("--db1", "db1_path", type=click.Path(exists=True), default=None)
@click.option("--db2", "db2_path", type=click.Path(exists=True), default=None)
@click.option("--output", "output_path", default="drift_analysis_out")
@click.option("--ignore-dates", is_flag=True, default=False)
@click.option("--target-table", "target_tables", multiple=True)
@click.option("--ignore-table", "ignore_tables", multiple=True)
def run(
    config_path, db1_path, db2_path, output_path, ignore_dates,
    target_tables, ignore_tables,
) -> None:
    """Compare two parquet-directory databases and print the drift report."""
    if config_path:
        config = Config.load(config_path)
    elif db1_path and db2_path:
        config = Config(
            db1_path=db1_path,
            db2_path=db2_path,
            output_path=output_path,
            ignore_dates=ignore_dates,
            target_tables=list(target_tables),
            ignore_tables=list(ignore_tables),
        )
    else:
        raise click.UsageError("provide --config or both --db1 and --db2")

    start = datetime.now()
    spark = get_spark("lotad_spark_cli")
    result = comparator_from_config(spark, config).compare_all()
    click.echo(result.report())
    click.echo(f"\nCompleted in {(datetime.now() - start).total_seconds():.1f}s")


@cli.command("suggest-ignore-columns")
@click.option("--db1", "db1_path", type=click.Path(exists=True), required=True)
@click.option("--db2", "db2_path", type=click.Path(exists=True), required=True)
@click.option("--table", "-t", "tables", multiple=True)
def suggest_ignore_columns_cmd(db1_path, db2_path, tables) -> None:
    """Suggest per-table ignore_column rules (zero value overlap)."""
    from lotad_spark.wizard import suggest_ignore_columns

    spark = get_spark("lotad_spark_wizard")
    config = Config(db1_path=db1_path, db2_path=db2_path)
    db1 = database_from_config(spark, config, "db1")
    db2 = database_from_config(spark, config, "db2")
    names = list(tables) or sorted(
        set(db1.list_tables()) & set(db2.list_tables())
    )
    for t in names:
        cols = suggest_ignore_columns(db1.table(t), db2.table(t))
        for c in cols:
            click.echo(f"{t}: {c}")


@cli.command()
@click.option("--config", "config_path", default=None)
def wizard(config_path) -> None:
    """Interactive config builder (reference lotad/config_wizard.py menu)."""
    from lotad_spark.config_wizard import ConfigWizard

    ConfigWizard.cli_start(config_path)


@cli.command()
@click.option("--config", "config_path", default=None)
def setup(config_path) -> None:
    """Alias for ``wizard`` — the reference's command name
    (lotad/cli.py:16-22)."""
    from lotad_spark.config_wizard import ConfigWizard

    ConfigWizard.cli_start(config_path)


@cli.command()
@click.option("--docs", "docs_path", type=click.Path(exists=True), required=True,
              help="Parquet file/dir with (doc_id, text, source, ...) rows")
@click.option("--eval-set", "eval_path", type=click.Path(exists=True), default=None,
              help="Optional parquet of benchmark docs to decontaminate against")
@click.option("--output", "output_path", required=True)
@click.option("--block-size", default=2048, show_default=True)
@click.option("--mix", "mix_rates", multiple=True, metavar="SOURCE=RATE",
              help="Per-source keep rate, e.g. --mix web=0.3 (repeatable)")
@click.option("--upsample", "up_weights", multiple=True, metavar="SOURCE=WEIGHT",
              help="Per-source repetition weight, e.g. --upsample books=2.3")
@click.option("--cap-per-source", default=1_000, show_default=True)
@click.option("--sample-rate", default=1.0, show_default=True)
@click.option("--min-quality", default=0.5, show_default=True)
@click.option("--packing", type=click.Choice(["chunk", "nosplit"]),
              default="chunk", show_default=True,
              help="chunk = concat-and-cut (docs may span blocks); "
                   "nosplit = whole docs per block, next-fit-decreasing "
                   "(over-long docs flagged overflow)")
def curate(docs_path, eval_path, output_path, block_size, mix_rates,
           up_weights, cap_per_source, sample_rate, min_quality,
           packing) -> None:
    """Run the raw-docs → training-blocks pipeline
    (``pipeline.plan_training_corpus``) and write the chunk plan + reader
    manifest as parquet under OUTPUT/{plan,manifest} (nosplit packing
    writes the pack plan only — whole docs need no reader slices)."""

    def parse_kv(pairs: tuple[str, ...], what: str) -> dict[str, float]:
        out: dict[str, float] = {}
        for p in pairs:
            key, sep, val = p.partition("=")
            if not sep:
                raise click.BadParameter(f"{what} needs SOURCE=NUMBER, got {p!r}")
            try:
                out[key] = float(val)
            except ValueError:
                raise click.BadParameter(
                    f"{what} needs SOURCE=NUMBER, got {p!r} "
                    f"({val!r} is not a number)"
                ) from None
        return out

    from pyspark.sql import functions as F

    from lotad_spark.pipeline import plan_training_corpus
    from lotad_spark.sources.parquet import read_table

    # Fail fast on option syntax before paying Spark spin-up.
    mix = parse_kv(mix_rates, "--mix") or None
    up = parse_kv(up_weights, "--upsample")
    spark = get_spark("lotad-curate")
    docs = read_table(spark, docs_path)
    eval_df = read_table(spark, eval_path) if eval_path else None
    plan = plan_training_corpus(
        docs, eval_df,
        mixture_rates=mix,
        upsample_weights=up,
        block_size=block_size,
        cap_per_source=cap_per_source,
        sample_rate=sample_rate,
        min_quality=min_quality,
        packing=packing,
    )
    plan.write.mode("overwrite").parquet(f"{output_path}/plan")
    if packing == "nosplit":
        p = read_table(spark, f"{output_path}/plan")
        n_items, n_over, n_blocks = p.agg(
            F.count(F.lit(1)),
            F.count_if(F.col("overflow")),
            F.count_distinct(F.col("pack_id")),
        ).collect()[0]
        click.echo(
            f"curate: packed {n_items} docs into {n_blocks} no-split "
            f"blocks of {block_size} tokens ({n_over} overflow) "
            f"to {output_path}/plan"
        )
        return
    # Reader manifest straight off the written plan (no pipeline
    # re-run), via the ONE shared slice-arithmetic helper.
    from lotad_spark.pipeline.sampling import manifest_from_plan

    p = read_table(spark, f"{output_path}/plan")
    manifest_from_plan(p, block_size, id_col="pack_id").write.mode(
        "overwrite"
    ).parquet(f"{output_path}/manifest")
    n_packs = p.count()
    n_chunks = p.agg(F.max("last_chunk")).collect()[0][0]
    # max(last_chunk) == 0 means ONE block (ids are 0-based); only a
    # None (empty plan) means zero blocks — `or` would conflate the two.
    n_blocks = (n_chunks + 1) if n_chunks is not None else 0
    click.echo(
        f"curate: wrote {n_packs} packed docs, "
        f"{n_blocks} blocks of {block_size} tokens "
        f"to {output_path}/{{plan,manifest}}"
    )


@cli.command()
@click.option("--events", "events_path", type=click.Path(exists=True),
              required=True, help="Parquet file/dir of raw event rows")
@click.option("--store", "store_path", required=True,
              help="Rollup store directory (created on --init)")
@click.option("--ts-col", default="ts", show_default=True)
@click.option("--value-col", default="value", show_default=True)
@click.option("--unit", default="minute", show_default=True,
              type=click.Choice(["minute", "hour", "day"]))
@click.option("--dim", "dims", multiple=True,
              help="Grouping dimension column (repeatable)")
@click.option("--init", is_flag=True, default=False,
              help="Create the store from scratch instead of upserting")
@click.option("--since", default=None,
              help="Only fold events with ts >= SINCE (the nightly batch)")
@click.option("--until", default=None,
              help="Only fold events with ts < UNTIL (bound the backfill)")
def rollup(events_path, store_path, ts_col, value_col, unit, dims,
           init, since, until) -> None:
    """Maintain a continuous-aggregate store (``operators.rollup``):
    ``--init`` materializes the partials; without it, the batch is
    upserted touching only the bucket-days it names."""
    from pyspark.sql import functions as F

    from lotad_spark.operators import (
        rollup_time_bucket,
        upsert_rollup,
        write_rollup,
    )
    from lotad_spark.sources import read_table

    spark = get_spark("lotad_rollup")
    ev = read_table(spark, events_path)
    if since:
        ev = ev.filter(F.col(ts_col) >= since)
    if until:
        ev = ev.filter(F.col(ts_col) < until)
    if init:
        write_rollup(
            rollup_time_bucket(
                ev, ts_col=ts_col, value_col=value_col, unit=unit,
                dims=list(dims),
            ),
            store_path,
        )
        n = spark.read.parquet(store_path).count()
        click.echo(
            f"rollup: initialized {store_path} ({n} {unit} partial rows)"
        )
    else:
        days = upsert_rollup(
            ev, store_path, ts_col=ts_col, value_col=value_col, unit=unit,
            dims=list(dims),
        )
        # Count only the partitions the upsert touched — a full-store
        # count would scan every day of history for a log line.
        from lotad_spark.operators.rollup import touched_day_filter

        n = (
            spark.read.parquet(store_path)
            .filter(touched_day_filter(days))
            .count()
        )
        click.echo(
            f"rollup: upserted {store_path} "
            f"({len(days)} bucket-days touched, {n} {unit} partial rows "
            "in them)"
        )


@cli.command("dedup-lines")
@click.option("--docs", "docs_path", type=click.Path(exists=True),
              required=True,
              help="Parquet file/dir with (doc_id, text, ...) rows")
@click.option("--output", "output_path", required=True,
              help="Writes the stripped corpus to OUTPUT/stripped")
@click.option("--min-count", default=2, show_default=True,
              help="A line is boilerplate when its trimmed form occurs "
                   "this often corpus-wide")
@click.option("--delim", default="\n",
              help=r"Literal line separator [default: newline]")
def dedup_lines_cmd(docs_path, output_path, min_count, delim) -> None:
    """Strip CCNet-style boilerplate: lines repeating verbatim across
    the corpus (cookie banners, navigation chrome) are removed per
    document; untouched documents pass through byte-identical."""
    from pyspark.sql import functions as F

    from lotad_spark.pipeline.text import strip_duplicate_lines
    from lotad_spark.sources.parquet import read_table

    if delim == "":
        raise click.UsageError(
            "--delim must be a non-empty literal separator (an empty "
            "delimiter would split every document into single characters "
            "and strip nearly everything)"
        )
    spark = get_spark("lotad_spark_dedup_lines")
    docs = read_table(spark, docs_path)
    stripped = strip_duplicate_lines(
        docs, min_count=min_count, delim=delim
    )
    stripped.write.mode("overwrite").parquet(f"{output_path}/stripped")
    landed = spark.read.parquet(f"{output_path}/stripped")
    n_lines, n_hit = landed.agg(
        F.coalesce(F.sum("n_lines_removed"), F.lit(0)),
        F.count_if(F.col("n_lines_removed") > 0),
    ).collect()[0]
    click.echo(
        f"dedup-lines: removed {n_lines} duplicated lines across "
        f"{n_hit} docs -> {output_path}/stripped"
    )


@cli.command("dedup-semantic")
@click.option("--embeddings", "emb_path", type=click.Path(exists=True),
              required=True,
              help="Parquet file/dir with (vec_id, embedding, ...) rows")
@click.option("--output", "output_path", required=True,
              help="Writes (vec_id, cent_id, nn_sim, is_dup) to "
                   "OUTPUT/semantic")
@click.option("--clusters", default=64, show_default=True,
              help="k-means clusters; scale as corpus/target_cluster_size")
@click.option("--threshold", default=0.92, show_default=True,
              help="Within-cluster cosine at/above which a member is a "
                   "duplicate of a smaller-id member")
@click.option("--kernel", default="arrow", show_default=True,
              type=click.Choice(["expr", "arrow"]),
              help="Assignment kernel: arrow (vectorized, production) "
                   "or expr (bit-deterministic)")
def dedup_semantic_cmd(emb_path, output_path, clusters, threshold,
                       kernel) -> None:
    """SemDeDup semantic dedup: cluster by embedding, flag members
    whose within-cluster cosine to a smaller-id member reaches the
    threshold; the minimum id of each similar set survives."""
    from pyspark.sql import functions as F

    from lotad_spark.pipeline.similarity import semantic_dedup_corpus
    from lotad_spark.sources.parquet import read_table

    spark = get_spark("lotad_spark_dedup_semantic")
    emb = read_table(spark, emb_path)
    res = semantic_dedup_corpus(
        emb, n_clusters=clusters, threshold=threshold, kernel=kernel
    )
    res.write.mode("overwrite").parquet(f"{output_path}/semantic")
    landed = spark.read.parquet(f"{output_path}/semantic")
    n_dup, n_all = landed.agg(
        F.count_if(F.col("is_dup")), F.count("*")
    ).collect()[0]
    click.echo(
        f"dedup-semantic: {n_dup} of {n_all} vectors flagged as "
        f"semantic duplicates -> {output_path}/semantic"
    )


@cli.command("dsir-select")
@click.option("--documents", "docs_path", type=click.Path(exists=True),
              required=True,
              help="Parquet file/dir with (doc_id, text, ...) rows")
@click.option("--target-filter", "target_filter", required=True,
              help="SQL predicate selecting the in-domain target subset "
                   "(e.g. \"lang = 'en'\")")
@click.option("--output", "output_path", required=True,
              help="Writes (doc_id, n_grams, weight) to OUTPUT/weights "
                   "and the k resampled rows to OUTPUT/selected")
@click.option("--k", default=1000, show_default=True,
              help="Number of documents to resample (Gumbel top-k)")
@click.option("--buckets", default=4096, show_default=True,
              help="Hashed-ngram feature buckets")
def dsir_select_cmd(docs_path, target_filter, output_path, k, buckets):
    """DSIR importance resampling: weight every document by how
    target-like its hashed unigram+bigram distribution is, then
    resample k documents with probability proportional to exp(weight)."""
    from lotad_spark.pipeline.dsir import dsir_resample, dsir_weights
    from lotad_spark.sources.parquet import read_table

    spark = get_spark("lotad_spark_dsir")
    docs = read_table(spark, docs_path)
    w = dsir_weights(docs, docs.filter(target_filter), buckets=buckets)
    w.write.mode("overwrite").parquet(f"{output_path}/weights")
    landed = spark.read.parquet(f"{output_path}/weights")
    dsir_resample(landed, k).write.mode("overwrite").parquet(
        f"{output_path}/selected"
    )
    n_sel = spark.read.parquet(f"{output_path}/selected").count()
    click.echo(
        f"dsir-select: weighted {landed.count()} docs, resampled "
        f"{n_sel} -> {output_path}/selected"
    )


@cli.command("pq-index")
@click.option("--embeddings", "emb_path", type=click.Path(exists=True),
              required=True,
              help="Parquet file/dir with (vec_id, embedding, ...) rows")
@click.option("--output", "output_path", required=True,
              help="IVF-PQ index root (data/ centroids/ codebooks/)")
@click.option("--centroids", "n_centroids", default=None, type=int,
              help="Coarse IVF partitions [default: cluster-size rule "
                   "max(8, corpus/250)]")
@click.option("--subspaces", "m", default=16, show_default=True,
              help="PQ subspaces (must divide the embedding dim)")
@click.option("--codes", "n_codes", default=32, show_default=True,
              help="PQ codes per subspace")
@click.option("--residual/--no-residual", default=False, show_default=True,
              help="IVFADC: PQ-encode residuals against cluster-mean "
                   "anchors (higher recall at identical index size)")
def pq_index_cmd(emb_path, output_path, n_centroids, m, n_codes,
                 residual) -> None:
    """Build the write-once IVF-PQ serving index: corpus assigned to
    coarse centroids and PQ-encoded; the index stores codes only
    (a few bytes per vector), partitioned by centroid."""
    from lotad_spark.pipeline.pq import build_ivf_pq_index
    from lotad_spark.sources.parquet import read_table

    spark = get_spark("lotad_spark_pq_index")
    emb = read_table(spark, emb_path)
    build_ivf_pq_index(
        emb, output_path, n_centroids=n_centroids, m=m, n_codes=n_codes,
        residual=residual,
    )
    n = spark.read.parquet(f"{output_path}/data").count()
    click.echo(f"pq-index: {n} vectors encoded -> {output_path}")


@cli.command("pq-append")
@click.option("--embeddings", "emb_path", type=click.Path(exists=True),
              required=True,
              help="Parquet file/dir with NEW (vec_id, embedding) rows")
@click.option("--index", "index_path", type=click.Path(exists=True),
              required=True, help="Existing IVF-PQ index root")
def pq_append_cmd(emb_path, index_path) -> None:
    """Append new vectors to an existing IVF-PQ index: encode with the
    stored centroids/codebooks and parquet-append — no retraining, no
    rewrite, previously-served scores stay byte-identical."""
    from lotad_spark.pipeline.pq import append_to_ivf_pq_index
    from lotad_spark.sources.parquet import read_table

    spark = get_spark("lotad_spark_pq_append")
    before = spark.read.parquet(f"{index_path}/data").count()
    append_to_ivf_pq_index(read_table(spark, emb_path), index_path)
    after = spark.read.parquet(f"{index_path}/data").count()
    click.echo(
        f"pq-append: {after - before} vectors appended "
        f"({before} -> {after}) -> {index_path}"
    )


@cli.command("pq-topk")
@click.option("--index", "index_path", type=click.Path(exists=True),
              required=True, help="IVF-PQ index root from pq-index")
@click.option("--queries", "query_path", type=click.Path(exists=True),
              required=True,
              help="Parquet file/dir with (vec_id, embedding) query rows")
@click.option("--output", "output_path", required=True,
              help="Writes (query_id, vec_id, sim) to OUTPUT/topk")
@click.option("--k", default=5, show_default=True)
@click.option("--nprobe", default=2, show_default=True,
              help="Probed coarse partitions per query")
def pq_topk_cmd(index_path, query_path, output_path, k, nprobe) -> None:
    """ADC top-k against an IVF-PQ index: reads only the probed
    codes-only partitions (static partition filter)."""
    from lotad_spark.pipeline.pq import ivf_pq_topk
    from lotad_spark.sources.parquet import read_table

    spark = get_spark("lotad_spark_pq_topk")
    q = read_table(spark, query_path)
    res = ivf_pq_topk(spark, index_path, q, k=k, nprobe=nprobe)
    res.write.mode("overwrite").parquet(f"{output_path}/topk")
    n = spark.read.parquet(f"{output_path}/topk").count()
    click.echo(f"pq-topk: {n} result rows -> {output_path}/topk")


@cli.command("sq8-index")
@click.option("--embeddings", "emb_path", type=click.Path(exists=True),
              required=True,
              help="Parquet file/dir with (vec_id, embedding, ...) rows")
@click.option("--output", "output_path", required=True,
              help="IVF-SQ8 index root (data/ centroids/)")
@click.option("--centroids", "n_centroids", default=None, type=int,
              help="Coarse IVF partitions [default: cluster-size rule "
                   "max(8, corpus/250)]")
def sq8_index_cmd(emb_path, output_path, n_centroids) -> None:
    """Build the IVF-SQ8 serving index: corpus assigned to coarse
    centroids and stored as per-vector int8 scalar quantization —
    near-raw recall at 4x less storage than float32."""
    from lotad_spark.pipeline.similarity import build_ivf_sq8_index
    from lotad_spark.sources.parquet import read_table

    spark = get_spark("lotad_spark_sq8_index")
    build_ivf_sq8_index(
        read_table(spark, emb_path), output_path, n_centroids=n_centroids
    )
    n = spark.read.parquet(f"{output_path}/data").count()
    click.echo(f"sq8-index: {n} vectors quantized -> {output_path}")


@cli.command("sq8-topk")
@click.option("--index", "index_path", type=click.Path(exists=True),
              required=True, help="IVF-SQ8 index root from sq8-index")
@click.option("--queries", "query_path", type=click.Path(exists=True),
              required=True,
              help="Parquet file/dir with (vec_id, embedding) query rows")
@click.option("--output", "output_path", required=True,
              help="Writes (query_id, vec_id, sim) to OUTPUT/topk")
@click.option("--k", default=5, show_default=True)
@click.option("--nprobe", default=2, show_default=True,
              help="Probed coarse partitions per query")
def sq8_topk_cmd(index_path, query_path, output_path, k, nprobe) -> None:
    """Dequantized-cosine top-k against an IVF-SQ8 index: reads only
    the probed int8 partitions (static partition filter)."""
    from lotad_spark.pipeline.similarity import ivf_sq8_topk
    from lotad_spark.sources.parquet import read_table

    spark = get_spark("lotad_spark_sq8_topk")
    q = read_table(spark, query_path)
    res = ivf_sq8_topk(spark, index_path, q, k=k, nprobe=nprobe)
    res.write.mode("overwrite").parquet(f"{output_path}/topk")
    n = spark.read.parquet(f"{output_path}/topk").count()
    click.echo(f"sq8-topk: {n} result rows -> {output_path}/topk")


@cli.command("bm25-index")
@click.option("--docs", "docs_path", type=click.Path(exists=True),
              required=True,
              help="Parquet file/dir with (doc_id, text, ...) rows")
@click.option("--output", "output_path", required=True,
              help="BM25 index root (postings/ meta/)")
def bm25_index_cmd(docs_path, output_path) -> None:
    """Build the BM25 serving index: the corpus tokenizes ONCE into a
    (doc, term, tf, dl) postings relation plus corpus scalars — df is
    deliberately NOT stored (it derives at probe time so appends never
    stale it), and probes never re-read document text."""
    from lotad_spark.pipeline.retrieval import write_bm25_index
    from lotad_spark.sources.parquet import read_table

    spark = get_spark("lotad_spark_bm25_index")
    write_bm25_index(read_table(spark, docs_path), output_path)
    n = spark.read.parquet(f"{output_path}/postings").count()
    click.echo(f"bm25-index: {n} postings -> {output_path}")


@cli.command("bm25-append")
@click.option("--docs", "docs_path", type=click.Path(exists=True),
              required=True,
              help="Parquet file/dir with the NEW (doc_id, text) batch")
@click.option("--index", "index_path", type=click.Path(exists=True),
              required=True, help="Live BM25 index root from bm25-index")
def bm25_append_cmd(docs_path, index_path) -> None:
    """Append a document batch to a live BM25 index: the batch
    tokenizes once and parquet-appends; existing files are never
    touched and df stays fresh by construction (derived at probe)."""
    from lotad_spark.pipeline.retrieval import append_to_bm25_index
    from lotad_spark.sources.parquet import read_table

    spark = get_spark("lotad_spark_bm25_append")
    append_to_bm25_index(read_table(spark, docs_path), index_path)
    m = spark.read.parquet(f"{index_path}/meta").collect()[0]
    click.echo(
        f"bm25-append: index now {m['n_docs']} docs / "
        f"{m['total_tokens']} tokens"
    )


@cli.command("bm25-topk")
@click.option("--index", "index_path", type=click.Path(exists=True),
              required=True, help="BM25 index root from bm25-index")
@click.option("--queries", "query_path", type=click.Path(exists=True),
              required=True,
              help="Parquet file/dir with (query_id, query) rows")
@click.option("--output", "output_path", required=True,
              help="Writes (query_id, doc_id, score) to OUTPUT/topk")
@click.option("--k", default=5, show_default=True)
@click.option("--k1", default=1.2, show_default=True,
              help="BM25 term-frequency saturation")
@click.option("--b", default=0.75, show_default=True,
              help="BM25 length normalization")
def bm25_topk_cmd(index_path, query_path, output_path, k, k1, b) -> None:
    """BM25 top-k against a bm25-index layout: query terms broadcast
    and semi-join-reduce the stored postings; scores sum decimal-exact."""
    from lotad_spark.pipeline.retrieval import bm25_against_index
    from lotad_spark.sources.parquet import read_table

    spark = get_spark("lotad_spark_bm25_topk")
    q = read_table(spark, query_path)
    res = bm25_against_index(spark, index_path, q, k=k, k1=k1, b=b)
    res.write.mode("overwrite").parquet(f"{output_path}/topk")
    n = spark.read.parquet(f"{output_path}/topk").count()
    click.echo(f"bm25-topk: {n} result rows -> {output_path}/topk")


@cli.command("dedup-spans")
@click.option("--docs", "docs_path", type=click.Path(exists=True),
              required=True,
              help="Parquet file/dir with (doc_id, text, ...) rows")
@click.option("--output", "output_path", required=True,
              help="Writes OUTPUT/spans and (with --strip) OUTPUT/stripped")
@click.option("--ngram", "n", default=6, show_default=True,
              help="Span resolution: minimum duplicated run length in tokens")
@click.option("--min-count", default=None, type=int,
              help="A gram is duplicated when it occurs this often "
                   "corpus-wide [default: 2; not applicable with --eval-set]")
@click.option("--strip/--no-strip", default=False, show_default=True,
              help="Also write the corpus with duplicated spans removed")
@click.option("--eval-set", "eval_path", type=click.Path(exists=True),
              default=None,
              help="Decontamination mode: span out THIS benchmark "
                   "corpus's n-grams instead of corpus-internal repeats")
def dedup_spans_cmd(docs_path, output_path, n, min_count, strip,
                    eval_path) -> None:
    """Find (and optionally strip) duplicated substring spans —
    span-level ExactSubstr dedup over the corpus, or span-level
    benchmark decontamination with --eval-set."""
    from lotad_spark.pipeline.spandedup import (
        contamination_spans,
        duplicate_spans,
        strip_duplicate_spans,
    )
    from lotad_spark.sources.parquet import read_table

    if eval_path is not None and min_count is not None:
        raise click.UsageError(
            "--min-count has no effect in --eval-set mode (a gram is "
            "contaminated if it appears in the eval set at all)"
        )
    min_count = 2 if min_count is None else min_count
    spark = get_spark("lotad_spark_dedup_spans")
    docs = read_table(spark, docs_path)
    if eval_path is not None:
        spans = contamination_spans(docs, read_table(spark, eval_path), n=n)
    else:
        spans = duplicate_spans(docs, n=n, min_count=min_count)
    spans.write.mode("overwrite").parquet(f"{output_path}/spans")
    n_spans = spark.read.parquet(f"{output_path}/spans").count()
    msg = f"dedup-spans: wrote {n_spans} spans to {output_path}/spans"
    if strip:
        # Reuse the spans just written — the detection pipeline (the
        # expensive part) runs once, not once per output. With spans=
        # provided, n/min_count are not used by the strip.
        stripped = strip_duplicate_spans(
            docs, spans=spark.read.parquet(f"{output_path}/spans"),
        )
        stripped.write.mode("overwrite").parquet(f"{output_path}/stripped")
        n_hit = (
            spark.read.parquet(f"{output_path}/stripped")
            .filter("n_tokens_removed > 0")
            .count()
        )
        msg += f"; stripped corpus ({n_hit} docs touched)"
    click.echo(msg)


@cli.command("bpe-train")
@click.option("--docs", "docs_path", type=click.Path(exists=True),
              required=True,
              help="Parquet file/dir with (doc_id, text, ...) rows")
@click.option("--output", "output_path", required=True,
              help="Writes the merge table parquet (rank, left, right, pair_count)")
@click.option("--merges", "num_merges", default=1000, show_default=True)
def bpe_train_cmd(docs_path, output_path, num_merges) -> None:
    """Learn a BPE merge table from the corpus (distributed: one
    raw-text pass, then merge rounds over the compact vocabulary)."""
    from lotad_spark.pipeline.bpe import train_bpe
    from lotad_spark.sources.parquet import read_table

    spark = get_spark("lotad_spark_bpe")
    docs = read_table(spark, docs_path)
    merges = train_bpe(docs, num_merges=num_merges)
    merges.write.mode("overwrite").parquet(output_path)
    n = spark.read.parquet(output_path).count()
    click.echo(f"bpe-train: learned {n} merges to {output_path}")


@cli.command("blocklist")
@click.option("--docs", "docs_path", type=click.Path(exists=True),
              required=True,
              help="Parquet file/dir with (doc_id, text, ...) rows")
@click.option("--terms", "terms_csv", default=None,
              help="Comma-separated banned terms (exact token match, "
                   "case-insensitive)")
@click.option("--terms-file", "terms_file", type=click.Path(exists=True),
              default=None,
              help="File with one banned term per line (overrides --terms)")
@click.option("--output", "output_path", required=True,
              help="Writes per-doc flags to OUTPUT/flags and the "
                   "surviving corpus to OUTPUT/kept")
@click.option("--strategy", default="literal", show_default=True,
              type=click.Choice(["literal", "join"]),
              help="literal = shuffle-free array literal (typical "
                   "lists); join = broadcast join for 100k+-term lists")
def blocklist_cmd(docs_path, terms_csv, terms_file, output_path,
                  strategy) -> None:
    """C4-style banned-words gate: flag every document (n_hits, sorted
    distinct hit terms, blocked) and land the kept corpus alongside —
    the audit trail and the output in one pass."""
    from pyspark.sql import functions as F

    from lotad_spark.pipeline.text import blocklist_filter
    from lotad_spark.sources.parquet import read_table

    if terms_file:
        with open(terms_file) as fh:
            terms = [ln.strip() for ln in fh if ln.strip()]
    elif terms_csv:
        terms = [t.strip() for t in terms_csv.split(",") if t.strip()]
    else:
        raise click.UsageError("provide --terms or --terms-file")
    spark = get_spark("lotad_spark_blocklist")
    docs = read_table(spark, docs_path)
    flags = blocklist_filter(docs, terms, strategy=strategy)
    flags.write.mode("overwrite").parquet(f"{output_path}/flags")
    landed = spark.read.parquet(f"{output_path}/flags")
    docs.join(
        landed.filter(~F.col("blocked")).select("doc_id"), "doc_id"
    ).write.mode("overwrite").parquet(f"{output_path}/kept")
    n_total, n_blocked = landed.agg(
        F.count(F.lit(1)), F.count_if(F.col("blocked"))
    ).collect()[0]
    click.echo(
        f"blocklist: {n_blocked}/{n_total} docs blocked "
        f"({len(terms)} terms) -> {output_path}/kept"
    )


@cli.command("url-dedup")
@click.option("--docs", "docs_path", type=click.Path(exists=True),
              required=True,
              help="Parquet file/dir with (doc_id, url, ...) rows")
@click.option("--output", "output_path", required=True,
              help="Writes per-row (canonical_url, keep_id, is_dup) "
                   "flags to OUTPUT/flags")
@click.option("--id-col", default="doc_id", show_default=True)
@click.option("--url-col", default="url", show_default=True)
def url_dedup_cmd(docs_path, output_path, id_col, url_col) -> None:
    """Canonicalize URLs (tracking strip, default ports, www, param
    sort) and flag exact duplicates — min-id keeps, unparseable URLs
    keep themselves. The first gate of a web-scale ingest."""
    from pyspark.sql import functions as F

    from lotad_spark.pipeline.urls import url_dedup
    from lotad_spark.sources.parquet import read_table

    spark = get_spark("lotad_spark_url_dedup")
    flags = url_dedup(
        read_table(spark, docs_path), id_col=id_col, url_col=url_col
    )
    flags.write.mode("overwrite").parquet(f"{output_path}/flags")
    landed = spark.read.parquet(f"{output_path}/flags")
    n_total, n_dup, n_bad = landed.agg(
        F.count(F.lit(1)),
        F.count_if(F.col("is_dup")),
        F.count_if(F.col("canonical_url").isNull()),
    ).collect()[0]
    click.echo(
        f"url-dedup: {n_dup}/{n_total} duplicate URLs, "
        f"{n_bad} unparseable -> {output_path}/flags"
    )


@cli.command("url-index")
@click.option("--docs", "docs_path", type=click.Path(exists=True),
              required=True,
              help="Parquet file/dir with (doc_id, url, ...) rows")
@click.option("--index", "index_path", required=True,
              help="Index root (urls/ meta/)")
@click.option("--append", "append_mode", is_flag=True, default=False,
              help="Fold the batch's NOVEL canonical URLs into an "
                   "existing index (idempotent — re-run after a crash)")
@click.option("--probe", "probe_path", type=click.Path(exists=True),
              default=None,
              help="Optionally flag this batch against the index after "
                   "building/appending")
def url_index_cmd(docs_path, index_path, append_mode, probe_path) -> None:
    """Stored canonical-URL set for incremental crawl dedup: build or
    append, then optionally probe a batch (dup_source = index/batch)."""
    from pyspark.sql import functions as F

    from lotad_spark.pipeline.urls import (
        append_to_url_index,
        url_dedup_against_index,
        write_url_index,
    )
    from lotad_spark.sources.parquet import read_table

    spark = get_spark("lotad_spark_url_index")
    docs = read_table(spark, docs_path)
    if append_mode:
        append_to_url_index(docs, index_path)
    else:
        write_url_index(docs, index_path)
    n = spark.read.parquet(f"{index_path}/meta").collect()[0]["n_urls"]
    click.echo(
        f"url-index: {'appended to' if append_mode else 'built'} "
        f"{index_path} (n_urls={n})"
    )
    if probe_path:
        flags = url_dedup_against_index(
            spark, index_path, read_table(spark, probe_path)
        )
        n_total, n_idx, n_batch = flags.agg(
            F.count(F.lit(1)),
            F.count_if(F.col("dup_source") == "index"),
            F.count_if(F.col("dup_source") == "batch"),
        ).collect()[0]
        click.echo(
            f"  probe: {n_idx} index dups + {n_batch} batch dups "
            f"of {n_total} rows"
        )


@cli.command("domain-stats")
@click.option("--docs", "docs_path", type=click.Path(exists=True),
              required=True,
              help="Parquet file/dir with (doc_id, url, ...) rows")
@click.option("--output", "output_path", required=True,
              help="Writes (domain, apex_domain, n_docs, n_urls) to "
                   "OUTPUT/domains")
@click.option("--id-col", default="doc_id", show_default=True)
@click.option("--url-col", default="url", show_default=True)
@click.option("--psl", "psl_path", type=click.Path(exists=True),
              default=None,
              help="Public-suffix list snapshot (publicsuffix.org "
                   "format): apex_domain becomes true eTLD+1 instead "
                   "of the last-two-labels heuristic")
def domain_stats_cmd(docs_path, output_path, id_col, url_col, psl_path) -> None:
    """Per-domain corpus stats (doc count, distinct canonical URLs) —
    the relation a domain cap or blocklist decision reads."""
    from lotad_spark.pipeline.urls import domain_stats, load_psl
    from lotad_spark.sources.parquet import read_table

    spark = get_spark("lotad_spark_domain_stats")
    kw = {}
    if psl_path:
        kw = {"apex": "psl", "psl_rules": load_psl(psl_path)}
    stats = domain_stats(
        read_table(spark, docs_path), id_col=id_col, url_col=url_col, **kw
    )
    stats.write.mode("overwrite").parquet(f"{output_path}/domains")
    n = spark.read.parquet(f"{output_path}/domains").count()
    mode = "eTLD+1 (PSL)" if psl_path else "last-2-labels apex"
    click.echo(
        f"domain-stats: {n} domains ({mode}) -> {output_path}/domains"
    )


@cli.command("edit-join")
@click.option("--docs", "docs_path", type=click.Path(exists=True),
              required=True,
              help="Parquet file/dir with (doc_id, text, ...) rows")
@click.option("--output", "output_path", required=True,
              help="Writes (id_a, id_b, distance) to OUTPUT/pairs")
@click.option("--k", "k_max", default=2, show_default=True,
              help="Maximum Levenshtein distance")
@click.option("--text-col", default="text", show_default=True)
def edit_join_cmd(docs_path, output_path, k_max, text_col) -> None:
    """EXACT edit-distance similarity self-join (PassJoin segment
    filter + levenshtein verify — never all-pairs): every pair of rows
    within K edits of each other."""
    from lotad_spark.pipeline.dedup import edit_distance_pairs
    from lotad_spark.sources.parquet import read_table

    spark = get_spark("lotad_spark_edit_join")
    out = edit_distance_pairs(
        read_table(spark, docs_path), k=k_max, text_col=text_col
    )
    out.write.mode("overwrite").parquet(f"{output_path}/pairs")
    n = spark.read.parquet(f"{output_path}/pairs").count()
    click.echo(
        f"edit-join: {n} pairs within distance {k_max} "
        f"-> {output_path}/pairs"
    )


@cli.command("edit-search")
@click.option("--docs", "docs_path", type=click.Path(exists=True),
              required=True,
              help="Corpus parquet with (doc_id, text, ...) rows")
@click.option("--queries", "queries_path", type=click.Path(exists=True),
              required=True,
              help="Query parquet with (query_id, text) rows")
@click.option("--output", "output_path", required=True,
              help="Writes (query_id, doc_id, distance, rank) to "
                   "OUTPUT/hits")
@click.option("--k", "k_max", default=2, show_default=True)
@click.option("--topn", default=5, show_default=True)
def edit_search_cmd(docs_path, queries_path, output_path, k_max, topn) -> None:
    """Per-query top-N corpus strings within K edits (spelling-variant
    / near-key lookup); the corpus never shuffles — query substrings
    broadcast against a corpus segment projection."""
    from lotad_spark.pipeline.dedup import edit_distance_search
    from lotad_spark.sources.parquet import read_table

    spark = get_spark("lotad_spark_edit_search")
    out = edit_distance_search(
        read_table(spark, docs_path),
        read_table(spark, queries_path),
        k_max=k_max,
        topn=topn,
    )
    out.write.mode("overwrite").parquet(f"{output_path}/hits")
    n = spark.read.parquet(f"{output_path}/hits").count()
    click.echo(
        f"edit-search: {n} hits (top-{topn}, distance <= {k_max}) "
        f"-> {output_path}/hits"
    )


@cli.command("heavy-hitters")
@click.option("--docs", "docs_path", type=click.Path(exists=True),
              required=True,
              help="Parquet file/dir with (doc_id, text, ...) rows")
@click.option("--output", "output_path", required=True,
              help="Writes (token, n_occurrences, n_tokens_total) to "
                   "OUTPUT/hitters")
@click.option("--phi", default=0.001, show_default=True,
              help="Frequency-share threshold: keep tokens with count "
                   ">= ceil(phi * N)")
@click.option("--text-col", default="text", show_default=True)
def heavy_hitters_cmd(docs_path, output_path, phi, text_col) -> None:
    """EXACT phi-heavy-hitter tokens with candidate-only shuffles
    (per-partition Misra-Gries + broadcast exact verification — the
    vocabulary never shuffles)."""
    from lotad_spark.pipeline.sketch import heavy_hitters
    from lotad_spark.sources.parquet import read_table

    spark = get_spark("lotad_spark_heavy_hitters")
    out = heavy_hitters(
        read_table(spark, docs_path), text_col=text_col, phi=phi
    )
    out.write.mode("overwrite").parquet(f"{output_path}/hitters")
    landed = spark.read.parquet(f"{output_path}/hitters").collect()
    total = landed[0].n_tokens_total if landed else 0
    click.echo(
        f"heavy-hitters: {len(landed)} tokens >= ceil({phi} * {total}) "
        f"-> {output_path}/hitters"
    )


@cli.command("web-extract")
@click.option("--warc", "warc_path", type=click.Path(exists=True),
              default=None,
              help="WARC file/dir (plain or per-record-gzip .warc.gz)")
@click.option("--html", "html_path", type=click.Path(exists=True),
              default=None,
              help="Parquet file/dir with (doc_id, html) rows")
@click.option("--output", "output_path", required=True,
              help="Writes extracted text to OUTPUT/text (and hrefs "
                   "to OUTPUT/links with --links)")
@click.option("--links/--no-links", default=False, show_default=True,
              help="Also extract hrefs/srcs (the URL ladder's inlet)")
@click.option("--all-records", is_flag=True, default=False,
              help="WARC mode: skip the default http_status==200 + "
                   "Content-Type~html gate (binary/error payloads "
                   "would otherwise land as garbage text rows)")
def web_extract_cmd(
    warc_path, html_path, output_path, links, all_records
) -> None:
    """HTML -> training text: WET-style extraction from raw HTML or
    straight from WARC crawl archives (framing parse + HTTP peel +
    the one-projection regexp chain)."""
    if (warc_path is None) == (html_path is None):
        raise click.UsageError("pass exactly one of --warc / --html")
    from lotad_spark.pipeline.web import extract_links, html_to_text

    spark = get_spark("lotad_spark_web_extract")
    if warc_path is not None:
        from pyspark.sql import functions as F

        from lotad_spark.sources.warc import read_warc, warc_http_text

        pages = warc_http_text(read_warc(spark, warc_path)).filter(
            F.col("warc_type") == "response"
        )
        if not all_records:
            pages = pages.filter(
                (F.col("http_status") == 200)
                & F.lower(
                    F.coalesce(F.col("http_content_type"), F.lit(""))
                ).contains("html")
            )
        pages = pages.select(
            F.col("target_uri").alias("doc_id"),
            F.col("body").alias("html"),
        )
    else:
        from lotad_spark.sources.parquet import read_table

        pages = read_table(spark, html_path)
    html_to_text(pages).write.mode("overwrite").parquet(
        f"{output_path}/text"
    )
    n = spark.read.parquet(f"{output_path}/text").count()
    msg = f"web-extract: {n} documents -> {output_path}/text"
    if links:
        extract_links(pages).write.mode("overwrite").parquet(
            f"{output_path}/links"
        )
        nl = spark.read.parquet(f"{output_path}/links").count()
        msg += f"; {nl} links -> {output_path}/links"
    click.echo(msg)


@cli.command("image-dedup")
@click.option("--media", "media_path", type=click.Path(exists=True),
              required=True,
              help="Parquet file/dir with (media_id, content) rows")
@click.option("--output", "output_path", required=True,
              help="Writes (id_a, id_b, hamming) to OUTPUT/pairs")
@click.option("--hash", "hash_kind", default="ahash", show_default=True,
              type=click.Choice(["ahash", "phash", "dhash"]),
              help="Fingerprint: spatial-mean aHash, fixed-point-DCT "
                   "pHash (exactly brightness-shift invariant), or "
                   "gradient dHash (contrast-robust)")
@click.option("--max-hamming", default=7, show_default=True)
@click.option("--bands", default=8, show_default=True,
              help="Band count; recall is exact for max-hamming <= "
                   "bands - 1")
@click.option("--id-col", default="media_id", show_default=True)
@click.option("--content-col", default="content", show_default=True)
def image_dedup_cmd(
    media_path, output_path, hash_kind, max_hamming, bands, id_col,
    content_col,
) -> None:
    """Perceptual image near-duplicate pairs via banded aHash/pHash —
    bucket-local candidates only, never all-pairs."""
    from lotad_spark.pipeline.multimodal import image_near_dup_pairs
    from lotad_spark.sources.parquet import read_table

    spark = get_spark("lotad_spark_image_dedup")
    out = image_near_dup_pairs(
        read_table(spark, media_path),
        content_col,
        id_col=id_col,
        max_hamming=max_hamming,
        bands=bands,
        hash_kind=hash_kind,
    )
    out.write.mode("overwrite").parquet(f"{output_path}/pairs")
    n = spark.read.parquet(f"{output_path}/pairs").count()
    click.echo(
        f"image-dedup: {n} pairs within hamming {max_hamming} "
        f"({hash_kind}, {bands} bands) -> {output_path}/pairs"
    )


@cli.command("pack-plan")
@click.option("--docs", "docs_path", type=click.Path(exists=True),
              required=True,
              help="Parquet file/dir with (doc_id, text, ...) rows")
@click.option("--output", "output_path", required=True,
              help="Writes (doc_id, n_tokens, pack_id, overflow) to "
                   "OUTPUT/plan")
@click.option("--block-size", default=2048, show_default=True)
@click.option("--n-buckets", default=256, show_default=True)
def pack_plan_cmd(docs_path, output_path, block_size, n_buckets) -> None:
    """NO-SPLIT sequence packing: whole documents into fixed
    block-size token blocks (next-fit-decreasing per hash bucket);
    over-long docs flagged overflow, never silently truncated."""
    from pyspark.sql import functions as F

    from lotad_spark.pipeline.sampling import pack_plan
    from lotad_spark.sources.parquet import read_table

    spark = get_spark("lotad_spark_pack_plan")
    out = pack_plan(
        read_table(spark, docs_path), block_size, n_buckets=n_buckets
    )
    out.write.mode("overwrite").parquet(f"{output_path}/plan")
    landed = spark.read.parquet(f"{output_path}/plan")
    n, n_over, n_blocks = landed.agg(
        F.count(F.lit(1)),
        F.count_if(F.col("overflow")),
        F.count_distinct(F.col("pack_id")),
    ).collect()[0]
    click.echo(
        f"pack-plan: {n} docs into {n_blocks} blocks of {block_size} "
        f"tokens, {n_over} overflow -> {output_path}/plan"
    )


@cli.command("ccnet-buckets")
@click.option("--docs", "docs_path", type=click.Path(exists=True),
              required=True,
              help="Parquet file/dir with (doc_id, text, lang, ...) rows")
@click.option("--output", "output_path", required=True,
              help="Writes (doc_id, lang, n_tokens, avg_logprob, "
                   "bucket, keep) to OUTPUT/buckets")
@click.option("--lang-col", default="lang", show_default=True)
def ccnet_buckets_cmd(docs_path, output_path, lang_col) -> None:
    """CCNet head/middle/tail perplexity bucketing: corpus-LM score
    per doc, exact rank terciles per language, keep = head+middle."""
    from pyspark.sql import functions as F

    from lotad_spark.pipeline.text import ccnet_buckets
    from lotad_spark.sources.parquet import read_table

    spark = get_spark("lotad_spark_ccnet")
    out = ccnet_buckets(
        read_table(spark, docs_path), lang_col=lang_col
    )
    out.write.mode("overwrite").parquet(f"{output_path}/buckets")
    landed = spark.read.parquet(f"{output_path}/buckets")
    n, n_keep = landed.agg(
        F.count(F.lit(1)), F.count_if(F.col("keep"))
    ).collect()[0]
    click.echo(
        f"ccnet-buckets: {n_keep}/{n} docs in head+middle "
        f"-> {output_path}/buckets"
    )


@cli.command("quality-classify")
@click.option("--labeled", "labeled_path", type=click.Path(exists=True),
              required=True,
              help="Parquet with (doc_id, text, <label-col>) training "
                   "rows; label must be 0/1 or boolean")
@click.option("--docs", "docs_path", type=click.Path(exists=True),
              required=True,
              help="Parquet corpus to score (doc_id, text, ...)")
@click.option("--label-col", default="label", show_default=True)
@click.option("--output", "output_path", required=True,
              help="Writes (doc_id, n_grams, logit, pred, score) to "
                   "OUTPUT/scores")
@click.option("--distributed/--sampled", default=False, show_default=True,
              help="sampled = bounded deterministic driver training "
                   "(bit-reproducible); distributed = gradient "
                   "aggregation over the full labeled set")
def quality_classify_cmd(labeled_path, docs_path, label_col,
                         output_path, distributed) -> None:
    """fastText-style hashed-ngram quality classifier: train logistic
    regression on the labeled set, score the corpus with exact
    micro-unit logits."""
    from pyspark.sql import functions as F

    from lotad_spark.pipeline.quality import (
        score_quality_classifier,
        train_quality_classifier_distributed,
        train_quality_classifier_sampled,
    )
    from lotad_spark.sources.parquet import read_table

    spark = get_spark("lotad_spark_quality")
    labeled = read_table(spark, labeled_path)
    train = (
        train_quality_classifier_distributed
        if distributed
        else train_quality_classifier_sampled
    )
    w, b = train(labeled, label_col)
    scored = score_quality_classifier(read_table(spark, docs_path), w, b)
    scored.write.mode("overwrite").parquet(f"{output_path}/scores")
    landed = spark.read.parquet(f"{output_path}/scores")
    n, n_pos = landed.agg(
        F.count(F.lit(1)), F.count_if(F.col("pred"))
    ).collect()[0]
    click.echo(
        f"quality-classify: {n_pos}/{n} docs predicted positive "
        f"-> {output_path}/scores"
    )


@cli.command("prune-prototypes")
@click.option("--embeddings", "emb_path", type=click.Path(exists=True),
              required=True,
              help="Parquet file/dir with (vec_id, embedding, ...) rows")
@click.option("--output", "output_path", required=True,
              help="Writes (vec_id, cent_id, proto, keep) to "
                   "OUTPUT/pruned")
@click.option("--clusters", "n_clusters", default=16, show_default=True)
@click.option("--prune-frac", "prune_frac", default=0.5,
              show_default=True,
              help="Fraction of each cluster to drop, MOST prototypical "
                   "first (Sorscher et al. 2022)")
@click.option("--kernel", default="arrow", show_default=True,
              type=click.Choice(["expr", "arrow"]),
              help="Centroid-assignment kernel (arrow = production "
                   "BLAS path)")
def prune_prototypes_cmd(emb_path, output_path, n_clusters, prune_frac,
                         kernel) -> None:
    """SSL-prototypes data pruning: drop the most redundant (most
    prototypical) fraction of every embedding cluster, keep the hard
    tail; every row lands with its score and keep flag for audit."""
    from pyspark.sql import functions as F

    from lotad_spark.pipeline.similarity import prototypicality_prune_corpus
    from lotad_spark.sources.parquet import read_table

    spark = get_spark("lotad_spark_prune_prototypes")
    emb = read_table(spark, emb_path)
    out = prototypicality_prune_corpus(
        emb, n_clusters=n_clusters, prune_frac=prune_frac, kernel=kernel
    )
    out.write.mode("overwrite").parquet(f"{output_path}/pruned")
    landed = spark.read.parquet(f"{output_path}/pruned")
    n_total, n_keep = landed.agg(
        F.count(F.lit(1)), F.count_if(F.col("keep"))
    ).collect()[0]
    click.echo(
        f"prune-prototypes: kept {n_keep}/{n_total} "
        f"({n_clusters} clusters, prune_frac={prune_frac}) "
        f"-> {output_path}/pruned"
    )


@cli.command("term-sketch")
@click.option("--docs", "docs_path", type=click.Path(exists=True),
              required=True,
              help="Parquet file/dir with (doc_id, text, ...) rows")
@click.option("--output", "output_path", required=True,
              help="Writes the (row, bucket, cnt) sketch parquet")
@click.option("--depth", default=4, show_default=True)
@click.option("--width", default=1024, show_default=True)
@click.option("--merge-into", "merge_into", type=click.Path(exists=True),
              default=None,
              help="Existing sketch to merge with (cell-wise sum — the "
                   "daily-increment loop; depth/width must match)")
@click.option("--estimate", "estimate_csv", default=None,
              help="Comma-separated terms to estimate after building")
def term_sketch_cmd(docs_path, output_path, depth, width, merge_into,
                    estimate_csv) -> None:
    """Count-min sketch of the corpus token stream: grid-bounded state
    no matter the vocabulary; optionally merge into an existing sketch
    and/or print estimates for a query vocabulary."""
    from lotad_spark.pipeline.sketch import cms_build, cms_estimate, cms_merge
    from lotad_spark.sources.parquet import read_table

    from pyspark.sql import functions as F

    spark = get_spark("lotad_spark_term_sketch")
    sk = cms_build(read_table(spark, docs_path), depth=depth, width=width)
    if merge_into:
        old = spark.read.parquet(merge_into)
        # merging different grids silently UNDERCOUNTS (buckets from the
        # old grid never line up with new probes), so reject what can be
        # detected: cells outside the declared grid. A smaller-width old
        # sketch is indistinguishable from sparse data — record your
        # depth/width out of band and keep them constant per index.
        mx = old.agg(
            F.max("row").alias("r"), F.max("bucket").alias("b")
        ).collect()[0]
        if (mx.r is not None and mx.r >= depth) or (
            mx.b is not None and mx.b >= width
        ):
            raise click.UsageError(
                f"--merge-into sketch has cells up to (row={mx.r}, "
                f"bucket={mx.b}) — outside the declared grid "
                f"depth={depth}, width={width}; merging mismatched "
                "grids breaks the never-undercount guarantee"
            )
        sk = cms_merge(old, sk)
    # stage-then-swap so --merge-into can point AT output_path
    sk.write.mode("overwrite").parquet(f"{output_path}.tmp")
    from lotad_spark.pipeline.retrieval import _replace_dir

    _replace_dir(spark, f"{output_path}.tmp", output_path)
    landed = spark.read.parquet(output_path)
    click.echo(
        f"term-sketch: {landed.count()} cells "
        f"(depth={depth}, width={width}) -> {output_path}"
    )
    if estimate_csv:
        terms = bounded_local_df(spark, 
            [(t.strip(),) for t in estimate_csv.split(",") if t.strip()],
            "term string",
        )
        for r in cms_estimate(
            landed, terms, depth=depth, width=width
        ).orderBy("term").collect():
            click.echo(f"  {r.term}: ~{r.est}")


@cli.command("sketch-index")
@click.option("--docs", "docs_path", type=click.Path(exists=True),
              required=True,
              help="Parquet file/dir with (doc_id, text, ...) rows")
@click.option("--index", "index_path", required=True,
              help="Index root (cms/ bloom/ meta/)")
@click.option("--append", "append_mode", is_flag=True, default=False,
              help="Fold the batch into an existing index (grid read "
                   "from meta — mismatched parameters are impossible)")
@click.option("--depth", default=4, show_default=True,
              help="CMS rows (build only; append reads meta)")
@click.option("--width", default=1024, show_default=True,
              help="CMS buckets per row (build only)")
@click.option("--bits", "n_bits", default=8192, show_default=True,
              help="Bloom bitmap size (build only)")
@click.option("--hashes", "n_hashes", default=4, show_default=True,
              help="Bloom hash count (build only)")
@click.option("--estimate", "estimate_csv", default=None,
              help="Comma-separated terms to estimate/probe afterwards")
def sketch_index_cmd(docs_path, index_path, append_mode, depth, width,
                     n_bits, n_hashes, estimate_csv) -> None:
    """Persisted sketch index (CMS frequency + Bloom membership with
    the grid stored in meta): build once, append daily shards without
    re-reading old text, probe with parameters read from the layout."""
    from lotad_spark.pipeline.sketch import (
        append_to_sketch_index,
        read_sketch_meta,
        sketch_index_contains,
        sketch_index_estimate,
        write_sketch_index,
    )
    from lotad_spark.sources.parquet import read_table

    spark = get_spark("lotad_spark_sketch_index")
    docs = read_table(spark, docs_path)
    if append_mode:
        append_to_sketch_index(docs, index_path)
    else:
        write_sketch_index(
            docs, index_path, depth=depth, width=width,
            n_bits=n_bits, n_hashes=n_hashes,
        )
    meta = read_sketch_meta(spark, index_path)
    click.echo(
        f"sketch-index: {'appended to' if append_mode else 'built'} "
        f"{index_path} (depth={meta['depth']}, width={meta['width']}, "
        f"bits={meta['n_bits']}, hashes={meta['n_hashes']}, "
        f"n_docs={meta['n_docs']})"
    )
    if estimate_csv:
        terms = bounded_local_df(spark, 
            [(t.strip(),) for t in estimate_csv.split(",") if t.strip()],
            "term string",
        )
        est = {
            r.term: r.est
            for r in sketch_index_estimate(
                spark, index_path, terms
            ).collect()
        }
        for r in sketch_index_contains(
            spark, index_path, terms
        ).orderBy("term").collect():
            click.echo(
                f"  {r.term}: ~{est[r.term]}"
                f" ({'present' if r.present else 'absent'})"
            )


if __name__ == "__main__":
    cli()
