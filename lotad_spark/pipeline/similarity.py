"""Similarity search over embedding columns (``array<float>``).

Two operators:

* ``cosine_topk`` — brute-force baseline: broadcast the (small) query set,
  one scan of the corpus, JVM-side dot products (``zip_with`` +
  sequential ``aggregate`` fold in double — deterministic order), two-stage
  top-k (partition-local rank prune, then global rank) so the final
  shuffle carries at most ``partitions × k`` rows per query instead of the
  whole corpus.
* ``ivf_topk`` — IVF-bucketed scale path: corpus vectors are assigned to
  their nearest centroid once (centroid literals folded into a pure
  projection — zero exchange), queries
  probe only the ``nprobe`` nearest buckets. Centroids come from
  deterministic spherical k-means (``pipeline.kmeans``: max-min
  farthest-point init + fixed Lloyd iterations on a bounded id-ordered
  sample — no RNG, so any engine retraining on the same sample gets
  identical constants). At 100 TB the assignment becomes a write-once
  partitioned layout and each query reads ``nprobe/​n_centroids`` of the
  data.

Similarities are rounded to 6 decimals *before* ranking, with vec_id
tie-breaks, so results are reproducible across engines (float folds can
differ in the last ulp between implementations).

PRECONDITION (every cosine-based operator here): vectors must be
non-zero. cosine(0⃗, ·) is 0/0 — Spark's fold yields NaN (which sorts
ABOVE every real sim under desc ordering, polluting top-k), and engines
genuinely diverge on it (DuckDB's list_cosine_similarity returns −1.0),
so a zero vector breaks both ranking and the cross-engine contract.
Real embedding pipelines L2-normalize upstream, making zero vectors
invalid input; where that isn't guaranteed, filter them out first with
one shuffle-free filter on the squared norm, e.g.
``df.filter(F.aggregate(v, F.lit(0.0), lambda a, x: a + x * x) > 0)``
(NULL vectors drop with it).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from lotad_spark.sources.memory import bounded_local_df
from lotad_spark.pipeline._share import share_corpus


def cosine(a: Column, b: Column) -> Column:
    """Cosine similarity of two ``array<float>`` columns, computed in
    double with a sequential left fold (deterministic)."""
    da, db = a.cast("array<double>"), b.cast("array<double>")

    def dot(x: Column, y: Column) -> Column:
        return F.aggregate(
            F.zip_with(x, y, lambda p, q: p * q),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )

    return dot(da, db) / F.sqrt(dot(da, da) * dot(db, db))


def _ranked_topk(
    scored: DataFrame, k: int, *, query_col: str = "query_id", id_col: str = "vec_id"
) -> DataFrame:
    """Two-stage top-k: prune to k rows per (query, input partition) before
    the global per-query rank — the wide shuffle moves O(partitions × k)
    rows, not the corpus."""
    local_w = Window.partitionBy(query_col, F.spark_partition_id()).orderBy(
        F.desc("sim"), F.asc(id_col)
    )
    pruned = (
        scored.withColumn("_lr", F.row_number().over(local_w))
        .filter(F.col("_lr") <= k)
        .drop("_lr")
    )
    global_w = Window.partitionBy(query_col).orderBy(F.desc("sim"), F.asc(id_col))
    return (
        pruned.withColumn("_r", F.row_number().over(global_w))
        .filter(F.col("_r") <= k)
        .drop("_r")
    )


def cosine_topk(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 5,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact top-k neighbors per query by cosine similarity:
    (query_id, vec_id, sim). Self-matches (same id) are excluded."""
    q = queries.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("_qvec")
    )
    c = corpus.select(F.col(id_col), F.col(vec_col).alias("_cvec"))
    scored = (
        c.crossJoin(F.broadcast(q))
        .filter(F.col(id_col) != F.col("query_id"))
        .withColumn("sim", F.round(cosine(F.col("_qvec"), F.col("_cvec")), 6))
    )
    return _ranked_topk(scored, k, id_col=id_col).select("query_id", id_col, "sim")


def lsh_hyperplanes(n_planes: int, dim: int) -> list[list[float]]:
    """Deterministic pseudo-random hyperplanes: component (p, d) derives
    from md5 bytes → uniform in [-1, 1]. No RNG state — any engine (or
    oracle) regenerating from the same (p, d) gets identical constants."""
    import hashlib

    return [
        [
            (int(hashlib.md5(f"{p}:{d}".encode()).hexdigest()[:8], 16) / 2**32)
            * 2.0
            - 1.0
            for d in range(dim)
        ]
        for p in range(n_planes)
    ]


def embedding_near_dup_pairs(
    df: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    n_planes: int = 16,
    bands: int = 2,
    threshold: float = 0.99,
) -> DataFrame:
    """Embedding-cosine near-duplicates via random-hyperplane LSH:
    (id_a, id_b, sim), sim ≥ threshold.

    Signature bit p = sign of ⟨v, h_p⟩; bands of ``n_planes/bands`` bits
    bucket the corpus; the exact cosine check runs on bucket-local
    candidate pairs only — never all-pairs. Identical directions always
    share every bit, so exact/scaled duplicates have recall 1 with ANY
    banding — which is why the default is 2 bands × 8 bits, not 4 × 4:
    bucket count is 2^rows, and 4-bit bands put the whole corpus in 16
    buckets per band (candidate volume ≈ n²/2^rows — quadratic). Wider
    bands trade recall only for sub-threshold near-misses; at 0.99 the
    per-band recall is still 0.955^8 ≈ 0.69 per band. For looser
    thresholds raise ``bands`` (and ``n_planes`` with it) instead of
    shrinking rows below 8; at 100 TB use 16-bit rows (65k buckets)."""
    planes = lsh_hyperplanes(n_planes, dim)
    # SQL-text planes (r18): n_planes × dim F.lit round trips (~4.6 ms
    # each on the bench box) made CONSTRUCTING the signature projection
    # a driver-time cost. The fold itself stays exactly as before —
    # flattening all n_planes × dim products into the projection was
    # tried and EXECUTES worse (2.8 → 9.5 s: the giant chain loses
    # codegen) — only the literal plane now arrives as parsed text.
    from lotad_spark.pipeline.pq import _sql_d

    def dot_sql(plane: list[float]) -> str:
        lits = ", ".join(_sql_d(x) for x in plane)
        return (
            f"aggregate(zip_with(CAST(`{vec_col}` AS ARRAY<DOUBLE>),"
            f" array({lits}), (p, q) -> p * q), 0.0D,"
            " (acc, x) -> acc + x)"
        )

    bits = [
        F.expr(
            f"CASE WHEN round({dot_sql(pl)}, 6) > 0"
            " THEN '1' ELSE '0' END"
        )
        for pl in planes
    ]
    rows = n_planes // bands
    band_cols = [
        F.concat(*bits[b * rows : (b + 1) * rows]).alias(f"band_{b}")
        for b in range(bands)
    ]
    banded = df.select(F.col(id_col), F.col(vec_col), *band_cols)
    stacked = banded.select(
        id_col,
        vec_col,
        F.expr(
            "explode(array("
            + ", ".join(
                f"named_struct('band_i', {b}, 'bh', band_{b})"
                for b in range(bands)
            )
            + "))"
        ).alias("band"),
    ).select(id_col, vec_col, "band.band_i", "band.bh")
    a = stacked.select(F.col(id_col).alias("id_a"), "band_i", "bh")
    b = stacked.select(F.col(id_col).alias("id_b"), "band_i", "bh")
    # Dedup candidate id pairs BEFORE re-attaching vectors — the distinct
    # shuffle carries two longs per row, not two embeddings.
    cands = (
        a.join(b, ["band_i", "bh"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )
    vecs = df.select(F.col(id_col), F.col(vec_col))
    va = vecs.select(F.col(id_col).alias("id_a"), F.col(vec_col).alias("_va"))
    vb = vecs.select(F.col(id_col).alias("id_b"), F.col(vec_col).alias("_vb"))
    return (
        cands.join(va, "id_a")
        .join(vb, "id_b")
        .withColumn("sim", F.round(cosine(F.col("_va"), F.col("_vb")), 6))
        .filter(F.col("sim") >= threshold)
        .select("id_a", "id_b", "sim")
    )


def _assign_arrow(
    corpus: DataFrame,
    cent_rows,
    vec_col: str,
    cent_id_col: str,
) -> DataFrame:
    """Vectorized Arrow assignment kernel: one numpy matmul per batch.

    The scale path for production-size centroid sets (SemDeDup runs
    thousands of clusters): per-batch cost is a (batch × dim) @
    (dim × k) BLAS call instead of k interpreted folds per row —
    measured 22 s → 1.7 s at k=80 × 21k rows × dim 64, and the gap
    widens with k. Caveat, why the expression kernel stays the
    default: numpy's blocked summation can differ from the sequential
    fold in the last ulp, and additionally np.round rounds
    half-to-even while Spark's F.round is HALF_UP, so a similarity
    sitting EXACTLY on a round-6 half boundary (…x5e-7) rounds
    differently by rule, not just by ulp — argmax ties still resolve
    to the lowest cent_id (centroid rows are argmax'd in
    ascending-cid order)."""
    import numpy as np
    from pyspark.sql.types import IntegerType, StructField, StructType

    C = np.array([list(r[1]) for r in cent_rows], dtype=np.float64)
    cids = np.array([int(r[0]) for r in cent_rows], dtype=np.int64)
    dcc = (C * C).sum(axis=1)
    out_schema = StructType(
        list(corpus.schema.fields)
        + [StructField(cent_id_col, IntegerType())]
    )

    def kern(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            V = np.stack(
                [np.asarray(x, dtype=np.float64) for x in pdf[vec_col]]
            )
            sims = np.round(
                (V @ C.T)
                / np.sqrt((V * V).sum(axis=1)[:, None] * dcc[None, :]),
                6,
            )
            out = pdf.copy()
            out[cent_id_col] = cids[sims.argmax(axis=1)].astype("int32")
            yield out

    return corpus.mapInPandas(kern, schema=out_schema)


def assign_to_centroids(
    corpus: DataFrame,
    centroids: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    cent_id_col: str = "cent_id",
    cent_vec_col: str = "cent_vec",
    kernel: str = "expr",
    score_col: str | None = None,
) -> DataFrame:
    """Nearest-centroid (max cosine) assignment: corpus columns +
    ``cent_id`` — as a PURE PROJECTION, zero exchange.

    ``score_col`` (expr kernel only) additionally emits the WINNING
    round-6 cosine — the argmax computes it anyway, so callers that
    need the similarity to the assigned centroid (prototypicality
    scoring) read it here instead of joining the centroid relation
    back and re-folding the identical cosine over the corpus.

    The centroid relation is bounded (k rows), so it is collected and
    folded into the row expression as a literal struct array; the
    per-row argmax (round-6 cosine, ties to the lowest cent_id — the
    struct-max carries ``-cent_id`` so equal similarities resolve to
    the smallest id) runs inside whole-stage codegen. The previous
    shape — broadcast crossJoin + row_number window — hash-partitioned
    the WHOLE corpus by id just to rank k rows per key: a hidden full
    corpus shuffle (plus sort) that would dominate ``build_ivf_index``
    and ``semantic_dedup`` at 100 TB. Plan pinned shuffle-free by
    tests/test_similarity.py."""
    rows = sorted(
        centroids.select(cent_id_col, cent_vec_col).collect(),
        key=lambda r: r[0],
    )
    if not rows:
        raise ValueError("assign_to_centroids: empty centroid relation")

    if kernel == "arrow":
        if score_col is not None:
            raise ValueError(
                "assign_to_centroids: score_col needs kernel='expr' "
                "(the arrow argmax does not round-6 the similarity)"
            )
        # Early, BEFORE building cent_lit: the literal struct array
        # costs k×(dim+2) py4j Column constructions — minutes of
        # driver time at production k, and exactly what the arrow
        # kernel exists to avoid.
        return _assign_arrow(corpus, rows, vec_col, cent_id_col)
    if kernel != "expr":
        raise ValueError(
            f"assign_to_centroids: unknown kernel {kernel!r} "
            "(expected 'expr' or 'arrow')"
        )

    def _self_dot(vec) -> float:
        # Same sequential left fold (in float64) as the cosine()
        # aggregate — bit-identical to computing dot(cv, cv) in-plan.
        acc = 0.0
        for x in vec:
            acc += float(x) * float(x)
        return acc

    # Expression kernel (default), SQL-text build (r18): the earlier
    # py4j-built literal struct array cost k×(dim+2) driver round
    # trips (~4.6 ms each on the bench box — seconds per call at
    # k=16), and the inner ``aggregate(zip_with(…))`` fold ran k+1
    # interpreted lambda folds per row. Now ONE parsed SQL string: the
    # ``transform`` over the literal centroid structs stays (a fully
    # unrolled struct tower executes worse — the pq_encode lesson),
    # the per-centroid dot is a flat multiply-add chain with the
    # IDENTICAL float64 op sequence ((((0.0+v₀c₀)+v₁c₁)+…) and NULL
    # propagation (out-of-range ``get`` is NULL where ``zip_with``
    # padded NULL; a row LONGER than dim is guarded to NULL exactly
    # where ``zip_with`` padded the centroid side), and the row
    # self-dot is staged through a temp column so it is computed once
    # per row instead of once per centroid — same value, fewer ops.
    # Deterministic: bit-identical to cosine() and the cross-engine
    # oracles (re-checked at sf0.001/0.01/0.1). For production-size k
    # (SemDeDup uses thousands of clusters) pass kernel="arrow".
    from lotad_spark.pipeline.pq import _sql_d

    dim = len(rows[0][1])
    cent_sql = "array(" + ", ".join(
        "named_struct('cid', %d, 'cv', array(%s), 'dcc', %s)"
        % (
            int(r[0]),
            ", ".join(_sql_d(x) for x in r[1]),
            _sql_d(_self_dot(r[1])),
        )
        for r in rows
    ) + ")"
    dvv_terms = " + ".join(
        f"(CAST(get(`{vec_col}`, {i}) AS DOUBLE)"
        f" * CAST(get(`{vec_col}`, {i}) AS DOUBLE))"
        for i in range(dim)
    )
    dot_terms = " + ".join(
        f"(CAST(get(`{vec_col}`, {i}) AS DOUBLE) * get(c.cv, {i}))"
        for i in range(dim)
    )
    guarded_dot = (
        f"IF(size(`{vec_col}`) > {dim}, CAST(NULL AS DOUBLE),"
        f" 0.0D + {dot_terms})"
    )
    tmp = "_assign_dvv"
    staged = corpus.withColumn(
        tmp,
        F.expr(
            f"IF(size(`{vec_col}`) > {dim}, CAST(NULL AS DOUBLE),"
            f" 0.0D + {dvv_terms})"
        ),
    )
    best_sql = (
        f"array_max(transform({cent_sql}, "
        f"c -> named_struct('sim', round(({guarded_dot})"
        f" / sqrt(`{tmp}` * c.dcc), 6), "
        f"'negid', -c.cid)))"
    )
    if score_col is None:
        assigned = staged.withColumn(
            cent_id_col, F.expr(f"CAST(-(({best_sql}).negid) AS INT)")
        )
        return assigned.drop(tmp)
    btmp = "_assign_best"
    return (
        staged.withColumn(btmp, F.expr(best_sql))
        .withColumn(cent_id_col, F.expr(f"CAST(-(`{btmp}`.negid) AS INT)"))
        .withColumn(score_col, F.col(btmp)["sim"])
        .drop(tmp, btmp)
    )


def build_ivf_index(
    corpus: DataFrame,
    path: str,
    *,
    n_centroids: int | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    sample_size: int | None = None,
    train_iters: int | None = None,
    kernel: str = "arrow",
) -> None:
    """Materialize the write-once IVF layout: corpus assigned to trained
    centroids and written as parquet PARTITIONED BY cent_id, centroids
    saved alongside. This is the 100 TB serving shape: the expensive
    train+assign runs once; every later query reads only its ``nprobe``
    probed partitions (true partition pruning at the scan — pinned by
    tests/test_plans.py), i.e. ``nprobe/n_centroids`` of the data.

    ``n_centroids`` defaults to the cluster-size rule
    (:func:`~lotad_spark.pipeline.kmeans.default_n_centroids` —
    ``max(8, n/250)``), so the probed fraction stays constant as the
    corpus grows instead of each bucket growing with it; the one count
    job it costs is a column-pruned parquet metadata read, amortized
    into a write-once build. Pass an explicit int to override."""
    from lotad_spark.pipeline import kmeans

    if n_centroids is None:
        n_centroids = kmeans.default_n_centroids(
            corpus.select(id_col).count()
        )
    sample = kmeans.sample_vectors(
        corpus,
        id_col=id_col,
        vec_col=vec_col,
        sample_size=sample_size or kmeans.default_sample_size(n_centroids),
    )
    cents = kmeans.train_centroids(
        sample, n_centroids, iters=train_iters or kmeans.DEFAULT_ITERS
    )
    centroids = bounded_local_df(
        corpus.sparkSession,
        [(i, c) for i, c in enumerate(cents)],
        "cent_id int, cent_vec array<double>",
    )
    assigned = assign_to_centroids(
        corpus, centroids, id_col=id_col, vec_col=vec_col, kernel=kernel
    )
    assigned.write.mode("overwrite").partitionBy("cent_id").parquet(
        f"{path}/data"
    )
    centroids.coalesce(1).write.mode("overwrite").parquet(f"{path}/centroids")


def ivf_topk_indexed(
    spark,
    index_path: str,
    queries: DataFrame,
    k: int = 5,
    *,
    nprobe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Approximate top-k against a :func:`build_ivf_index` layout.

    The probed cent_ids are collected to the driver (bounded:
    |queries| × nprobe ints) and applied as a STATIC partition filter, so
    the scan provably touches only the probed partitions — no dynamic
    pruning gamble, no full-index read."""
    centroids = spark.read.parquet(f"{index_path}/centroids")
    q = queries.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("_qvec")
    )
    probe_scored = q.crossJoin(F.broadcast(centroids)).withColumn(
        "_psim", F.round(cosine(F.col("_qvec"), F.col("cent_vec")), 6)
    )
    pw = Window.partitionBy("query_id").orderBy(F.desc("_psim"), F.asc("cent_id"))
    probes = (
        probe_scored.withColumn("_r", F.row_number().over(pw))
        .filter(F.col("_r") <= nprobe)
        .select("query_id", "_qvec", "cent_id")
    )
    probed_ids = sorted({r.cent_id for r in probes.select("cent_id").collect()})

    data = spark.read.parquet(f"{index_path}/data").filter(
        F.col("cent_id").isin(probed_ids)
    )
    scored = (
        data.join(F.broadcast(probes), "cent_id")
        .filter(F.col(id_col) != F.col("query_id"))
        .withColumn("sim", F.round(cosine(F.col("_qvec"), F.col(vec_col)), 6))
    )
    return _ranked_topk(scored, k, id_col=id_col).select("query_id", id_col, "sim")


def build_ivf_sq8_index(
    corpus: DataFrame,
    path: str,
    *,
    n_centroids: int | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    sample_size: int | None = None,
    train_iters: int | None = None,
    kernel: str = "arrow",
) -> None:
    """The IVF-SQ8 serving layout: corpus assigned to coarse centroids
    and stored as per-vector int8 scalar quantization (the
    :func:`quantize_embeddings` scheme — ``v ≈ zero_point + q·scale``),
    partitioned by cent_id. The middle rung of the ANN ladder: ~recall
    of raw-vector IVF at 4× less storage than float32 (8× vs the
    float64 compute form), vs IVF-PQ's ~17× compression at lower
    recall. Each row also stores ``Σq`` and ``Σq²`` so the probe
    reconstructs ``|v̂|²`` from two ints + two scalars — the scoring
    fold touches the int8 array exactly once per (query, row).

    ``n_centroids`` defaults to the cluster-size rule
    (``max(8, n/250)``): SQ8 buckets store full-length int8 rows, so at
    a FIXED centroid count probed-bucket volume is corpus-proportional
    (the measured sf1 1.8× probe growth) — the rule keeps the probe
    tracking the probed fraction instead. Explicit int overrides."""
    from lotad_spark.pipeline import kmeans

    if n_centroids is None:
        n_centroids = kmeans.default_n_centroids(
            corpus.select(id_col).count()
        )
    sample = kmeans.sample_vectors(
        corpus,
        id_col=id_col,
        vec_col=vec_col,
        sample_size=sample_size or kmeans.default_sample_size(n_centroids),
    )
    cents = kmeans.train_centroids(
        sample, n_centroids, iters=train_iters or kmeans.DEFAULT_ITERS
    )
    centroids = bounded_local_df(
        corpus.sparkSession,
        [(i, c) for i, c in enumerate(cents)],
        "cent_id int, cent_vec array<double>",
    )
    assigned = assign_to_centroids(
        corpus, centroids, id_col=id_col, vec_col=vec_col, kernel=kernel
    )
    quant = quantize_embeddings(
        assigned.select(id_col, vec_col, "cent_id"),
        id_col=id_col,
        vec_col=vec_col,
        keep_cols=("cent_id",),
    )
    qv = F.col("qvec")
    acc0 = F.lit(0).cast("bigint")
    quant.select(
        id_col,
        "scale",
        "zero_point",
        "qvec",
        F.aggregate(qv, acc0, lambda a, x: a + x).alias("sum_q"),
        F.aggregate(qv, acc0, lambda a, x: a + x * x).alias("sum_q2"),
        "cent_id",
    ).write.mode("overwrite").partitionBy("cent_id").parquet(f"{path}/data")
    centroids.coalesce(1).write.mode("overwrite").parquet(f"{path}/centroids")


def ivf_sq8_topk(
    spark,
    index_path: str,
    queries: DataFrame,
    k: int = 5,
    *,
    nprobe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Approximate top-k against a :func:`build_ivf_sq8_index` layout:
    (query_id, vec_id, sim) with sim the round-6 cosine between the
    query and the DEQUANTIZED row ``v̂ = zero_point + q·scale``.

    Same serving contract as the other indexed probes: probed cent_ids
    collect to the driver (bounded) and apply as a STATIC partition
    filter. Scoring expands algebraically so the int8 array is touched
    once: ``⟨q,v̂⟩ = zero·Σqᵤ + scale·⟨qᵤ,qv⟩`` (``qᵤ`` the query) and
    ``|v̂|² = d·zero² + 2·zero·scale·Σq + scale²·Σq²`` from the stored
    row sums — per-row cost is one zip_with fold plus scalars, all
    inside whole-stage codegen."""
    centroids = spark.read.parquet(f"{index_path}/centroids")
    q = queries.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).cast("array<double>").alias("_qvec")
    )
    probe_scored = q.crossJoin(F.broadcast(centroids)).withColumn(
        "_psim", F.round(cosine(F.col("_qvec"), F.col("cent_vec")), 6)
    )
    pw = Window.partitionBy("query_id").orderBy(
        F.desc("_psim"), F.asc("cent_id")
    )
    acc0 = F.lit(0.0)
    probes = (
        probe_scored.withColumn("_r", F.row_number().over(pw))
        .filter(F.col("_r") <= nprobe)
        .select(
            "query_id",
            "_qvec",
            F.aggregate(F.col("_qvec"), acc0, lambda a, x: a + x).alias(
                "_qsum"
            ),
            F.aggregate(
                F.col("_qvec"), acc0, lambda a, x: a + x * x
            ).alias("_q2"),
            "cent_id",
        )
    )
    probed_ids = sorted(
        {r.cent_id for r in probes.select("cent_id").collect()}
    )
    data = spark.read.parquet(f"{index_path}/data").filter(
        F.col("cent_id").isin(probed_ids)
    )
    dotqq = F.aggregate(
        F.zip_with(F.col("_qvec"), F.col("qvec"), lambda a, b: a * b),
        acc0,
        lambda a, x: a + x,
    )
    zero, scale = F.col("zero_point"), F.col("scale")
    ip = zero * F.col("_qsum") + scale * dotqq
    d = F.size("qvec").cast("double")
    vnorm2 = (
        d * zero * zero
        + F.lit(2.0) * zero * scale * F.col("sum_q").cast("double")
        + scale * scale * F.col("sum_q2").cast("double")
    )
    scored = (
        data.join(F.broadcast(probes), "cent_id")
        .filter(F.col(id_col) != F.col("query_id"))
        .withColumn(
            "sim", F.round(ip / F.sqrt(F.col("_q2") * vnorm2), 6)
        )
    )
    return _ranked_topk(scored, k, id_col=id_col).select(
        "query_id", id_col, "sim"
    )


def ivf_topk(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 5,
    *,
    n_centroids: int | None = None,
    nprobe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroids: DataFrame | None = None,
    sample_size: int | None = None,
    train_iters: int | None = None,
    kernel: str = "arrow",
) -> DataFrame:
    """Approximate top-k via IVF buckets: (query_id, vec_id, sim).

    Assignment defaults to the Arrow matmul kernel (r10): the expr
    literal-argmax at IVF centroid count regressed the bench row
    2.27 → 3.63 s, and the interleaved idle A/B measured arrow at
    1.75 s vs expr 2.99 s (BASELINE.md r10). Kernel divergence is
    bounded to exact round-6 tie boundaries — pinned tolerance-banded
    in tests/test_similarity.py; pass ``kernel="expr"`` for
    bit-identical parity with the SQL oracles' sequential fold.

    Centroids are trained with deterministic spherical k-means
    (``pipeline.kmeans``: farthest-point init + fixed Lloyd iterations
    over a bounded id-ordered sample — no RNG, reproducible across
    engines) unless a pre-trained ``centroids`` frame
    (cent_id, cent_vec) is supplied. Each query searches only its
    ``nprobe`` nearest buckets. ``n_centroids`` defaults to the
    cluster-size rule (``max(8, n/250)`` —
    :func:`~lotad_spark.pipeline.kmeans.default_n_centroids`) so the
    searched fraction stays ``nprobe/k`` as the corpus grows; the rule
    costs one column-pruned count job, skipped entirely when a trained
    ``centroids`` frame is supplied.
    """
    if centroids is None:
        from lotad_spark.pipeline import kmeans

        if n_centroids is None:
            n_centroids = kmeans.default_n_centroids(
                corpus.select(id_col).count()
            )
        sample = kmeans.sample_vectors(
            corpus,
            id_col=id_col,
            vec_col=vec_col,
            sample_size=sample_size or kmeans.default_sample_size(n_centroids),
        )
        cents = kmeans.train_centroids(
            sample, n_centroids, iters=train_iters or kmeans.DEFAULT_ITERS
        )
        centroids = bounded_local_df(
            corpus.sparkSession,
            [(i, c) for i, c in enumerate(cents)],
            "cent_id int, cent_vec array<double>",
        )
    assigned = assign_to_centroids(
        corpus, centroids, id_col=id_col, vec_col=vec_col, kernel=kernel
    )

    q = queries.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("_qvec")
    )
    probe_scored = q.crossJoin(F.broadcast(centroids)).withColumn(
        "_psim", F.round(cosine(F.col("_qvec"), F.col("cent_vec")), 6)
    )
    pw = Window.partitionBy("query_id").orderBy(F.desc("_psim"), F.asc("cent_id"))
    probes = (
        probe_scored.withColumn("_r", F.row_number().over(pw))
        .filter(F.col("_r") <= nprobe)
        .select("query_id", "_qvec", "cent_id")
    )

    scored = (
        assigned.join(F.broadcast(probes), "cent_id")
        .filter(F.col(id_col) != F.col("query_id"))
        .withColumn("sim", F.round(cosine(F.col("_qvec"), F.col(vec_col)), 6))
    )
    return _ranked_topk(scored, k, id_col=id_col).select("query_id", id_col, "sim")


def quantize_embeddings(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    keep_cols: tuple[str, ...] = (),
) -> DataFrame:
    """Per-vector int8 scalar quantization: (id, scale, zero_point, qvec)
    with ``v ≈ zero_point + q · scale`` and ``q ∈ [0, 255]`` — 4× smaller
    than float32 (16× vs the float64 compute form), the standard
    compression for serving ANN indexes whose corpus dwarfs memory.

    Per-vector (not per-corpus) min/max calibration keeps the operator a
    stateless one-pass projection — no global aggregate, no shuffle, no
    training: exactly the shape that survives a 100 TB corpus unchanged.
    Quantized values round half-up from identical double inputs in any
    engine, and scale/zero_point are emitted rounded to 6 decimals, so
    the layout is bit-reproducible cross-engine (DuckDB oracle replays
    it). Constant vectors (max == min) quantize to all-zero q with
    scale 0 — dequantization returns the constant exactly."""
    v = F.col(vec_col).cast("array<double>")
    mn, mx = F.array_min(v), F.array_max(v)
    scale = (mx - mn) / F.lit(255.0)
    # One canonical expression shape — (x − mn) · 255 / (mx − mn) — reused
    # verbatim by the SQL oracle: an algebraically-equal rewrite (e.g.
    # dividing by the precomputed scale) can differ in the last ulp and
    # flip a half-up rounding.
    q = F.when(mx == mn, F.transform(v, lambda _: F.lit(0))).otherwise(
        F.transform(
            v,
            lambda x: F.round(
                (x - mn) * F.lit(255.0) / (mx - mn), 0
            ).cast("int"),
        )
    )
    # keep_cols ride through the projection so callers needing extra
    # columns (build_ivf_sq8_index threads cent_id) don't self-join the
    # quantized relation back onto its own input — that join duplicated
    # the whole upstream subtree (coarse assignment ran TWICE at build).
    return df.select(
        F.col(id_col),
        F.round(scale, 6).alias("scale"),
        F.round(mn, 6).alias("zero_point"),
        q.alias("qvec"),
        *[F.col(c) for c in keep_cols],
    )


def semantic_dedup(
    corpus: DataFrame,
    centroids: DataFrame,
    *,
    threshold: float = 0.92,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    cent_id_col: str = "cent_id",
    cent_vec_col: str = "cent_vec",
    pair_blocks: int = 8,
    kernel: str = "expr",
) -> DataFrame:
    """SemDeDup-style semantic deduplication (Abbas et al. 2023,
    arXiv:2303.09540): cluster the corpus by embedding, then mark as
    duplicates the members whose cosine similarity to another member of
    the SAME cluster reaches ``threshold``.

    Returns one row per corpus vector:
    ``(id, cent_id, nn_sim, is_dup)`` where ``nn_sim`` is the max cosine
    (rounded to 6, engine-reproducible) to any SMALLER-id member of the
    same cluster (NULL when none) and ``is_dup = nn_sim >= threshold``.
    Keep-rule: the minimum id of each pairwise-similar set survives — a
    deterministic, order-free relaxation of the paper's sequential
    greedy sweep (which keeps the member farthest from the centroid);
    the paper notes (§4.3) that the choice of which member survives
    barely moves downstream quality, while min-id keeps the operator a
    pure self-join expressible in any engine.

    Scale shape (the reason SemDeDup beats all-pairs at 100 TB): the
    only corpus shuffle is the pairwise self-join, and the quadratic
    pair count is bounded per cluster — choose
    ``n_centroids ∝ corpus_size / target_cluster_size`` (the paper uses
    11k clusters for 100M docs) so pair volume grows linearly with the
    corpus. Centroids fold into the assignment projection as literals
    (bounded); corpus text/payload columns never enter the join — only
    (id, cent_id, vector).

    The self-join is TRIANGULAR-BLOCKED on ``pair_blocks``: members
    hash into B buckets, every unordered bucket pair (i ≤ j) is a join
    cell, and the join key is (cent_id, i, j) — k·B(B+1)/2 keys instead
    of k. Joining raw on cent_id caps parallelism at k tasks and — the
    sharper failure, observed at the sf1 spot-check — AQE's byte-based
    coalescing sees only the tiny (id, vector) shuffle and packs
    everything into ONE task while the join *output* explodes
    quadratically (the same blind spot SCALING.md documents for
    duplicate-key diff skew). Blocking restores parallelism regardless
    of k, bounds any hot cluster's largest task at ~(cluster/B)², and
    costs a ×(B+1)/2 replication of the id+vector relation in the
    shuffle. Results are independent of B (parity pytest-pinned):
    cross-bucket cells see each unordered pair once in arbitrary
    orientation, same-bucket cells see both orientations, and the
    max-aggregation to the larger id is orientation- and
    duplicate-insensitive.
    """
    spark = corpus.sparkSession
    # share_corpus: `assigned` is consumed THREE times (both sides of
    # the blocked self-join + the final left join back) and Catalyst
    # shares no common subplans, so without it the assignment kernel —
    # the documented cost driver — ran 3× per job (r11 review finding;
    # the dsir/retrieval/bigram multi-consumer pattern).
    assigned = assign_to_centroids(
        corpus.select(id_col, vec_col),
        centroids,
        id_col=id_col,
        vec_col=vec_col,
        cent_id_col=cent_id_col,
        cent_vec_col=cent_vec_col,
        kernel=kernel,
    )
    assigned = share_corpus(assigned)
    B = max(1, int(pair_blocks))
    blk = F.pmod(F.xxhash64(F.col(id_col)), F.lit(B)).cast("int")
    # Per-member self-dot computed ONCE before the pairwise join (r18):
    # cosine() folds three dots per pair — dot(a,b), dot(a,a), dot(b,b)
    # — and the two self-dots are pair-invariant, so the old shape ran
    # ~3× the interpreted fold work over the quadratic pair volume.
    # The staged ``_n2`` is the IDENTICAL fold on the identical bytes
    # (cosine()'s own accumulation order), just evaluated per member
    # instead of per pair — sim values bit-equal (oracle re-checked),
    # and the join carries one extra double per side.
    da = F.col(vec_col).cast("array<double>")
    n2 = F.aggregate(
        F.zip_with(da, da, lambda p, q: p * q),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    withblk = assigned.withColumn("_blk", blk).withColumn("_n2", n2)
    cells = bounded_local_df(
        spark,
        [(i, j) for i in range(B) for j in range(i, B)], "bi int, bj int"
    )
    a = withblk.join(
        F.broadcast(cells), withblk["_blk"] == cells["bi"]
    ).select(
        F.col(id_col).alias("_aid"),
        F.col(vec_col).alias("_avec"),
        F.col("_n2").alias("_an2"),
        cent_id_col,
        "bi",
        "bj",
    )
    b = withblk.join(
        F.broadcast(cells), withblk["_blk"] == cells["bj"]
    ).select(
        F.col(id_col).alias("_bid"),
        F.col(vec_col).alias("_bvec"),
        F.col("_n2").alias("_bn2"),
        F.col(cent_id_col).alias("_bcent"),
        F.col("bi").alias("_bbi"),
        F.col("bj").alias("_bbj"),
    )
    pairs = a.join(
        b,
        (F.col(cent_id_col) == F.col("_bcent"))
        & (F.col("bi") == F.col("_bbi"))
        & (F.col("bj") == F.col("_bbj")),
    ).filter(F.col("_aid") != F.col("_bid"))
    ab = F.aggregate(
        F.zip_with(
            F.col("_avec").cast("array<double>"),
            F.col("_bvec").cast("array<double>"),
            lambda p, q: p * q,
        ),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    nn = (
        pairs.select(
            F.greatest("_aid", "_bid").alias("_aid"),
            F.round(
                ab / F.sqrt(F.col("_an2") * F.col("_bn2")), 6
            ).alias("_sim"),
        )
        .groupBy("_aid")
        .agg(F.max("_sim").alias("nn_sim"))
    )
    return (
        assigned.join(nn, assigned[id_col] == nn["_aid"], "left")
        .select(
            F.col(id_col),
            F.col(cent_id_col),
            F.col("nn_sim"),
            F.coalesce(
                F.col("nn_sim") >= F.lit(threshold), F.lit(False)
            ).alias("is_dup"),
        )
    )


def prototypicality_prune(
    corpus: DataFrame,
    centroids: DataFrame,
    *,
    prune_frac: float = 0.5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    cent_id_col: str = "cent_id",
    cent_vec_col: str = "cent_vec",
    kernel: str = "expr",
) -> DataFrame:
    """SSL-prototypes data pruning (Sorscher et al. 2022, "Beyond neural
    scaling laws: beating power law scaling via data pruning",
    arXiv:2206.14486 — public): score every example by its cosine to its
    assigned cluster centroid ("prototypicality") and DROP the most
    prototypical ``prune_frac`` of each cluster — the easy, redundant
    core the paper shows you can discard at large data scale with little
    or no loss — keeping the hard, informative tail. The standard
    embedding-space curation step AFTER dedup: SemDeDup removes copies,
    prototype pruning removes redundancy.

    Returns (id, cent_id, proto, keep) for every corpus row so callers
    can audit the per-cluster cut line, not just the survivors.

    Determinism (oracle contract): ``proto`` is the round-6 cosine; the
    per-cluster drop count is EXACT integer arithmetic
    ``n * round(prune_frac·10⁶) div 10⁶`` with the micro-unit factor
    computed driver-side (the repo convention — no double
    multiplication whose rounding could flip an engine on a boundary);
    rank ties resolve proto DESC, id ASC.

    Scale: assignment is the shuffle-free literal/arrow kernel
    (:func:`assign_to_centroids`); the only exchange is the per-cluster
    rank window keyed by cent_id — cluster-sized sorts, the
    :func:`semantic_dedup` shape. At corpus sizes where even
    cluster-sized sorts hurt, trade exactness for a scan: filter by an
    approx-percentile proto threshold per cluster instead of the exact
    rank."""
    from pyspark.sql import Window

    if kernel == "expr":
        # The assignment argmax already computes the round-6 cosine to
        # the winning centroid (bit-identically to the cosine() fold —
        # see assign_to_centroids); reading it via score_col removes the
        # centroid join-back and a second cosine fold over the corpus.
        scored = assign_to_centroids(
            corpus,
            centroids,
            id_col=id_col,
            vec_col=vec_col,
            cent_id_col=cent_id_col,
            cent_vec_col=cent_vec_col,
            kernel=kernel,
            score_col="proto",
        ).select(F.col(id_col), F.col(cent_id_col), F.col("proto"))
    else:
        assigned = assign_to_centroids(
            corpus,
            centroids,
            id_col=id_col,
            vec_col=vec_col,
            cent_id_col=cent_id_col,
            cent_vec_col=cent_vec_col,
            kernel=kernel,
        )
        withc = assigned.join(
            F.broadcast(centroids.select(cent_id_col, cent_vec_col)),
            cent_id_col,
        )
        scored = withc.select(
            F.col(id_col),
            F.col(cent_id_col),
            F.round(
                cosine(
                    F.col(vec_col).cast("array<double>"),
                    F.col(cent_vec_col).cast("array<double>"),
                ),
                6,
            ).alias("proto"),
        )
    micro = int(round(prune_frac * 1_000_000))
    w = Window.partitionBy(cent_id_col).orderBy(
        F.desc("proto"), F.asc(id_col)
    )
    ranked = scored.select(
        id_col,
        cent_id_col,
        "proto",
        F.row_number().over(w).alias("_r"),
        F.count(F.lit(1))
        .over(Window.partitionBy(cent_id_col))
        .alias("_n"),
    )
    return ranked.select(
        id_col,
        cent_id_col,
        "proto",
        (
            F.col("_r") > F.expr(f"(_n * {micro}) div 1000000")
        ).alias("keep"),
    )


def prototypicality_prune_corpus(
    corpus: DataFrame,
    *,
    n_clusters: int = 16,
    prune_frac: float = 0.5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    sample_size: int | None = None,
    train_iters: int | None = None,
    kernel: str = "expr",
) -> DataFrame:
    """End-to-end :func:`prototypicality_prune`: trains the deterministic
    spherical k-means centroids (``pipeline.kmeans`` — RNG-free, bounded
    id-ordered sample, so an oracle retraining on the same rows embeds
    bit-identical constants) and prunes against them."""
    from lotad_spark.pipeline import kmeans

    sample = kmeans.sample_vectors(
        corpus,
        id_col=id_col,
        vec_col=vec_col,
        sample_size=sample_size or kmeans.DEFAULT_SAMPLE_SIZE,
    )
    cents = kmeans.train_centroids(
        sample, n_clusters, iters=train_iters or kmeans.DEFAULT_ITERS
    )
    centroids = bounded_local_df(
        corpus.sparkSession,
        [(i, c) for i, c in enumerate(cents)],
        "cent_id int, cent_vec array<double>",
    )
    return prototypicality_prune(
        corpus,
        centroids,
        prune_frac=prune_frac,
        id_col=id_col,
        vec_col=vec_col,
        kernel=kernel,
    )


def semantic_dedup_corpus(
    corpus: DataFrame,
    *,
    n_clusters: int = 8,
    threshold: float = 0.92,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    sample_size: int | None = None,
    train_iters: int | None = None,
    pair_blocks: int = 8,
    kernel: str = "expr",
) -> DataFrame:
    """End-to-end :func:`semantic_dedup`: trains the deterministic
    spherical k-means centroids (``pipeline.kmeans`` — RNG-free, bounded
    id-ordered sample, so an oracle retraining on the same rows embeds
    bit-identical constants) and runs the cluster-bounded dedup."""
    from lotad_spark.pipeline import kmeans

    sample = kmeans.sample_vectors(
        corpus,
        id_col=id_col,
        vec_col=vec_col,
        sample_size=sample_size or kmeans.DEFAULT_SAMPLE_SIZE,
    )
    cents = kmeans.train_centroids(
        sample, n_clusters, iters=train_iters or kmeans.DEFAULT_ITERS
    )
    centroids = bounded_local_df(
        corpus.sparkSession,
        [(i, c) for i, c in enumerate(cents)],
        "cent_id int, cent_vec array<double>",
    )
    return semantic_dedup(
        corpus,
        centroids,
        threshold=threshold,
        id_col=id_col,
        vec_col=vec_col,
        pair_blocks=pair_blocks,
        kernel=kernel,
    )
