"""Product quantization (PQ) for billion-scale ANN over embeddings.

Jegou, Douze, Schmid — "Product Quantization for Nearest Neighbor
Search" (TPAMI 2011, public): split the D-dim space into M orthogonal
subspaces, vector-quantize each with its own K-code codebook, and
approximate a vector by the concatenation of its M sub-centroids. A
vector then costs M small ints (codes) instead of D floats — at
(M=4, K=16) over dim-64 float32 that is 64× less state — and query
scoring becomes table lookups (ADC: asymmetric distance computation)
instead of D-dim arithmetic.

Why this matters at 100 TB: the encoded corpus is the ONLY thing the
top-k scan touches — a few bytes per row, column-pruned straight off
parquet — while the raw embedding column never enters the plan. The
lookup tables are per-query constants (M×K entries), broadcast as
literals; scoring is pure-JVM array indexing inside whole-stage
codegen, two-phase top-k keeps the wide shuffle at O(partitions × k)
rows (the `_ranked_topk` shape shared with the other ANN paths).

Cross-engine determinism (the repo's oracle contract):

* codebooks train driver-side with a deterministic L2 Lloyd's
  (farthest-point init from the id-ordered first sample vector, ties
  to the lowest index, empty clusters keep their centroid) over the
  same bounded id-ordered sample `pipeline.kmeans` uses — an oracle
  retraining on the same rows derives bit-identical constants;
* encoding picks argmin_c ||v_sub − c||² via the equivalent
  argmax_c (2⟨v_sub,c⟩ − |c|²) — no row self-dot needed — with the
  score rounded to 6 decimals and ties to the LOWEST code id;
* ADC lookup tables are INTEGER-quantized (round(x·10⁶) as int64):
  summing M int64 terms is order-independent and exact, so Spark's
  fold and a SQL SUM produce identical integers no matter the
  evaluation order — the one floating-point hazard (summation order)
  is designed out. The final cosine-to-reconstruction divides two
  exact integer sums under identical literals, so both engines see
  identical doubles before the final round-6.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from lotad_spark.pipeline import kmeans
from lotad_spark.sources.memory import bounded_local_df


def _qid_schema(queries: DataFrame, id_col: str, tail: str):
    """Schema for a query-keyed serving relation (LUTs, probe pairs):
    ``query_id`` inherits the EXACT DataType of the caller's id column
    instead of assuming bigint — string/uuid ids are common in
    production, and a hard-coded ``query_id bigint`` would raise at
    createDataFrame time for them (r10 advice). ``tail`` is the DDL for
    the non-key columns."""
    from pyspark.sql.types import (
        StructField,
        StructType,
        _parse_datatype_string,
    )

    rest = _parse_datatype_string(f"struct<{tail}>")
    return StructType(
        [StructField("query_id", queries.schema[id_col].dataType)]
        + list(rest.fields)
    )

# Defaults sized on the sf fixtures (near-uniform random 64-dim vectors —
# PQ's adversarial case, tiny cosine gaps vs quantization distortion):
# recall@5 vs exact measured 0.16 at (M=4,K=16), 0.28 at (8,32), 0.56 at
# (16,32). Real embedding corpora have much lower intrinsic dimension and
# fare far better at the same bit budget. M must divide the embedding dim
# (16 divides the common 64/256/768/1024/1536 dims).
DEFAULT_M = 16  # subspaces
DEFAULT_CODES = 32  # codes per subspace (one byte would allow 256)
LUT_SCALE = 10**6  # integer quantization for order-independent sums


def train_pq_codebooks(
    corpus: DataFrame,
    *,
    m: int = DEFAULT_M,
    n_codes: int = DEFAULT_CODES,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    sample_size: int | None = None,
    iters: int | None = None,
) -> list[list[list[float]]]:
    """Train M per-subspace codebooks (each ``n_codes × dim/m``) on the
    bounded id-ordered sample. Returns plain float lists so the values
    embed as literals on both engines."""
    sample = kmeans.sample_vectors(
        corpus,
        id_col=id_col,
        vec_col=vec_col,
        sample_size=sample_size or kmeans.DEFAULT_SAMPLE_SIZE,
    )
    if not sample:
        raise ValueError("train_pq_codebooks: empty sample")
    dim = len(sample[0])
    if dim % m != 0:
        raise ValueError(
            f"train_pq_codebooks: dim {dim} not divisible by m={m}"
        )
    sub = dim // m
    return [
        _train_l2(
            [list(v[j * sub : (j + 1) * sub]) for v in sample],
            n_codes,
            iters or kmeans.DEFAULT_ITERS,
        )
        for j in range(m)
    ]


def _train_l2(
    vectors: list[list[float]], k: int, iters: int
) -> list[list[float]]:
    """Deterministic L2 Lloyd's for one subspace (mirrors
    ``kmeans.train_centroids``'s determinism rules, without the
    spherical normalization — PQ quantizes raw sub-vectors)."""
    X = np.asarray(vectors, dtype=np.float64)
    k = min(k, len(X))
    # farthest-point init from sample index 0; ties to the lowest index
    # (np.argmax returns the first maximum)
    chosen = [0]
    best_d = ((X - X[0]) ** 2).sum(axis=1)
    for _ in range(1, k):
        nxt = int(np.argmax(best_d))
        chosen.append(nxt)
        best_d = np.minimum(best_d, ((X - X[nxt]) ** 2).sum(axis=1))
    C = X[chosen].copy()
    for _ in range(iters):
        d2 = ((X[:, None, :] - C[None, :, :]) ** 2).sum(axis=2)
        assign = np.argmin(d2, axis=1)  # first minimum = lowest code
        for j in range(k):
            members = X[assign == j]
            if len(members):
                C[j] = members.mean(axis=0)
    return [[float(x) for x in row] for row in C]


def self_dot(cv) -> float:
    """Sequential left-fold self-dot in float64 — the ONE definition both
    the Spark literals and the SQL-oracle literals derive from, so the
    embedded constants are bit-identical."""
    acc = 0.0
    for x in cv:
        acc += float(x) * float(x)
    return acc


def train_residual_models(
    sample: list[list[float]],
    cents: list[list[float]],
    *,
    m: int = DEFAULT_M,
    n_codes: int = DEFAULT_CODES,
    iters: int | None = None,
) -> tuple[list[list[float]], list[list[list[float]]]]:
    """The IVFADC training step shared by :func:`build_ivf_pq_index`
    (``residual=True``) and the SQL-oracle builder, so both derive
    bit-identical anchor/codebook literals from the same sample.

    Assigns the sample to ``cents`` with numpy round-6 cosine (first
    maximum == lowest cent_id, mirroring ``assign_to_centroids``),
    anchors each cluster at its member MEAN (empty clusters fall back
    to the unit centroid — see the design note in
    :func:`build_ivf_pq_index`), and trains the per-subspace residual
    codebooks on ``sample − anchor``. Returns ``(anchors, books)`` as
    plain float lists ready to embed as literals."""
    X = np.asarray(sample, dtype=np.float64)
    C = np.asarray(cents, dtype=np.float64)
    dim = X.shape[1]
    if dim % m != 0:
        raise ValueError(
            f"train_residual_models: dim {dim} not divisible by m={m}"
        )
    sub = dim // m
    xn = np.linalg.norm(X, axis=1)
    xn[xn == 0] = 1.0
    cn = np.linalg.norm(C, axis=1)
    cn[cn == 0] = 1.0
    sims = np.round((X @ C.T) / (xn[:, None] * cn[None, :]), 6)
    assign = np.argmax(sims, axis=1)
    A = C.copy()
    for j in range(len(C)):
        members = X[assign == j]
        if len(members):
            A[j] = members.mean(axis=0)
    anchors = [[float(x) for x in row] for row in A]
    train_vecs = X - A[assign]
    books = [
        _train_l2(
            [list(v[j * sub : (j + 1) * sub]) for v in train_vecs],
            n_codes,
            iters or kmeans.DEFAULT_ITERS,
        )
        for j in range(m)
    ]
    return anchors, books


def _sql_d(x: float) -> str:
    """Bit-exact SQL double literal: ``repr`` emits the shortest
    round-trip decimal and Spark's double-literal parse
    (Double.parseDouble) recovers the identical bits — the one
    rendering both engines' literal embedding already relies on."""
    return repr(float(x)) + "D"


def _adc_sum_sql(codes_col: str, m: int, row_sql_for) -> Column:
    """``Σ_j row_j[codes[j]]`` as ONE parsed SQL expression — exact
    bigint sums, identical NULL propagation through NULL codes (SQL
    ``get`` is the same null-safe 0-based accessor as ``F.get``).

    Built as text deliberately: on the bench box a py4j round trip
    costs ~4.6 ms, so composing literal-heavy expressions from
    ``F.lit``/``F.get`` calls burns seconds of DRIVER time per query
    (the r18 profile of ann_pq_topk: ~5 s of its 8.6 s was expression
    CONSTRUCTION). One ``F.expr`` string is one round trip and the
    JVM parses it in milliseconds."""
    terms = " + ".join(
        f"get({row_sql_for(j)}, get(`{codes_col}`, {j}))" for j in range(m)
    )
    return F.expr(f"CAST(0 AS BIGINT) + {terms}")


def fold_dot(a, b) -> float:
    """Sequential left-fold dot product in float64 — same accumulation
    order as :func:`self_dot`, so scalar literals derived from it are
    bit-identical wherever they embed."""
    acc = 0.0
    for x, y in zip(a, b):
        acc += float(x) * float(y)
    return acc


def _encode_arrow(
    corpus: DataFrame,
    codebooks: list[list[list[float]]],
    vec_col: str,
    code_col: str,
) -> DataFrame:
    """Vectorized Arrow encode kernel: one matmul per subspace per batch
    (the production path for M×K in the hundreds — the expr kernel's
    M·K interpreted HOF folds measured 22 s vs 3 s at (16,32) × 500
    rows, and the gap scales with corpus size). Same divergence caveat
    as similarity._assign_arrow: numpy's blocked summation can differ
    in the last ulp and np.round is half-to-even vs F.round's HALF_UP,
    so a score EXACTLY on a round-6 half boundary may pick a different
    code — ties still resolve to the lowest code (argmax takes the
    first maximum). Not bit-deterministic vs the expr kernel/SQL
    oracles; parity is pinned empirically in tests."""
    from pyspark.sql.types import ArrayType, IntegerType, StructField, StructType

    C = [np.asarray(book, dtype=np.float64) for book in codebooks]
    dccs = [np.array([self_dot(cv) for cv in book]) for book in codebooks]
    sub = C[0].shape[1]
    out_schema = StructType(
        list(corpus.schema.fields)
        + [StructField(code_col, ArrayType(IntegerType()))]
    )

    def kern(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            V = np.stack(
                [np.asarray(x, dtype=np.float64) for x in pdf[vec_col]]
            )
            codes = np.empty((len(pdf), len(C)), dtype=np.int32)
            for j, B in enumerate(C):
                S = np.round(
                    2.0 * (V[:, j * sub : (j + 1) * sub] @ B.T)
                    - dccs[j][None, :],
                    6,
                )
                codes[:, j] = S.argmax(axis=1)
            out = pdf.copy()
            out[code_col] = [[int(c) for c in row] for row in codes]
            yield out

    return corpus.mapInPandas(kern, out_schema)


def pq_encode(
    corpus: DataFrame,
    codebooks: list[list[list[float]]],
    *,
    vec_col: str = "embedding",
    code_col: str = "pq_code",
    kernel: str = "expr",
) -> DataFrame:
    """Corpus columns + ``pq_code array<int>`` (M entries) — a PURE
    PROJECTION, zero exchange, codebooks folded in as literals.

    Per subspace: argmax over codes of round(2⟨v_sub,c⟩ − |c|², 6)
    (≡ L2 argmin; the row self-dot cancels), ties to the lowest code
    via the negated-id struct-max trick shared with
    ``similarity.assign_to_centroids``."""
    if not codebooks:
        raise ValueError("pq_encode: empty codebooks")
    if kernel == "arrow":
        return _encode_arrow(corpus, codebooks, vec_col, code_col)
    if kernel != "expr":
        raise ValueError(
            f"pq_encode: unknown kernel {kernel!r} (expected 'expr' or 'arrow')"
        )
    sub = len(codebooks[0][0])
    # SQL-text build (r18): the old shape — a py4j-built literal
    # struct-array per subspace plus an ``aggregate(zip_with(…))``
    # fold per (subspace, code) — was slow on BOTH sides of the
    # boundary: ~5 s of driver py4j round trips to CONSTRUCT the
    # M·K·dim literal tower (~4.6 ms/call on the bench box) and M·K
    # interpreted lambda folds per row to EVALUATE it (7.1 s total
    # over 2,000 rows at (16,32)). Now: ONE parsed SQL string per
    # query (construction ≈0.5 s), keeping the ``transform`` over the
    # literal book (a fully unrolled 16×32-struct projection was
    # tried and executes WORSE — 6-14 s, the tower blows codegen)
    # but with the inner dot as a flat multiply-add chain instead of
    # the fold machinery (exec 2.3 → 1.4 s). The float64 op sequence
    # is IDENTICAL to the fold it replaces —
    # ((((0.0+v₀c₀)+v₁c₁)+…), scalar float→double widening per
    # element, round-6, struct-max with negated code for lowest-code
    # ties — and NULL propagation matches (``get`` past the array end
    # is NULL exactly where ``zip_with`` padded NULL). Literals embed
    # via ``repr`` (shortest round-trip decimal ↔ Double.parseDouble,
    # bit-exact). Oracle re-checked at sf0.001/0.01/0.1.
    per_sub = []
    for j, book in enumerate(codebooks):
        book_sql = "array(" + ", ".join(
            "named_struct('code', %d, 'cv', array(%s), 'dcc', %s)"
            % (
                c,
                ", ".join(_sql_d(x) for x in cv),
                _sql_d(self_dot(cv)),
            )
            for c, cv in enumerate(book)
        ) + ")"
        body_dot = " + ".join(
            f"(CAST(get(`{vec_col}`, {j * sub + i}) AS DOUBLE)"
            f" * get(c.cv, {i}))"
            for i in range(sub)
        )
        per_sub.append(
            f"CAST(-(array_max(transform({book_sql}, "
            f"c -> named_struct('s', round(2.0D * (0.0D + {body_dot})"
            f" - c.dcc, 6), 'negc', -c.code))).negc) AS INT)"
        )
    return corpus.withColumn(
        code_col, F.expr(f"array({', '.join(per_sub)})")
    )


def _quantized_luts(
    qvec: list[float], codebooks: list[list[list[float]]]
) -> tuple[list[list[int]], float]:
    """Per-query ADC lookup tables: ``lut[m][code] = round(10⁶·⟨q_sub,c⟩)``
    as exact ints, plus the query self-dot (both embed as literals in the
    SQL oracle, so each engine sums identical integers)."""
    q = [float(x) for x in qvec]
    sub = len(codebooks[0][0])
    luts = []
    for j, book in enumerate(codebooks):
        qs = q[j * sub : (j + 1) * sub]
        row = []
        for cv in book:
            acc = 0.0
            for a, b in zip(qs, cv):
                acc += a * float(b)
            row.append(int(np.round(acc * LUT_SCALE)))
        luts.append(row)
    return luts, self_dot(q)


def pq_dcc_lut(codebooks: list[list[list[float]]]) -> list[list[int]]:
    """Query-independent reconstruction-norm table:
    ``dcc[m][code] = round(10⁶·|c|²)`` — subspaces are orthogonal, so
    |reconstruction|² is EXACTLY the sum of the M sub-centroid
    self-dots (no cross terms)."""
    return [
        [int(np.round(self_dot(cv) * LUT_SCALE)) for cv in book]
        for book in codebooks
    ]


def pq_topk(
    queries: DataFrame,
    corpus: DataFrame,
    codebooks: list[list[list[float]]],
    k: int = 5,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    encoded: DataFrame | None = None,
    code_col: str = "pq_code",
) -> DataFrame:
    """ADC top-k per query: (query_id, vec_id, sim) where sim is the
    round-6 cosine between the query and the PQ RECONSTRUCTION of each
    corpus vector.

    The query set is bounded (the serving pattern broadcasts it), so it
    is collected and its integer lookup tables ride in as a broadcast
    relation; scoring per corpus row is M array lookups + an integer
    fold — no embedding arithmetic, and with a pre-``encoded`` corpus
    (the write-once index shape, cf. ``build_ivf_index``) the raw
    embedding column is never read at all. Self-matches are excluded,
    ranking reuses the shared two-phase top-k."""
    from lotad_spark.pipeline.similarity import _ranked_topk

    enc = (
        encoded
        if encoded is not None
        else pq_encode(corpus, codebooks, vec_col=vec_col, code_col=code_col)
    )
    # an encoded relation may carry a query_id column (IVF-PQ: each row
    # already restricted to the queries probing its bucket) — keep it and
    # join the lookup tables on it instead of cross-joining
    per_query = "query_id" in enc.columns
    enc = enc.select(
        *([id_col, code_col] + (["query_id"] if per_query else []))
    )
    qrows = queries.select(id_col, vec_col).collect()
    if not qrows:
        raise ValueError("pq_topk: empty query relation")
    spark = corpus.sparkSession
    lut_rows = []
    for r in qrows:
        luts, q2 = _quantized_luts(list(r[1]), codebooks)
        lut_rows.append((r[0], luts, q2))
    lutdf = bounded_local_df(
        spark,
        lut_rows,
        _qid_schema(
            queries, id_col, "_lut: array<array<bigint>>, _q2: double"
        ),
    )
    dcc_lut = pq_dcc_lut(codebooks)
    m_ = len(codebooks)
    # SQL-text ADC sums (r18): exact integer chains, one parsed
    # expression each (see _adc_sum_sql — the 512-literal dcc table
    # alone cost ~2.4 s of py4j round trips to build as F.lit arrays).
    ip_sum = _adc_sum_sql(code_col, m_, lambda j: f"get(`_lut`, {j})")
    vnorm_sum = _adc_sum_sql(
        code_col,
        m_,
        lambda j: "array(" + ", ".join(f"{x}L" for x in dcc_lut[j]) + ")",
    )
    scored = (
        (
            enc.join(F.broadcast(lutdf), "query_id")
            if per_query
            else enc.crossJoin(F.broadcast(lutdf))
        )
        .filter(F.col(id_col) != F.col("query_id"))
        .withColumn(
            "sim",
            F.round(
                (ip_sum.cast("double") / F.lit(float(LUT_SCALE)))
                / F.sqrt(
                    F.col("_q2")
                    * (vnorm_sum.cast("double") / F.lit(float(LUT_SCALE)))
                ),
                6,
            ),
        )
    )
    return _ranked_topk(scored, k, id_col=id_col).select(
        "query_id", id_col, "sim"
    )


def build_ivf_pq_index(
    corpus: DataFrame,
    path: str,
    *,
    n_centroids: int | None = None,
    m: int = DEFAULT_M,
    n_codes: int = DEFAULT_CODES,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    sample_size: int | None = None,
    train_iters: int | None = None,
    assign_kernel: str = "arrow",
    encode_kernel: str = "arrow",
    residual: bool = False,
) -> None:
    """The classic IVF-PQ serving layout (the 100 TB ANN shape): corpus
    assigned to coarse centroids (arrow kernel), PQ-encoded, and written
    as parquet PARTITIONED BY cent_id carrying ONLY (id, pq_code) — a
    few bytes per row. Centroids and codebooks land alongside (plus a
    one-row ``meta`` parquet recording the layout parameters). Train +
    assign + encode runs once; every later query reads
    ``nprobe/n_centroids`` of an index that is itself ~2 orders of
    magnitude smaller than the raw embedding column.

    ``residual=True`` builds the IVFADC layout (Jegou et al. 2011
    §III): each vector's PQ code quantizes the RESIDUAL ``v - a(v)``
    where ``a`` is its cluster's MEAN anchor (assignment stays
    cosine-against-unit-centroids; the mean — stored in ``anchors/`` —
    is the base that minimizes residual variance for magnitude-carrying
    vectors). Residuals concentrate near zero on clustered corpora, so
    the same (m, n_codes) bits quantize a much smaller cell — higher
    recall at identical index size; the query side reconstructs through
    the anchor (``ivf_pq_topk`` reads the flag from ``meta``). The
    residual column is a zip_with projection after a broadcast join of
    the k-row anchor relation — no extra exchange over the plain
    path. Sample-residual training assigns driver-side with numpy
    (first-max argmax == lowest cent_id, mirroring
    ``assign_to_centroids``; a last-ulp rounding divergence vs the
    Spark assignment can only re-route a training sample, never a
    corpus row — codebook quality, not correctness).

    ``n_centroids`` defaults to the cluster-size rule
    (:func:`~lotad_spark.pipeline.kmeans.default_n_centroids` —
    ``max(8, n/250)``), keeping the probed fraction constant as the
    corpus grows; the count job is amortized into the write-once
    build. Explicit int overrides."""
    from lotad_spark.pipeline import kmeans
    from lotad_spark.pipeline.similarity import assign_to_centroids

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
    spark = corpus.sparkSession
    centroids = bounded_local_df(
        spark,
        [(i, c) for i, c in enumerate(cents)],
        "cent_id int, cent_vec array<double>",
    )
    dim = len(sample[0])
    if dim % m != 0:
        raise ValueError(f"build_ivf_pq_index: dim {dim} not divisible by m={m}")
    sub = dim // m
    anchors = None
    if residual:
        # Residuals anchor at the CLUSTER MEAN, not the unit-norm
        # spherical centroid: assignment is directional (cosine), but
        # vectors carry magnitude, and the mean is the anchor that
        # minimizes residual variance — anchoring at the unit centroid
        # measurably LOST recall on the uniform fixture (BASELINE.md
        # r10 residual table). Shared with the SQL-oracle builder so
        # both sides embed bit-identical literals.
        anchors, books = train_residual_models(
            sample, cents, m=m, n_codes=n_codes, iters=train_iters
        )
    else:
        books = [
            _train_l2(
                [list(v[j * sub : (j + 1) * sub]) for v in sample],
                n_codes,
                train_iters or kmeans.DEFAULT_ITERS,
            )
            for j in range(m)
        ]
    assigned = assign_to_centroids(
        corpus, centroids, id_col=id_col, vec_col=vec_col,
        kernel=assign_kernel,
    )
    enc_col = vec_col
    if residual:
        enc_col = "_resid"
        anchordf = bounded_local_df(
            spark,
            [(i, a) for i, a in enumerate(anchors)],
            "cent_id int, anchor_vec array<double>",
        )
        assigned = assigned.join(
            F.broadcast(anchordf), "cent_id"
        ).withColumn(
            enc_col,
            F.zip_with(
                F.col(vec_col).cast("array<double>"),
                F.col("anchor_vec"),
                lambda a, b: a - b,
            ),
        )
        anchordf.coalesce(1).write.mode("overwrite").parquet(
            f"{path}/anchors"
        )
    encoded = pq_encode(
        assigned, books, vec_col=enc_col, kernel=encode_kernel
    )
    encoded.select(id_col, "pq_code", "cent_id").write.mode(
        "overwrite"
    ).partitionBy("cent_id").parquet(f"{path}/data")
    centroids.coalesce(1).write.mode("overwrite").parquet(f"{path}/centroids")
    bounded_local_df(
        spark,
        [(m, n_codes, n_centroids, bool(residual))],
        "m int, n_codes int, n_centroids int, residual boolean",
    ).coalesce(1).write.mode("overwrite").parquet(f"{path}/meta")
    bounded_local_df(
        spark,
        [
            (j, c, [float(x) for x in cv])
            for j, book in enumerate(books)
            for c, cv in enumerate(book)
        ],
        "m int, code int, cv array<double>",
    ).coalesce(1).write.mode("overwrite").parquet(f"{path}/codebooks")


def read_codebooks(spark, index_path: str) -> list[list[list[float]]]:
    """The per-subspace codebooks of a :func:`build_ivf_pq_index`
    layout, as the plain nested lists the encode/score kernels take."""
    cb_rows = spark.read.parquet(f"{index_path}/codebooks").collect()
    n_m = 1 + max(r["m"] for r in cb_rows)
    books: list[list[list[float]]] = [[] for _ in range(n_m)]
    for r in sorted(cb_rows, key=lambda r: (r["m"], r["code"])):
        books[r["m"]].append([float(x) for x in r["cv"]])
    return books


def append_to_ivf_pq_index(
    corpus: DataFrame,
    path: str,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    assign_kernel: str = "arrow",
    encode_kernel: str = "arrow",
) -> None:
    """Append new vectors to an existing :func:`build_ivf_pq_index`
    layout WITHOUT retraining or rewriting: assign against the stored
    centroids, encode with the stored codebooks (residual layouts
    subtract the stored anchors), and parquet-append the codes into
    the partitioned data dir. Existing files are never touched, stored
    models never change, so every previously-served score is
    byte-identical after the append — the daily-increment pattern for
    a 100 TB corpus (standard IVF practice: quantizer drift is handled
    by periodic REBUILD, not by mutating a live index)."""
    from lotad_spark.pipeline.similarity import assign_to_centroids

    spark = corpus.sparkSession
    try:
        meta = spark.read.parquet(f"{path}/meta").collect()[0]
        residual = bool(meta["residual"])
    except Exception:
        residual = False  # pre-meta layout: plain
    centroids = spark.read.parquet(f"{path}/centroids")
    books = read_codebooks(spark, path)
    assigned = assign_to_centroids(
        corpus, centroids, id_col=id_col, vec_col=vec_col,
        kernel=assign_kernel,
    )
    enc_col = vec_col
    if residual:
        enc_col = "_resid"
        anchordf = spark.read.parquet(f"{path}/anchors")
        assigned = assigned.join(
            F.broadcast(anchordf), "cent_id"
        ).withColumn(
            enc_col,
            F.zip_with(
                F.col(vec_col).cast("array<double>"),
                F.col("anchor_vec"),
                lambda a, b: a - b,
            ),
        )
    encoded = pq_encode(
        assigned, books, vec_col=enc_col, kernel=encode_kernel
    )
    encoded.select(id_col, "pq_code", "cent_id").write.mode(
        "append"
    ).partitionBy("cent_id").parquet(f"{path}/data")


def ivf_pq_topk(
    spark,
    index_path: str,
    queries: DataFrame,
    k: int = 5,
    *,
    nprobe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """ADC top-k against a :func:`build_ivf_pq_index` layout.

    Probed cent_ids are collected (bounded: |queries| × nprobe ints) and
    applied as a STATIC partition filter — the scan provably touches
    only the probed partitions, and each partition holds codes, not
    vectors. Scoring is the same integer-LUT ADC as :func:`pq_topk`.

    A ``residual=True`` index (IVFADC) reconstructs through its
    cluster-mean anchor: ``v̂ = a + r̂``, so ``⟨q,v̂⟩`` adds the
    per-(query, probed cluster) scalar ``⟨q,a⟩`` and ``|v̂|²`` adds the
    per-cluster cross term ``2⟨a,r̂⟩`` — both ride in as scaled-integer
    literals (the probed set is nprobe-bounded), keeping every sum
    exact and order-independent like the plain path."""
    from pyspark.sql import Window

    from lotad_spark.pipeline.similarity import cosine

    try:
        meta = spark.read.parquet(f"{index_path}/meta").collect()[0]
        residual = bool(meta["residual"])
    except Exception:
        residual = False  # pre-meta layout: plain (non-residual) IVF-PQ

    centroids = spark.read.parquet(f"{index_path}/centroids")
    books = read_codebooks(spark, index_path)

    q = queries.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("_qvec")
    )
    probe_scored = q.crossJoin(F.broadcast(centroids)).withColumn(
        "_psim", F.round(cosine(F.col("_qvec"), F.col("cent_vec")), 6)
    )
    pw = Window.partitionBy("query_id").orderBy(
        F.desc("_psim"), F.asc("cent_id")
    )
    probes = (
        probe_scored.withColumn("_r", F.row_number().over(pw))
        .filter(F.col("_r") <= nprobe)
        .select("query_id", "cent_id")
    )
    probe_pairs = probes.collect()
    probed_ids = sorted({r.cent_id for r in probe_pairs})
    data = spark.read.parquet(f"{index_path}/data").filter(
        F.col("cent_id").isin(probed_ids)
    )
    if not residual:
        # restrict each query to ITS probed buckets via a broadcast
        # pair list
        pairdf = bounded_local_df(
            spark,
            [(r.query_id, int(r.cent_id)) for r in probe_pairs],
            _qid_schema(queries, id_col, "cent_id: int"),
        )
        return pq_topk(
            queries,
            data,  # only for the session handle; encoded passes the codes
            books,
            k,
            id_col=id_col,
            vec_col=vec_col,
            encoded=data.join(F.broadcast(pairdf), "cent_id").select(
                id_col, "pq_code", "query_id"
            ),
        )

    from lotad_spark.pipeline.similarity import _ranked_topk

    # reconstruction anchors (cluster means) — the residual base
    cent_vecs = {
        int(r["cent_id"]): [float(x) for x in r["anchor_vec"]]
        for r in spark.read.parquet(f"{index_path}/anchors").collect()
    }
    qvecs = {
        r[0]: [float(x) for x in r[1]]
        for r in queries.select(id_col, vec_col).collect()
    }
    if not qvecs:
        raise ValueError("ivf_pq_topk: empty query relation")
    sub = len(books[0][0])
    # per-query residual LUTs + self-dot (q is NOT residualized:
    # ⟨q, r̂⟩ uses the full query sub-slices)
    lut_rows = []
    for qid, qv in qvecs.items():
        luts, q2 = _quantized_luts(qv, books)
        lut_rows.append((qid, luts, q2))
    lutdf = bounded_local_df(
        spark,
        lut_rows,
        _qid_schema(
            queries, id_col, "_lut: array<array<bigint>>, _q2: double"
        ),
    )
    # per-(query, probed centroid): ⟨q,c⟩ scaled to the LUT grid
    pairdf = bounded_local_df(
        spark,
        [
            (
                r.query_id,
                int(r.cent_id),
                int(np.round(fold_dot(qvecs[r.query_id],
                                      cent_vecs[int(r.cent_id)])
                             * LUT_SCALE)),
            )
            for r in probe_pairs
        ],
        _qid_schema(queries, id_col, "cent_id: int, _qc: bigint"),
    )
    # per probed centroid: |c|² and the cross-term table
    # cdot[m][code] = ⟨c_sub_m, book_m[code]⟩ (subspaces partition the
    # dims, so ⟨c, r̂⟩ is exactly the per-subspace sum)
    cent_rows = []
    for cid in probed_ids:
        cv = cent_vecs[cid]
        cdot = [
            [
                int(np.round(fold_dot(cv[j * sub : (j + 1) * sub], code_vec)
                             * LUT_SCALE))
                for code_vec in book
            ]
            for j, book in enumerate(books)
        ]
        cent_rows.append((cid, cdot, int(np.round(self_dot(cv) * LUT_SCALE))))
    centdf = bounded_local_df(
        spark,
        cent_rows, "cent_id int, _cdot array<array<bigint>>, _c2 bigint"
    )
    dcc_lut = pq_dcc_lut(books)
    m_ = len(books)
    # SQL-text ADC sums (r18) — same contract as the pq_topk site.
    lut_sum = _adc_sum_sql("pq_code", m_, lambda j: f"get(`_lut`, {j})")
    cdot_sum = _adc_sum_sql("pq_code", m_, lambda j: f"get(`_cdot`, {j})")
    dcc_sum = _adc_sum_sql(
        "pq_code",
        m_,
        lambda j: "array(" + ", ".join(f"{x}L" for x in dcc_lut[j]) + ")",
    )
    ip_sum = F.col("_qc") + lut_sum
    vnorm_sum = F.col("_c2") + 2 * cdot_sum + dcc_sum
    scored = (
        data.join(F.broadcast(pairdf), "cent_id")
        .join(F.broadcast(lutdf), "query_id")
        .join(F.broadcast(centdf), "cent_id")
        .filter(F.col(id_col) != F.col("query_id"))
        .withColumn(
            "sim",
            F.round(
                (ip_sum.cast("double") / F.lit(float(LUT_SCALE)))
                / F.sqrt(
                    F.col("_q2")
                    * (vnorm_sum.cast("double") / F.lit(float(LUT_SCALE)))
                ),
                6,
            ),
        )
    )
    return _ranked_topk(scored, k, id_col=id_col).select(
        "query_id", id_col, "sim"
    )
