"""Hashed linear quality classifier — the fastText-style scorer
(Joulin et al. 2016, "Bag of Tricks for Efficient Text Classification",
public) that CCNet and most web-scale corpora pair with rule stacks
like Gopher: logistic regression over hashed unigram+bigram buckets,
trained on a small labeled set, scoring billions of documents.

Division of labor (the ``pipeline.kmeans`` precedent):

* **Training is driver-side over a BOUNDED deterministic sample** —
  quality classifiers train on curated labeled sets (thousands of
  docs), not the corpus; full-batch gradient descent in numpy over the
  first ``sample_size`` labeled rows in id order is RNG-free and
  bit-reproducible, so a SQL oracle re-running
  :func:`train_quality_classifier` on the same rows (read via DuckDB)
  embeds byte-identical weight literals. A distributed trainer
  (:func:`train_quality_classifier_distributed`) covers labeled sets
  too big to collect: per-iteration one doc-keyed shuffle of the
  REDUCED feature relation plus one bucket-bounded gradient
  aggregation — deterministic up to float-sum order (last-ulp), which
  is why the ORACLE path uses the driver trainer.
* **Scoring is distributed and exact**: features come from
  :func:`~lotad_spark.pipeline.dsir.ngram_features` (hashed md5
  buckets, map-side-combined to ``(doc, bucket, tf)`` before any
  exchange — raw text never shuffles), weights join in as a broadcast
  ``buckets``-row relation of DECIMAL(18,6) micro-units, the per-doc
  sum is exact integer arithmetic, and the mean logit finishes with
  the repo's HALF_UP micro-unit division (engine-boundary-proof — see
  ``text._avg_micros_6dp``). The logit, not the sigmoid, is the
  oracle-checked value: ``exp`` is the one libm call engines disagree
  on in the last ulp, and ``pred`` needs only the logit's sign.

Scale: scoring is one broadcast join + one doc-keyed aggregation of
pre-reduced rows — the exact DSIR scoring shape, measured linear in
corpus size with a 4096-row broadcast state.
"""

from __future__ import annotations

import hashlib
import re

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from lotad_spark.pipeline.dsir import DEFAULT_BUCKETS, ngram_features
from lotad_spark.pipeline._share import share_corpus
from lotad_spark.sources.memory import bounded_local_df

DEFAULT_ITERS = 30
DEFAULT_LR = 0.5
DEFAULT_SAMPLE_SIZE = 512
_MICRO = 1_000_000

# Java's ASCII \s — the repo tokenization convention (text.tokens):
# trim strips SPACES only, then split on [ \t\n\x0B\f\r]+ and drop
# empty tokens. Replicated here so driver-side featurization buckets
# exactly like the Spark/SQL scoring expressions.
_WS_RE = re.compile(r"[ \t\n\x0b\f\r]+")


def hash_bucket(gram: str, buckets: int = DEFAULT_BUCKETS) -> int:
    """``uint32(md5(gram)[:8]) % buckets`` — the dsir bucket
    convention, one definition for driver featurization, the Spark
    expression, and the SQL oracle."""
    return int(hashlib.md5(gram.encode()).hexdigest()[:8], 16) % buckets


def featurize_text(
    text: str | None, buckets: int = DEFAULT_BUCKETS
) -> dict[int, int]:
    """Driver-side replica of :func:`ngram_features` for one document:
    hashed unigram+bigram counts. Lowercasing is ASCII-safe for the
    convention (SQL ``lower`` and Python ``str.lower`` agree on ASCII;
    the training sample defines which buckets carry weight, and both
    oracle and Spark trainers run THIS function, so any non-ASCII
    divergence from SQL lower cannot split the literals)."""
    if text is None:
        return {}
    toks = [t for t in _WS_RE.split(text.lower().strip(" ")) if t]
    grams = toks + [
        f"{a} {b}" for a, b in zip(toks, toks[1:])
    ]
    out: dict[int, int] = {}
    for g in grams:
        b = hash_bucket(g, buckets)
        out[b] = out.get(b, 0) + 1
    return out


def train_quality_classifier(
    rows: list[tuple[str | None, int]],
    *,
    buckets: int = DEFAULT_BUCKETS,
    iters: int = DEFAULT_ITERS,
    lr: float = DEFAULT_LR,
) -> tuple[list[float], float]:
    """Deterministic full-batch logistic regression over the hashed
    mean-of-features representation (the fastText model with the
    hashing trick): ``rows`` is the bounded labeled sample as
    ``(text, label∈{0,1})``. Returns ``(weights[buckets], bias)`` as
    plain floats — RNG-free init (zeros), fixed iteration count, numpy
    float64 throughout, so retraining on the same rows anywhere yields
    bit-identical constants (the kmeans determinism contract)."""
    import numpy as np

    n = len(rows)
    if n == 0:
        raise ValueError("train_quality_classifier: empty sample")
    X = np.zeros((n, buckets), dtype=np.float64)
    y = np.zeros(n, dtype=np.float64)
    for i, (text, label) in enumerate(rows):
        feats = featurize_text(text, buckets)
        total = sum(feats.values())
        if total:
            for b, tf in feats.items():
                X[i, b] = tf / total
        y[i] = float(label)
    w = np.zeros(buckets, dtype=np.float64)
    b = 0.0
    for _ in range(iters):
        z = X @ w + b
        p = 1.0 / (1.0 + np.exp(-z))
        err = p - y
        w -= lr * (X.T @ err) / n
        b -= lr * float(err.sum()) / n
    return [float(x) for x in w], float(b)


def train_quality_classifier_sampled(
    df: DataFrame,
    label_col: str,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    buckets: int = DEFAULT_BUCKETS,
    iters: int = DEFAULT_ITERS,
    lr: float = DEFAULT_LR,
    sample_size: int = DEFAULT_SAMPLE_SIZE,
) -> tuple[list[float], float]:
    """Train on the first ``sample_size`` labeled rows in id order —
    the bounded deterministic sample an oracle can re-read through any
    engine. ``label_col`` must be 0/1 (or boolean)."""
    rows = [
        (r[0], int(r[1]))
        for r in df.select(text_col, F.col(label_col).cast("int"))
        .orderBy(F.asc(id_col))
        .limit(sample_size)
        .collect()
    ]
    return train_quality_classifier(
        rows, buckets=buckets, iters=iters, lr=lr
    )


def train_quality_classifier_distributed(
    df: DataFrame,
    label_col: str,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    buckets: int = DEFAULT_BUCKETS,
    iters: int = DEFAULT_ITERS,
    lr: float = DEFAULT_LR,
) -> tuple[list[float], float]:
    """The same model trained by driver-side iterations over
    DISTRIBUTED gradient aggregates, for labeled sets too large to
    collect: each iteration broadcasts the current weights
    (``buckets`` rows), computes per-doc probabilities JVM-side, and
    aggregates the gradient per bucket — a relation bounded at
    ``buckets`` rows regardless of corpus size (map-side combined), so
    driver traffic is O(buckets) per iteration. Deterministic up to
    float-sum ordering (last-ulp; pinned within tolerance against the
    driver trainer in tests) — use :func:`train_quality_classifier` /
    ``_sampled`` when bit-reproducibility matters (the oracle path).
    The reduced feature relation is shared ONCE (share_corpus) and
    reused across all iterations — text is featurized a single time.
    """
    spark = df.sparkSession
    labeled = df.select(
        id_col, text_col, F.col(label_col).cast("double").alias("_y")
    )
    feats = (
        ngram_features(
            labeled, id_col=id_col, text_col=text_col, buckets=buckets
        )
        .join(
            labeled.select(id_col, "_y"), id_col
        )
        .withColumn(
            "_x",
            F.col("tf").cast("double")
            / F.sum("tf").over(Window.partitionBy(id_col)),
        )
    )
    feats = share_corpus(feats)
    # Count the FULL labeled set (not distinct feature ids): gram-less
    # docs divide into the gradient exactly as in the driver trainer.
    n_docs = labeled.count()
    import numpy as np

    w = np.zeros(buckets, dtype=np.float64)
    b = 0.0
    for _ in range(iters):
        wdf = bounded_local_df(
            spark,
            [(i, float(x)) for i, x in enumerate(w)],
            "bucket bigint, _w double",
        )
        per_doc_z = (
            feats.join(F.broadcast(wdf), "bucket")
            .groupBy(id_col)
            .agg(F.sum(F.col("_x") * F.col("_w")).alias("_zs"))
        )
        # Left join from the FULL labeled set: a gram-less document has
        # no feature rows but still contributes sigmoid(b) − y to the
        # bias gradient (the driver trainer includes it — dropping it
        # here would silently diverge the two trainers on any labeled
        # set containing empty/whitespace docs).
        scored = (
            labeled.select(id_col, "_y")
            .join(per_doc_z, id_col, "left")
            .withColumn(
                "_z", F.coalesce(F.col("_zs"), F.lit(0.0)) + F.lit(b)
            )
            .withColumn(
                "_err", F.lit(1.0) / (F.lit(1.0) + F.exp(-F.col("_z"))) - F.col("_y")
            )
        )
        grad_rows = (
            feats.join(scored.select(id_col, "_err"), id_col)
            .groupBy("bucket")
            .agg(F.sum(F.col("_x") * F.col("_err")).alias("_g"))
            .collect()
        )
        bias_g = scored.agg(F.sum("_err")).collect()[0][0] or 0.0
        g = np.zeros(buckets, dtype=np.float64)
        for r in grad_rows:
            g[r["bucket"]] = r["_g"]
        w -= lr * g / n_docs
        b -= lr * float(bias_g) / n_docs
    return [float(x) for x in w], float(b)


def score_quality_classifier(
    df: DataFrame,
    weights: list[float],
    bias: float,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    buckets: int | None = None,
) -> DataFrame:
    """Distributed, engine-exact scoring:
    ``(id, n_grams, logit, pred, score)`` per document with at least
    one gram; ``logit = bias + mean_g w[bucket(g)]`` computed entirely
    in integer micro-units — weights round to DECIMAL(18,6) (identical
    literals in the SQL oracle), the per-doc weighted sum is exact
    decimal arithmetic, and the mean applies the repo's HALF_UP
    integer division, so the logit is an exactly-representable
    multiple of 1e-6 on every engine. ``pred = logit > 0``
    (probability 0.5); ``score = sigmoid(logit)`` is a CONVENIENCE
    column (libm exp — engine-reproducibility not claimed; compare
    logits, not scores, across engines).

    Only the ≤ ``buckets`` NONZERO weights enter the broadcast
    relation; absent buckets contribute 0 via the inner join dropping
    them — identical result, smaller broadcast."""
    spark = df.sparkSession
    n_buckets = buckets or len(weights)
    if len(weights) != n_buckets:
        raise ValueError(
            "score_quality_classifier: len(weights) != buckets"
        )
    # HALF_EVEN-free micro-unit quantization: one shared Python
    # round-half-up so Spark and the oracle embed identical decimals.
    wrows = [
        (i, _round6(x)) for i, x in enumerate(weights) if _round6(x) != 0.0
    ]
    wdf = bounded_local_df(
        spark,
        wrows or [(0, 0.0)], "bucket bigint, w double"
    ).select("bucket", F.col("w").cast("decimal(18,6)").alias("w"))
    feats = ngram_features(
        df, id_col=id_col, text_col=text_col, buckets=n_buckets
    )
    agg = (
        feats.join(F.broadcast(wdf), "bucket", "left")
        .groupBy(id_col)
        .agg(
            F.sum("tf").cast("bigint").alias("n_grams"),
            F.sum(
                F.col("tf")
                * F.coalesce(F.col("w"), F.lit(0).cast("decimal(18,6)"))
            ).alias("_sw"),
        )
    )
    sm = (F.col("_sw") * F.lit(_MICRO)).cast("bigint")
    n = F.col("n_grams")
    x = F.lit(2) * F.abs(sm) + n
    d = F.lit(2) * n
    q = ((x - x % d) / d).cast("bigint")
    avg_micro = F.when(sm < F.lit(0), -q).otherwise(q)
    logit_micro = avg_micro + F.lit(int(round(_round6(bias) * _MICRO)))
    staged = agg.select(
        F.col(id_col),
        F.col("n_grams"),
        (logit_micro.cast("double") / F.lit(float(_MICRO))).alias(
            "logit"
        ),
    )
    return staged.select(
        id_col,
        "n_grams",
        "logit",
        (F.col("logit") > 0).alias("pred"),
        (
            F.lit(1.0) / (F.lit(1.0) + F.exp(-F.col("logit")))
        ).alias("score"),
    )


def _round6(x: float) -> float:
    """Decimal HALF_UP at 6 places (NOT Python round's banker's
    rounding) — matches DECIMAL(18,6) casting semantics."""
    import decimal

    return float(
        decimal.Decimal(repr(float(x))).quantize(
            decimal.Decimal("0.000001"),
            rounding=decimal.ROUND_HALF_UP,
        )
    )
