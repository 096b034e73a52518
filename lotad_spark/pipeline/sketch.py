"""Sublinear-state sketches: count-min (frequency) + Bloom (membership).

Cormode & Muthukrishnan 2005, "An improved data stream summary: the
count-min sketch and its applications" (J. Algorithms — public): a
depth × width grid of integer counters; every item increments ONE
counter per row (``counter[d][hash_d(x)] += 1``) and
``estimate(x) = min_d counter[d][hash_d(x)]`` — never an undercount
(every cell an item touches holds its true count plus non-negative
collision mass), overcount bounded by εN with probability 1−δ at
width=⌈e/ε⌉, depth=⌈ln 1/δ⌉.

Why this matters at 100 TB: exact term frequencies shuffle on the TERM
VOCABULARY — billions of keys for a web corpus. The sketch's aggregation
state is depth·width integers NO MATTER the corpus: map-side combine
collapses each partition to ≤ depth·width cells before the exchange, the
merged sketch is a few KB, and sketches of independent shards/days merge
by cell-wise addition (the mergeable-summaries property) — so frequency
monitoring over a growing corpus never re-reads old text.

Determinism (the repo's oracle contract): ``hash_d(tok)`` is the first
8 md5 hex chars of ``'d:' + tok`` mod width — the md5 idiom shared with
the MinHash/LSH family, bit-identical in any engine — and every counter
is an exact integer sum, so build, merge, and estimate all replay
exactly in SQL.

The Bloom filter (Bloom 1970, CACM — public) is the membership sibling:
n_bits bits, k=n_hashes positions per item, ``contains`` = all k bits
set — NO false negatives ever (every inserted item's bits are set),
false-positive rate ≈ (1 − e^{−kn/m})^k tunable by sizing n_bits. The
100 TB use is ingest-time membership at state ≪ the key set: "is this
URL/doc hash/benchmark n-gram already in the corpus" as a broadcast
bitmap instead of a join against billions of keys. Same md5 idiom, same
exact-integer replayability (bits pack into 32-bits-per-bigint words
OR-aggregated — bit_or is associative/commutative, so the build is
partitioning-proof and shard filters merge by cell-wise OR).

Tokenization matches ``pipeline.text``: lowercased whitespace tokens.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from lotad_spark.pipeline.text import tokens
from lotad_spark.sources.memory import bounded_local_df

CMS_DEPTH = 4
CMS_WIDTH = 1024


def _bucket(tok: Column, row: int, width: int) -> Column:
    """Row ``row``'s bucket for a token: first-8-hex-of-md5('row:tok')
    mod width — an unsigned 32-bit value, exact in bigint."""
    return (
        F.conv(
            F.substring(
                F.md5(F.concat(F.lit(f"{row}:"), tok)), 1, 8
            ),
            16,
            10,
        ).cast("bigint")
        % width
    )


def _token_stream(
    df: DataFrame, text_col: str
) -> DataFrame:
    return df.select(
        F.explode(
            F.filter(
                tokens(F.lower(F.coalesce(F.col(text_col), F.lit("")))),
                lambda w: w != "",
            )
        ).alias("_tok")
    )


def cms_build(
    df: DataFrame,
    text_col: str = "text",
    *,
    depth: int = CMS_DEPTH,
    width: int = CMS_WIDTH,
) -> DataFrame:
    """Sketch a corpus's token stream into a (row, bucket, cnt) relation
    of at most depth·width rows.

    Plan shape: one scan → explode tokens → explode the depth (row,
    bucket) cells per token → ONE aggregation whose key space is
    depth·width regardless of vocabulary — partial aggregation collapses
    each input partition to the sketch grid before the exchange, so the
    shuffle carries ≤ partitions·depth·width rows, never the corpus."""
    cells = _token_stream(df, text_col).select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(d).alias("row"),
                        _bucket(F.col("_tok"), d, width).alias("bucket"),
                    )
                    for d in range(depth)
                ]
            )
        ).alias("c")
    )
    return (
        cells.select(
            F.col("c.row").alias("row"), F.col("c.bucket").alias("bucket")
        )
        .groupBy("row", "bucket")
        .agg(F.count(F.lit(1)).cast("bigint").alias("cnt"))
    )


def cms_merge(*sketches: DataFrame) -> DataFrame:
    """Cell-wise sum of independently-built sketches — the
    mergeable-summaries property: sketch(A) ⊕ sketch(B) ≡ sketch(A ∪ B)
    exactly (integer sums commute), pinned in tests. The
    daily-increment loop: sketch the new shard, merge, done — old text
    is never re-read.

    CONTRACT: every input must share the same depth/width. The relation
    carries no grid metadata, so a mismatch cannot be fully detected
    here and silently UNDERCOUNTS at estimate time (old-grid buckets
    never line up with new probes, and min-over-rows takes the hole).
    The `term-sketch` CLI rejects the detectable direction (cells
    outside the declared grid); keep depth/width constant per index."""
    if not sketches:
        raise ValueError("cms_merge: no sketches")
    merged = sketches[0]
    for s in sketches[1:]:
        merged = merged.unionByName(s)
    return merged.groupBy("row", "bucket").agg(
        F.sum("cnt").cast("bigint").alias("cnt")
    )


def cms_estimate(
    sketch: DataFrame,
    terms: DataFrame,
    term_col: str = "term",
    *,
    depth: int = CMS_DEPTH,
    width: int = CMS_WIDTH,
) -> DataFrame:
    """(term, est) for a bounded query vocabulary: est = min over the
    depth rows of the term's cell (a cell no query term hashes into is
    never read; a term absent from the stream min-coalesces with its
    empty cells to 0 — the no-undercount guarantee holds trivially).

    The probe relation is |terms|·depth rows against the ≤ depth·width
    sketch — both bounded, so the join broadcasts and the final min
    groups a tiny relation; corpus text is never touched at probe
    time."""
    probes = terms.select(
        F.col(term_col),
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(d).alias("row"),
                        _bucket(F.col(term_col), d, width).alias(
                            "bucket"
                        ),
                    )
                    for d in range(depth)
                ]
            )
        ).alias("c"),
    ).select(term_col, F.col("c.row").alias("row"), F.col("c.bucket").alias("bucket"))
    return (
        probes.join(F.broadcast(sketch), ["row", "bucket"], "left")
        .groupBy(term_col)
        .agg(
            F.min(F.coalesce(F.col("cnt"), F.lit(0)))
            .cast("bigint")
            .alias("est")
        )
    )


BLOOM_BITS = 8192
BLOOM_HASHES = 4


def bloom_build_terms(
    terms: DataFrame,
    term_col: str = "term",
    *,
    n_bits: int = BLOOM_BITS,
    n_hashes: int = BLOOM_HASHES,
) -> DataFrame:
    """Bloom filter of an arbitrary string column (already-tokenized
    terms, shingles, URLs, doc hashes) as a (word, bits) relation —
    the building block :func:`bloom_build` wraps with tokenization.
    NULL terms are dropped (a NULL hashes to a NULL position, which
    would otherwise surface as a null map key in
    :func:`bloom_prefilter` and kill the job)."""
    positions = terms.filter(F.col(term_col).isNotNull()).select(
        F.explode(
            F.array(
                *[
                    _bucket(F.col(term_col), d, n_bits)
                    for d in range(n_hashes)
                ]
            )
        ).alias("pos")
    )
    return (
        positions.select(
            F.expr("pos div 32").cast("bigint").alias("word"),
            F.expr(
                "shiftleft(CAST(1 AS BIGINT), CAST(pos % 32 AS INT))"
            ).alias("_m"),
        )
        .groupBy("word")
        .agg(F.bit_or("_m").cast("bigint").alias("bits"))
    )


def bloom_build(
    df: DataFrame,
    text_col: str = "text",
    *,
    n_bits: int = BLOOM_BITS,
    n_hashes: int = BLOOM_HASHES,
) -> DataFrame:
    """Bloom filter of the corpus token stream as a (word, bits)
    relation: bit position ``hash_d(tok) = md5('d:tok')[:8] mod n_bits``
    packs into 32-bits-per-bigint words (word = pos div 32), so the
    whole filter is ≤ n_bits/32 rows regardless of corpus size.

    Plan shape mirrors :func:`cms_build`: scan → explode tokens →
    explode the n_hashes positions → ONE bit_or aggregation whose key
    space is the word grid — map-side combine collapses each partition
    to ≤ n_bits/32 rows before the exchange. 32-bit packing (not 64)
    keeps every mask positive in a signed bigint in BOTH engines, so
    the SQL replay needs no sign gymnastics."""
    return bloom_build_terms(
        _token_stream(df, text_col),
        "_tok",
        n_bits=n_bits,
        n_hashes=n_hashes,
    )


def bloom_prefilter(
    df: DataFrame,
    bloom: DataFrame,
    col: str,
    *,
    n_bits: int = BLOOM_BITS,
    n_hashes: int = BLOOM_HASHES,
) -> DataFrame:
    """Keep only the rows of a CORPUS-SIZED relation whose ``col``
    MIGHT be in the filter — the Bloom use case at 100 TB: the filter
    packs into ONE map row (word → bits, built in-plan with
    map_from_entries) that broadcasts to every task, and membership is
    element_at + bitwise tests — pure JVM expressions inside the scan
    stage, no join keyed by the probed column, no shuffle of ``df``.

    No false negatives ⇒ composing this in front of an EXACT operator
    never changes its output (pinned in tests); false positives only
    cost the downstream operator wasted rows, never correctness. Size
    n_bits ≈ 10× the filter's item count for ~1% waste."""
    from functools import reduce
    from operator import and_

    packed = bloom.agg(
        F.map_from_entries(
            F.collect_list(F.struct("word", "bits"))
        ).alias("_bloom")
    )
    probed = df.crossJoin(F.broadcast(packed))
    checks = []
    for d in range(n_hashes):
        pos = _bucket(F.col(col), d, n_bits)
        # pos < 2^32, so the double-division word index is exact
        word = ((pos - pos % 32) / 32).cast("bigint")
        mask = F.pow(F.lit(2.0), (pos % 32).cast("double")).cast(
            "bigint"
        )  # 2^(pos%32) ≤ 2^31: exact in double
        checks.append(
            F.coalesce(
                F.element_at(F.col("_bloom"), word), F.lit(0)
            ).bitwiseAND(mask)
            != 0
        )
    return probed.filter(reduce(and_, checks)).drop("_bloom")


def bloom_merge(*filters: DataFrame) -> DataFrame:
    """Cell-wise OR of independently-built filters (same n_bits /
    n_hashes): bloom(A) ∪ bloom(B) ≡ bloom(A ∪ B) exactly (OR is
    associative/commutative/idempotent), pinned in tests — shard/day
    filters merge without re-reading old text."""
    if not filters:
        raise ValueError("bloom_merge: no filters")
    merged = filters[0]
    for f in filters[1:]:
        merged = merged.unionByName(f)
    return merged.groupBy("word").agg(
        F.bit_or("bits").cast("bigint").alias("bits")
    )


def bloom_contains(
    bloom: DataFrame,
    terms: DataFrame,
    term_col: str = "term",
    *,
    n_bits: int = BLOOM_BITS,
    n_hashes: int = BLOOM_HASHES,
) -> DataFrame:
    """(term, present) for a bounded query vocabulary: present ⇔ ALL
    n_hashes bit positions are set. An inserted term is ALWAYS present
    (no false negatives — the Bloom guarantee, driver-value-checked);
    an absent term is a deterministic function of the collision pattern
    (false positives possible, rate set by n_bits sizing).

    The probe relation is |terms|·n_hashes rows against the ≤ n_bits/32
    word relation — the filter broadcasts, the final all-bits-set check
    groups a tiny relation, corpus text is never touched."""
    probes = terms.select(
        F.col(term_col),
        F.explode(
            F.array(
                *[
                    _bucket(F.col(term_col), d, n_bits)
                    for d in range(n_hashes)
                ]
            )
        ).alias("pos"),
    ).select(
        term_col,
        F.expr("pos div 32").cast("bigint").alias("word"),
        F.expr(
            "shiftleft(CAST(1 AS BIGINT), CAST(pos % 32 AS INT))"
        ).alias("_m"),
    )
    hit = (
        F.coalesce(F.col("bits"), F.lit(0)).bitwiseAND(F.col("_m")) != 0
    ).cast("int")
    return (
        probes.join(F.broadcast(bloom), ["word"], "left")
        .groupBy(term_col)
        .agg((F.min(hit) == 1).alias("present"))
    )


# ---------------------------------------------------------------------------
# Persisted sketch index: the stored-layout face (the BM25/IVF
# precedent) that makes the grid contract STRUCTURAL. cms_merge /
# bloom_merge document that merging sketches of different grids
# silently undercounts; the index stores the grid WITH the sketch, so
# every probe/append/merge reads its parameters from meta and a
# mismatched-grid merge is rejected by comparison instead of relying
# on out-of-band bookkeeping.
# ---------------------------------------------------------------------------


def _sketch_meta(spark, depth, width, n_bits, n_hashes, n_docs):
    return bounded_local_df(
        spark,
        [(int(depth), int(width), int(n_bits), int(n_hashes),
          int(n_docs))],
        "depth int, width int, n_bits int, n_hashes int, n_docs bigint",
    )


def write_sketch_index(
    df: DataFrame,
    path: str,
    text_col: str = "text",
    *,
    depth: int = CMS_DEPTH,
    width: int = CMS_WIDTH,
    n_bits: int = BLOOM_BITS,
    n_hashes: int = BLOOM_HASHES,
) -> None:
    """Materialize the ingest-monitoring state for a corpus: the
    count-min grid (``cms/``: row, bucket, cnt), the Bloom membership
    bitmap (``bloom/``: word, bits), and ``meta/`` — ONE row carrying
    (depth, width, n_bits, n_hashes, n_docs). The corpus tokenizes
    once at build; every later estimate/membership probe reads back a
    few KB of grid state and its parameters — text never re-enters a
    plan, and a caller can no longer probe or merge with the wrong
    grid because the grid travels with the data."""
    spark = df.sparkSession

    # The three builds are independent jobs over the same corpus (two
    # tokenize+aggregate passes and a count) writing to disjoint
    # subdirectories — submit them concurrently so each job's task tail
    # back-fills the executors the others leave idle (guide §2.6
    # overlap-independent-jobs; Spark's FIFO scheduler interleaves them
    # naturally). Output is byte-identical to the sequential form.
    # The caller thread's JVM-local scheduler properties (job group /
    # description / FAIR pool) are captured here and re-applied inside
    # each worker: pool threads do NOT inherit them, so without this a
    # caller's cancelJobGroup would never reach the builds. On first
    # failure the sibling futures are cancelled (best-effort — a job
    # already submitted to the JVM runs to completion, but queued ones
    # are dropped) so a failed build surfaces without burning the rest.
    from concurrent.futures import ThreadPoolExecutor, wait, FIRST_EXCEPTION

    sc = spark.sparkContext
    caller_props = {
        k: sc.getLocalProperty(k)
        for k in (
            "spark.jobGroup.id",
            "spark.job.description",
            "spark.job.interruptOnCancel",
            "spark.scheduler.pool",
        )
    }

    def _with_props(fn):
        def run() -> None:
            for k, v in caller_props.items():
                if v is not None:
                    sc.setLocalProperty(k, v)
            fn()

        return run

    def _write_cms() -> None:
        cms_build(df, text_col, depth=depth, width=width).write.mode(
            "overwrite"
        ).parquet(f"{path}/cms")

    def _write_bloom() -> None:
        bloom_build(
            df, text_col, n_bits=n_bits, n_hashes=n_hashes
        ).write.mode("overwrite").parquet(f"{path}/bloom")

    def _write_meta() -> None:
        _sketch_meta(
            spark, depth, width, n_bits, n_hashes, df.count()
        ).coalesce(1).write.mode("overwrite").parquet(f"{path}/meta")

    with ThreadPoolExecutor(max_workers=3) as pool:
        futures = [
            pool.submit(_with_props(f))
            for f in (_write_cms, _write_bloom, _write_meta)
        ]
        done, not_done = wait(futures, return_when=FIRST_EXCEPTION)
        if any(f.exception() for f in done):
            for f in not_done:
                f.cancel()
        for fut in futures:
            if not fut.cancelled():
                fut.result()


def read_sketch_meta(spark, path: str) -> dict:
    """The index's grid parameters as a plain dict — served through
    the ``meta.old`` crash-window fallback shared with the BM25
    layout (:func:`~lotad_spark.pipeline.retrieval._read_meta`)."""
    from lotad_spark.pipeline.retrieval import _read_meta

    row = _read_meta(spark, f"{path}/meta").collect()[0]
    return {k: row[k] for k in row.asDict()}


def append_to_sketch_index(
    df: DataFrame,
    path: str,
    text_col: str = "text",
) -> None:
    """Sketch a new document batch and fold it into a live index
    WITHOUT re-reading the existing corpus — the mergeable-summaries
    property made operational: the batch builds on the grid read from
    ``meta`` (so a parameter drift is impossible by construction),
    merges cell-wise with the stored few-KB state, and swaps each
    directory into place with the BM25 rename-swap
    (:func:`~lotad_spark.pipeline.retrieval._replace_dir` — readers
    fall back to ``.old`` in the crash window). Probe-after-append is
    bit-identical to a fresh build over the union (pinned in tests).

    Swap order: cms, bloom, then meta (meta's grid never changes on
    append; only n_docs advances, so a crash between swaps leaves a
    servable index whose n_docs lags — advisory, never correctness).
    Crash RECOVERY is re-running the append, and that is safe within
    each sketch's own contract: the Bloom cell-wise OR is idempotent
    (re-appending changes nothing), and a re-applied CMS batch can
    only OVERCOUNT the affected cells — the count-min guarantee is
    never-undercount, which double-counting preserves. A crash after
    the cms swap but before the bloom swap briefly serves a bloom
    missing the batch's members; the re-run closes it."""
    from lotad_spark.pipeline.retrieval import _read_meta, _replace_dir

    spark = df.sparkSession
    meta = _read_meta(spark, f"{path}/meta").collect()[0]
    batch_cms = cms_build(
        df, text_col, depth=meta["depth"], width=meta["width"]
    )
    batch_bloom = bloom_build(
        df, text_col, n_bits=meta["n_bits"], n_hashes=meta["n_hashes"]
    )
    cms_merge(
        spark.read.parquet(f"{path}/cms"), batch_cms
    ).write.mode("overwrite").parquet(f"{path}/cms.tmp")
    bloom_merge(
        spark.read.parquet(f"{path}/bloom"), batch_bloom
    ).write.mode("overwrite").parquet(f"{path}/bloom.tmp")
    _replace_dir(spark, f"{path}/cms.tmp", f"{path}/cms")
    _replace_dir(spark, f"{path}/bloom.tmp", f"{path}/bloom")
    _sketch_meta(
        spark,
        meta["depth"],
        meta["width"],
        meta["n_bits"],
        meta["n_hashes"],
        int(meta["n_docs"]) + df.count(),
    ).coalesce(1).write.mode("overwrite").parquet(f"{path}/meta.tmp")
    _replace_dir(spark, f"{path}/meta.tmp", f"{path}/meta")


def sketch_index_estimate(
    spark,
    path: str,
    terms: DataFrame,
    term_col: str = "term",
) -> DataFrame:
    """CMS frequency estimates off a stored index — the grid comes
    from ``meta``, so probing with the wrong width is impossible."""
    meta = read_sketch_meta(spark, path)
    return cms_estimate(
        spark.read.parquet(f"{path}/cms"),
        terms,
        term_col,
        depth=meta["depth"],
        width=meta["width"],
    )


def sketch_index_contains(
    spark,
    path: str,
    terms: DataFrame,
    term_col: str = "term",
) -> DataFrame:
    """Bloom membership off a stored index (meta-derived grid)."""
    meta = read_sketch_meta(spark, path)
    return bloom_contains(
        spark.read.parquet(f"{path}/bloom"),
        terms,
        term_col,
        n_bits=meta["n_bits"],
        n_hashes=meta["n_hashes"],
    )


def heavy_hitters(
    df: DataFrame,
    text_col: str = "text",
    phi: float = 0.001,
) -> DataFrame:
    """EXACT φ-heavy hitters over the corpus token stream — every token
    whose count is ≥ ⌈φ·N⌉ (N = total tokens), with its exact count —
    while shuffling only CANDIDATES, never the vocabulary.

    The 100 TB problem: ``groupBy(token)`` shuffles the whole term
    vocabulary (billions of keys for a web corpus) to answer a question
    whose output is a handful of rows. The classic two-phase fix
    (Misra & Gries 1982, "Finding repeated elements", Sci. Comput.
    Program.; merge rule from Agarwal et al. 2012, "Mergeable
    summaries", PODS — both public):

    1. **Candidate generation, zero shuffle**: each partition folds its
       token stream through a k-counter Misra–Gries summary
       (k = ⌈1/φ⌉) inside one Arrow ``mapInPandas`` pass — per batch, a
       vectorized ``value_counts`` is itself an exact summary, merged
       into the running one by the mergeable-summaries rule (add
       counts; if > k survive, subtract the (k+1)-th largest and drop
       ≤ 0). MG guarantees any token with partition-local frequency
       share > 1/(k+1) survives; a token with GLOBAL share ≥ φ has
       local share ≥ φ on at least one partition (its share is a
       weighted average over partitions), and φ > 1/(k+1) by choice of
       k — so the union of per-partition survivors is a SUPERSET of
       the true heavy hitters. Output: ≤ k tokens per partition, plus
       ONE trailing count row carrying the partition's token total —
       the global N for the ⌈φ·N⌉ threshold rides the same pass
       instead of costing a second full corpus scan+tokenize (r13
       VERDICT item 5). The summary collects to the driver in one
       action — the same megabytes the candidate broadcast ships
       anyway — leaving nothing cached (a persist-based variant leaks
       one pinned InMemoryRelation per call; r14 review finding).
    2. **Exact verification**: the candidate set (≤ k·P rows — at
       k=1000 and 1000 executors ~1M short strings, megabytes) is
       semi-broadcast back over the stream; one map-side-combined
       ``groupBy`` over candidate hits only computes exact counts, and
       the ⌈φ·N⌉ threshold keeps the true heavy hitters.

    The result is EXACT and partitioning-independent: MG only PRUNES
    (a different partitioning yields a different candidate superset,
    but verification counts are exact and the threshold is global), so
    the oracle is plain GROUP BY / HAVING SQL. Emits
    ``(token, n_occurrences, n_tokens_total)`` — counts, not a float
    share, so there is no rounding boundary to disagree on
    (engine-boundary discipline). Tokenization is the repo convention:
    lowercased, whitespace-split, empty tokens dropped (the
    ``cms_build`` stream).

    φ < 1e-6 is refused: k counters live in executor memory and a
    million-counter dict stops being a "summary"; shard the corpus and
    merge summaries instead (the mergeable rule above is exactly the
    shard-merge operator).
    """
    import math

    import pandas as pd

    from lotad_spark.pipeline.text import tokens

    if not (0.0 < phi <= 1.0):
        raise ValueError(f"heavy_hitters: phi must be in (0, 1], got {phi}")
    if phi < 1e-6:
        raise ValueError(
            "heavy_hitters: phi < 1e-6 means >1M driver-side counters "
            "per partition — shard the corpus and merge MG summaries "
            "instead"
        )
    k = math.ceil(1.0 / phi)
    tok_array = F.filter(
        tokens(F.lower(F.coalesce(F.col(text_col), F.lit("")))),
        lambda w: w != "",
    )
    toks = df.select(F.explode(tok_array).alias("token"))

    def mg(batches):
        counters = pd.Series(dtype="int64")
        n_part = 0
        for pdf in batches:
            n_part += len(pdf)
            merged = counters.add(pdf["token"].value_counts(), fill_value=0)
            if len(merged) > k:
                cut = merged.nlargest(k + 1).iloc[-1]
                merged = merged - cut
                merged = merged[merged > 0]
            counters = merged
        # one trailing count row per partition (token NULL): the MG
        # pass already saw every token, so the global N rides along
        # instead of costing a second full corpus scan+tokenize
        n_cand = len(counters)
        yield pd.DataFrame(
            {
                "token": list(counters.index.astype(str)) + [None],
                "n_part": pd.array(
                    [None] * n_cand + [int(n_part)], dtype="Int64"
                ),
            }
        )

    # ONE corpus pass materializes the ≤(k+1)·P-row summary straight
    # to the driver — the same megabytes the candidate broadcast ships
    # anyway — so N and the candidate set come from one action with
    # NOTHING left cached (a persist here leaks an InMemoryRelation
    # per call until the plan is GC'd; r14 review finding)
    summary = toks.mapInPandas(
        mg, schema="token string, n_part bigint"
    ).collect()
    n_total = sum(r.n_part for r in summary if r.n_part is not None)
    cand_tokens = sorted(
        {r.token for r in summary if r.token is not None}
    )
    candidates = bounded_local_df(
        df.sparkSession,
        [(t,) for t in cand_tokens], "token string"
    )
    threshold = math.ceil(phi * n_total)
    return (
        toks.join(F.broadcast(candidates), "token")
        .groupBy("token")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_occurrences"))
        .filter(F.col("n_occurrences") >= F.lit(int(threshold)))
        .withColumn("n_tokens_total", F.lit(int(n_total)).cast("bigint"))
    )
