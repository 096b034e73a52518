"""Sketches (count-min, Bloom): hand-replay, guarantees, merge laws."""

import hashlib

import pytest
from pyspark.sql import functions as F

from lotad_spark.pipeline import (
    bloom_build,
    bloom_contains,
    cms_build,
    cms_estimate,
    cms_merge,
)


def ref_bucket(tok: str, row: int, width: int) -> int:
    return int(hashlib.md5(f"{row}:{tok}".encode()).hexdigest()[:8], 16) % width


def ref_sketch(tokens, depth, width):
    grid = {}
    for t in tokens:
        for d in range(depth):
            key = (d, ref_bucket(t, d, width))
            grid[key] = grid.get(key, 0) + 1
    return grid


class TestCmsBuild:
    CORPUS = [
        (1, "spark spark join merge"),
        (2, "join the gap"),
        (3, None),
        (4, "  SPARK\tmerge  "),
    ]
    TOKENS = ["spark", "spark", "join", "merge", "join", "the", "gap",
              "spark", "merge"]

    def test_matches_reference_grid(self, spark):
        df = spark.createDataFrame(self.CORPUS, "doc_id bigint, text string")
        got = {
            (r.row, r.bucket): r.cnt
            for r in cms_build(df, depth=3, width=64).collect()
        }
        assert got == ref_sketch(self.TOKENS, 3, 64)

    def test_state_bounded_by_grid(self, spark, sf_dir):
        from lotad_spark.sources.parquet import ParquetDatabase

        docs = ParquetDatabase(spark, sf_dir, "db").table("documents")
        sk = cms_build(docs, depth=4, width=32)
        assert sk.count() <= 4 * 32

    def test_partial_aggregation_before_exchange(self, spark):
        df = spark.createDataFrame(self.CORPUS, "doc_id bigint, text string")
        plan = (
            cms_build(df)._jdf.queryExecution().executedPlan().toString()
        )
        # map-side combine: a HashAggregate below the exchange keeps the
        # shuffle at <= partitions * depth * width rows
        assert plan.index("HashAggregate") < plan.index("Exchange")


class TestCmsEstimate:
    def test_never_undercounts_and_exact_without_collisions(self, spark):
        df = spark.createDataFrame(
            TestCmsBuild.CORPUS, "doc_id bigint, text string"
        )
        exact = {}
        for t in TestCmsBuild.TOKENS:
            exact[t] = exact.get(t, 0) + 1
        sk = cms_build(df, depth=4, width=1024)
        terms = spark.createDataFrame(
            [(t,) for t in [*exact, "absent"]], "term string"
        )
        got = {
            r.term: r.est
            for r in cms_estimate(sk, terms, depth=4, width=1024).collect()
        }
        for t, c in exact.items():
            assert got[t] >= c  # the CMS guarantee
        # 5 distinct terms in a 4x1024 grid: no collisions, estimates exact
        assert got == {**exact, "absent": 0}

    def test_overcount_only_from_forced_collisions(self, spark):
        # width=1: every term shares one cell per row -> est = N for all
        df = spark.createDataFrame(
            [(1, "a b c")], "doc_id bigint, text string"
        )
        sk = cms_build(df, depth=2, width=1)
        terms = spark.createDataFrame([("a",), ("b",)], "term string")
        got = {r.term: r.est for r in cms_estimate(sk, terms, depth=2, width=1).collect()}
        assert got == {"a": 3, "b": 3}


class TestCmsMerge:
    def test_merge_equals_sketch_of_union(self, spark):
        a = spark.createDataFrame(
            [(1, "x y z x"), (2, "y")], "doc_id bigint, text string"
        )
        b = spark.createDataFrame(
            [(3, "z z q")], "doc_id bigint, text string"
        )
        merged = {
            (r.row, r.bucket): r.cnt
            for r in cms_merge(
                cms_build(a, depth=3, width=16),
                cms_build(b, depth=3, width=16),
            ).collect()
        }
        whole = {
            (r.row, r.bucket): r.cnt
            for r in cms_build(a.unionByName(b), depth=3, width=16).collect()
        }
        assert merged == whole

    def test_merge_empty_raises(self):
        with pytest.raises(ValueError):
            cms_merge()


def ref_bloom(tokens, n_bits, n_hashes):
    words = {}
    for t in tokens:
        for d in range(n_hashes):
            pos = ref_bucket(t, d, n_bits)
            w, b = pos // 32, pos % 32
            words[w] = words.get(w, 0) | (1 << b)
    return words


class TestBloom:
    def test_matches_reference_words(self, spark):
        df = spark.createDataFrame(
            TestCmsBuild.CORPUS, "doc_id bigint, text string"
        )
        got = {
            r.word: r.bits
            for r in bloom_build(df, n_bits=256, n_hashes=3).collect()
        }
        assert got == ref_bloom(TestCmsBuild.TOKENS, 256, 3)

    def test_no_false_negatives_ever(self, spark, sf_dir):
        from lotad_spark.sources.parquet import ParquetDatabase

        docs = ParquetDatabase(spark, sf_dir, "db").table("documents")
        bloom = bloom_build(docs)
        # every distinct token actually in the stream must test present
        from lotad_spark.pipeline.sketch import _token_stream

        vocab = _token_stream(docs, "text").distinct().select(
            F.col("_tok").alias("term")
        )
        out = bloom_contains(bloom, vocab)
        assert out.filter(~F.col("present")).isEmpty()
        assert bloom.count() <= 8192 // 32

    def test_absent_and_forced_false_positive(self, spark):
        df = spark.createDataFrame(
            [(1, "alpha beta")], "doc_id bigint, text string"
        )
        # roomy filter: an absent term is (with these sizes) not present
        bloom = bloom_build(df, n_bits=4096, n_hashes=4)
        terms = spark.createDataFrame(
            [("alpha",), ("gamma-not-in-stream",)], "term string"
        )
        got = {
            r.term: r.present
            for r in bloom_contains(
                bloom, terms, n_bits=4096, n_hashes=4
            ).collect()
        }
        assert got["alpha"] is True
        assert got["gamma-not-in-stream"] is False
        # n_bits=32 → one word saturates → EVERYTHING reads present:
        # the false-positive face, deterministic given the hashes
        tiny = bloom_build(df, n_bits=32, n_hashes=4)
        got2 = {
            r.term: r.present
            for r in bloom_contains(
                tiny, terms, n_bits=32, n_hashes=4
            ).collect()
        }
        assert got2["alpha"] is True  # guarantee holds even saturated

    def test_merge_equals_bloom_of_union(self, spark):
        a = spark.createDataFrame(
            [(1, "x y z")], "doc_id bigint, text string"
        )
        b = spark.createDataFrame(
            [(2, "z q")], "doc_id bigint, text string"
        )
        from lotad_spark.pipeline.sketch import bloom_merge

        merged = {
            r.word: r.bits
            for r in bloom_merge(
                bloom_build(a, n_bits=256), bloom_build(b, n_bits=256)
            ).collect()
        }
        whole = {
            r.word: r.bits
            for r in bloom_build(a.unionByName(b), n_bits=256).collect()
        }
        assert merged == whole

    def test_partial_aggregation_before_exchange(self, spark):
        df = spark.createDataFrame(
            TestCmsBuild.CORPUS, "doc_id bigint, text string"
        )
        plan = (
            bloom_build(df)._jdf.queryExecution().executedPlan().toString()
        )
        assert plan.index("HashAggregate") < plan.index("Exchange")


class TestBloomPrefilter:
    def test_output_identical_even_with_forced_false_positives(self, spark):
        """Composed in front of the exact containment check, the
        prefilter must NEVER change the output — even with a tiny,
        saturated filter (worst-case false positives)."""
        from lotad_spark.pipeline import contamination_pairs

        train = spark.createDataFrame(
            [
                (1, "the quick brown fox jumps over the lazy dog"),
                (2, "unrelated text about spark physical plans here"),
                (3, "quick brown fox jumps over something else today"),
            ],
            "doc_id bigint, text string",
        )
        ev = spark.createDataFrame(
            [(100, "quick brown fox jumps over")],
            "doc_id bigint, text string",
        )
        exact = sorted(
            map(tuple, contamination_pairs(train, ev, threshold=0.4).collect())
        )
        for bits in (64, 4096):  # saturated and roomy
            pre = sorted(
                map(
                    tuple,
                    contamination_pairs(
                        train, ev, threshold=0.4,
                        prefilter="bloom", prefilter_bits=bits,
                    ).collect(),
                )
            )
            assert pre == exact, bits
        assert exact  # the fixture really contains a contaminated pair

    def test_prefilter_keeps_might_members_only(self, spark):
        from lotad_spark.pipeline import bloom_build_terms, bloom_prefilter

        ev = spark.createDataFrame(
            [("a b c",), ("d e f",)], "shingle string"
        )
        corpus = spark.createDataFrame(
            [(1, "a b c"), (2, "x y z"), (3, "d e f")],
            "doc_id bigint, shingle string",
        )
        bloom = bloom_build_terms(ev, "shingle", n_bits=4096)
        kept = {
            r.doc_id
            for r in bloom_prefilter(
                corpus, bloom, "shingle", n_bits=4096
            ).collect()
        }
        assert kept == {1, 3}

    def test_prefilter_adds_no_shuffle_on_the_corpus_side(self, spark):
        """The membership test must live INSIDE the corpus scan stage:
        the only exchanges in the prefiltered plan are the ones the
        bloom AGGREGATION itself needs (grid-bounded), never a shuffle
        keyed by the probed column."""
        from lotad_spark.pipeline import bloom_build_terms, bloom_prefilter

        ev = spark.createDataFrame([("a b c",)], "shingle string")
        corpus = spark.createDataFrame(
            [(1, "a b c")], "doc_id bigint, shingle string"
        )
        bloom = bloom_build_terms(ev, "shingle")
        plan = (
            bloom_prefilter(corpus, bloom, "shingle")
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        import re

        keys = re.findall(r"hashpartitioning\((\w+)", plan)
        assert all(k.startswith("word") for k in keys), keys

    def test_null_terms_dropped_and_prefilter_survives(self, spark):
        """A NULL in the term column must not poison the filter: it
        hashes to a NULL position and would surface as a null map key
        inside bloom_prefilter (r11 review finding)."""
        from lotad_spark.pipeline import bloom_build_terms, bloom_prefilter

        ev = spark.createDataFrame(
            [("a b c",), (None,), ("d e f",)], "shingle string"
        )
        bloom = bloom_build_terms(ev, "shingle", n_bits=4096)
        assert not any(r.word is None for r in bloom.collect())
        corpus = spark.createDataFrame(
            [(1, "a b c"), (2, "zzz"), (3, None)],
            "doc_id bigint, shingle string",
        )
        kept = {
            r.doc_id
            for r in bloom_prefilter(
                corpus, bloom, "shingle", n_bits=4096
            ).collect()
        }
        assert kept == {1}  # NULL probe row: NULL checks -> filtered out


class TestSketchIndex:
    """Persisted sketch layout (r12): grid travels with the data, so
    probes/appends/merges cannot use the wrong parameters, and the
    cms_merge silent-undercount contract becomes a raised error."""

    def _docs(self, spark, rows):
        return spark.createDataFrame(rows, "doc_id bigint, text string")

    def test_write_probe_matches_direct(self, spark, tmp_path):
        from lotad_spark.pipeline import (
            cms_build,
            cms_estimate,
            sketch_index_contains,
            sketch_index_estimate,
            write_sketch_index,
        )

        docs = self._docs(
            spark, [(1, "a b a"), (2, "b c"), (3, "a d d")]
        )
        idx = str(tmp_path / "sk")
        write_sketch_index(docs, idx, depth=3, width=64, n_bits=256,
                           n_hashes=3)
        terms = spark.createDataFrame(
            [("a",), ("b",), ("d",), ("zz",)], "term string"
        )
        # estimates off the stored index == direct cms path (grid read
        # from meta, not re-supplied)
        direct = {
            r.term: r.est
            for r in cms_estimate(
                cms_build(docs, depth=3, width=64),
                terms, depth=3, width=64,
            ).collect()
        }
        stored = {
            r.term: r.est
            for r in sketch_index_estimate(spark, idx, terms).collect()
        }
        assert stored == direct
        assert stored["a"] >= 3 and stored["d"] >= 2  # never undercount
        present = {
            r.term: r.present
            for r in sketch_index_contains(spark, idx, terms).collect()
        }
        assert present["a"] and present["b"] and present["d"]

    def test_append_equals_fresh_union_build(self, spark, tmp_path):
        from lotad_spark.pipeline import (
            append_to_sketch_index,
            read_sketch_meta,
            sketch_index_contains,
            sketch_index_estimate,
            write_sketch_index,
        )

        first = self._docs(spark, [(1, "x y x"), (2, "y z")])
        batch = self._docs(spark, [(3, "z w w"), (4, "x q")])
        idx = str(tmp_path / "inc")
        write_sketch_index(first, idx, depth=3, width=64, n_bits=256,
                           n_hashes=3)
        append_to_sketch_index(batch, idx)
        fresh = str(tmp_path / "fresh")
        write_sketch_index(
            first.unionByName(batch), fresh, depth=3, width=64,
            n_bits=256, n_hashes=3,
        )
        terms = spark.createDataFrame(
            [(t,) for t in "x y z w q zz".split()], "term string"
        )
        got_a = sorted(
            map(tuple, sketch_index_estimate(spark, idx, terms).collect())
        )
        got_f = sorted(
            map(tuple, sketch_index_estimate(spark, fresh, terms).collect())
        )
        assert got_a == got_f  # bit-identical estimates
        pa = sorted(
            map(tuple, sketch_index_contains(spark, idx, terms).collect())
        )
        pf = sorted(
            map(tuple, sketch_index_contains(spark, fresh, terms).collect())
        )
        assert pa == pf
        meta = read_sketch_meta(spark, idx)
        assert meta["n_docs"] == 4
        # append adopted the stored grid, not the defaults
        assert (meta["depth"], meta["width"]) == (3, 64)

    def test_sketch_index_cli_build_and_append(self, spark, tmp_path):
        from click.testing import CliRunner

        from lotad_spark.cli import cli

        docs = self._docs(spark, [(1, "a b a"), (2, "b c")])
        src = str(tmp_path / "docs")
        docs.write.mode("overwrite").parquet(src)
        idx = str(tmp_path / "idx")
        r = CliRunner().invoke(
            cli,
            ["sketch-index", "--docs", src, "--index", idx,
             "--depth", "3", "--width", "64",
             "--estimate", "a,zzz"],
            catch_exceptions=False,
        )
        assert r.exit_code == 0, r.output
        assert "built" in r.output and "n_docs=2" in r.output
        assert "a: ~2 (present)" in r.output
        r = CliRunner().invoke(
            cli,
            ["sketch-index", "--docs", src, "--index", idx, "--append",
             "--estimate", "a"],
            catch_exceptions=False,
        )
        assert r.exit_code == 0, r.output
        # append adopted the STORED grid (depth=3), not the CLI default
        assert "depth=3" in r.output and "n_docs=4" in r.output
        assert "a: ~4 (present)" in r.output


class TestHeavyHitters:
    """Exact φ-heavy hitters: MG candidates must be a SUPERSET, the
    verified output must equal brute force, including exactly at the
    ⌈φ·N⌉ boundary, under any partitioning."""

    def _brute(self, rows, phi):
        import math
        from collections import Counter

        c = Counter()
        for _, t in rows:
            c.update(w for w in (t or "").lower().split() if w)
        n = sum(c.values())
        thr = math.ceil(phi * n)
        return {t: (k, n) for t, k in c.items() if k >= thr}

    def test_matches_brute_force_at_boundary(self, spark):
        from lotad_spark.pipeline import heavy_hitters

        # engineered counts: with filler making N = 1000 and phi = 0.01
        # (thr = 10), 'edge' sits EXACTLY at the threshold and 'miss'
        # one below — the boundary is pinned, not sampled.
        filler = [f"f{i}" for i in range(969)]  # all unique, count 1
        stream = ["edge"] * 10 + ["miss"] * 9 + ["big"] * 12 + filler
        assert len(stream) == 1000
        rows = [
            (i, " ".join(stream[i * 50:(i + 1) * 50])) for i in range(20)
        ]
        df = spark.createDataFrame(rows, "doc_id bigint, text string")
        want = self._brute(rows, 0.01)
        assert set(want) == {"edge", "big"}  # sanity of the fixture
        for parts in (1, 7):
            got = {
                r.token: (r.n_occurrences, r.n_tokens_total)
                for r in heavy_hitters(
                    df.repartition(parts), phi=0.01
                ).collect()
            }
            assert got == want, parts

    def test_skewed_corpus_small_k_forces_evictions(self, spark):
        """phi = 0.2 → k = 5 counters against 40 distinct tokens: the
        MG summary must survive constant eviction pressure and still
        never lose a true heavy hitter."""
        import random

        from lotad_spark.pipeline import heavy_hitters

        rng = random.Random(13)
        toks = ["hot"] * 300 + ["warm"] * 140 + [
            f"n{rng.randint(0, 39)}" for _ in range(260)
        ]
        rng.shuffle(toks)
        rows = [(i, " ".join(toks[i * 70:(i + 1) * 70])) for i in range(10)]
        df = spark.createDataFrame(rows, "doc_id bigint, text string")
        want = self._brute(rows, 0.2)
        assert "hot" in want and "warm" in want
        got = {
            r.token: (r.n_occurrences, r.n_tokens_total)
            for r in heavy_hitters(df.repartition(4), phi=0.2).collect()
        }
        assert got == want

    def test_null_and_empty_text(self, spark):
        from lotad_spark.pipeline import heavy_hitters

        df = spark.createDataFrame(
            [(1, None), (2, "   "), (3, "a a b")],
            "doc_id bigint, text string",
        )
        got = {
            r.token: r.n_occurrences
            for r in heavy_hitters(df, phi=0.5).collect()
        }
        # N = 3, thr = 2: only 'a'
        assert got == {"a": 2}

    def test_phi_validation(self, spark):
        from lotad_spark.pipeline import heavy_hitters

        df = spark.createDataFrame([(1, "x")], "doc_id bigint, text string")
        with pytest.raises(ValueError, match="phi must be"):
            heavy_hitters(df, phi=0.0)
        with pytest.raises(ValueError, match="shard the corpus"):
            heavy_hitters(df, phi=1e-9)

    def test_candidate_broadcast_plan(self, spark):
        """The verification join must broadcast the candidate set (the
        vocabulary never shuffles) — plan-pinned."""
        from lotad_spark.pipeline import heavy_hitters

        df = spark.createDataFrame(
            [(i, f"t{i % 5} common") for i in range(50)],
            "doc_id bigint, text string",
        )
        plan = heavy_hitters(df, phi=0.1)._jdf.queryExecution().executedPlan().toString()
        assert "BroadcastHashJoin" in plan
