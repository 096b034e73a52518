"""Similarity-search operator semantics (cosine top-k, IVF)."""

import math

import pytest

from lotad_spark.pipeline.similarity import cosine_topk, ivf_topk


@pytest.fixture(scope="module")
def vectors(spark):
    # 0/1 are near-identical; 2 is orthogonal-ish to them; 3 is opposite of 0.
    rows = [
        (0, [1.0, 0.0, 0.0]),
        (1, [0.99, 0.01, 0.0]),
        (2, [0.0, 1.0, 0.0]),
        (3, [-1.0, 0.0, 0.0]),
        (4, [0.7, 0.7, 0.0]),
    ]
    return spark.createDataFrame(rows, "vec_id long, embedding array<float>")


class TestCosineTopk:
    def test_neighbor_order(self, vectors):
        got = cosine_topk(vectors.filter("vec_id = 0"), vectors, k=4).collect()
        ids = [r.vec_id for r in got]
        assert ids == [1, 4, 2, 3]  # descending similarity
        sims = [r.sim for r in got]
        assert sims == sorted(sims, reverse=True)
        assert math.isclose(sims[0], 0.99995, abs_tol=1e-4)
        assert got[0].query_id == 0

    def test_excludes_self(self, vectors):
        got = cosine_topk(vectors, vectors, k=4).collect()
        assert all(r.query_id != r.vec_id for r in got)

    def test_k_limits(self, vectors):
        got = cosine_topk(vectors.filter("vec_id = 0"), vectors, k=2).collect()
        assert len(got) == 2


class TestIvfTopk:
    def test_matches_exact_on_small_corpus(self, spark, sf_dir):
        from lotad_spark.sources.parquet import ParquetDatabase

        e = ParquetDatabase(spark, sf_dir, "db").table("embeddings")
        q = e.filter("vec_id < 2")
        exact = {
            (r.query_id, r.vec_id)
            for r in cosine_topk(q, e, k=3).collect()
        }
        approx = {
            (r.query_id, r.vec_id)
            for r in ivf_topk(q, e, k=3, n_centroids=4, nprobe=4).collect()
        }
        # nprobe == n_centroids → IVF degenerates to exact search.
        assert approx == exact

    def test_probe_restricts_buckets(self, spark, sf_dir):
        from lotad_spark.sources.parquet import ParquetDatabase

        e = ParquetDatabase(spark, sf_dir, "db").table("embeddings")
        q = e.filter("vec_id < 2")
        got = ivf_topk(q, e, k=3, n_centroids=8, nprobe=1).collect()
        assert len(got) <= 6
        assert all(r.query_id != r.vec_id for r in got)

    def test_kmeans_recall_vs_exact(self, spark, sf_dir):
        """Trained centroids must deliver useful recall at nprobe=2/16 —
        the guarantee the round-3 first-N-by-id stub could not make."""
        from lotad_spark.sources.parquet import ParquetDatabase

        e = ParquetDatabase(spark, sf_dir, "db").table("embeddings")
        q = e.filter("vec_id < 5")
        exact = {
            (r.query_id, r.vec_id) for r in cosine_topk(q, e, k=5).collect()
        }
        approx = {
            (r.query_id, r.vec_id)
            for r in ivf_topk(q, e, k=5, n_centroids=16, nprobe=4).collect()
        }
        recall = len(exact & approx) / len(exact)
        # The synthetic embeddings are near-random (no cluster structure),
        # the IVF worst case: recall must still clearly beat the 25% scan
        # fraction (nprobe 4 of 16). Measured 0.60 at sf0.001.
        assert recall >= 0.5, f"IVF recall@5 {recall:.2f} < 0.5"

    def test_indexed_ivf_matches_inmemory_and_prunes(self, spark, sf_dir, tmp_path):
        """The write-once partitioned index must return the same answers
        as the in-memory path (same deterministic centroids) and its scan
        must read ONLY the probed cent_id partitions."""
        from lotad_spark.pipeline.similarity import build_ivf_index, ivf_topk_indexed
        from lotad_spark.sources.parquet import ParquetDatabase

        e = ParquetDatabase(spark, sf_dir, "db").table("embeddings")
        q = e.filter("vec_id < 3")
        idx = str(tmp_path / "ivf_idx")
        build_ivf_index(e, idx, n_centroids=8)

        mem = {
            (r.query_id, r.vec_id, r.sim)
            for r in ivf_topk(q, e, k=4, n_centroids=8, nprobe=2).collect()
        }
        via_index = ivf_topk_indexed(spark, idx, q, k=4, nprobe=2)
        got = {(r.query_id, r.vec_id, r.sim) for r in via_index.collect()}
        assert got == mem and len(got) > 0

        plan = via_index._jdf.queryExecution().executedPlan().toString()
        pf = [l for l in plan.splitlines() if "PartitionFilters" in l]
        assert pf, plan
        assert any("cent_id" in l.split("PartitionFilters", 1)[1] for l in pf), pf

    def test_indexed_ivf_recall_vs_exact(self, spark, sf_dir, tmp_path):
        """The serving shape (materialized index + static-pruned probes)
        must carry the same recall guarantee as the in-memory path, not
        just agree with it — this is the number a user of the index sees."""
        from lotad_spark.pipeline.similarity import build_ivf_index, ivf_topk_indexed
        from lotad_spark.sources.parquet import ParquetDatabase

        e = ParquetDatabase(spark, sf_dir, "db").table("embeddings")
        q = e.filter("vec_id < 5")
        idx = str(tmp_path / "ivf_recall_idx")
        build_ivf_index(e, idx, n_centroids=16)

        exact = {
            (r.query_id, r.vec_id) for r in cosine_topk(q, e, k=5).collect()
        }
        approx = {
            (r.query_id, r.vec_id)
            for r in ivf_topk_indexed(spark, idx, q, k=5, nprobe=4).collect()
        }
        recall = len(exact & approx) / len(exact)
        assert recall >= 0.5, f"indexed IVF recall@5 {recall:.2f} < 0.5"

    def test_kmeans_deterministic(self):
        import numpy as np

        from lotad_spark.pipeline.kmeans import train_centroids

        # structured sample, no RNG: three well-separated direction groups
        base = [[1.0, 0.0, 0.0], [0.0, 1.0, 0.0], [0.0, 0.0, 1.0]]
        sample = [
            [b + 0.01 * ((i * 7 + j) % 5) for j, b in enumerate(base[i % 3])]
            for i in range(60)
        ]
        c1 = train_centroids(sample, 3)
        c2 = train_centroids(list(sample), 3)
        assert c1 == c2  # bit-for-bit reproducible
        assert all(
            abs(float(np.linalg.norm(c)) - 1.0) < 1e-9 for c in np.array(c1)
        )
        # each base direction is captured by some centroid
        C = np.array(c1)
        for b in base:
            assert max(C @ np.array(b)) > 0.95

    def test_cluster_size_rule(self):
        """The cluster-size rule (max(8, n/250), capped) and its
        sample-size companion — the defaults every IVF-family build now
        derives k from, so probe cost tracks the probed fraction
        instead of the corpus (BASELINE.md sf1 SQ8 finding)."""
        import pytest

        from lotad_spark.pipeline.kmeans import (
            default_n_centroids,
            default_sample_size,
        )

        assert default_n_centroids(0) == 8
        assert default_n_centroids(2_000) == 8  # every test SF
        assert default_n_centroids(20_000) == 80  # sf1
        assert default_n_centroids(1_000_000) == 4000
        assert default_n_centroids(10**12) == 4096  # capped
        with pytest.raises(ValueError):
            default_n_centroids(-1)
        # the sample widens with k so train_centroids' k=min(k, sample)
        # never silently caps a rule-derived k
        assert default_sample_size(8) == 512
        assert default_sample_size(32) == 512
        assert default_sample_size(80) == 1280
        assert default_sample_size(4096) == 65536

    def test_rule_default_applies_to_builds(self, spark, sf_dir, tmp_path):
        """Omitting n_centroids derives the rule value (8 at test-SF
        corpus sizes, NOT the old fixed 16): the built index's
        centroids relation carries exactly rule-k rows."""
        from lotad_spark.pipeline.kmeans import default_n_centroids
        from lotad_spark.pipeline.similarity import build_ivf_index
        from lotad_spark.sources.parquet import read_table

        e = read_table(spark, f"{sf_dir}/embeddings.parquet")
        expect = default_n_centroids(e.count())
        idx = str(tmp_path / "ivf_rule")
        build_ivf_index(e, idx)
        got = spark.read.parquet(f"{idx}/centroids").count()
        assert got == expect == 8


class TestEmbeddingNearDup:
    def test_scaled_duplicates_found(self, spark):
        from lotad_spark.pipeline.similarity import embedding_near_dup_pairs

        base = [float(i % 7 - 3) for i in range(8)]
        ortho = [0.0] * 8
        ortho[0] = 1.0
        rows = [
            (0, base),
            (1, [x * 2.0 for x in base]),   # same direction → sim 1.0
            (2, ortho),                      # unrelated
            (3, [x * 0.5 for x in base]),   # same direction → sim 1.0
        ]
        df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
        got = embedding_near_dup_pairs(df, dim=8, n_planes=8, bands=4).collect()
        pairs = {(r.id_a, r.id_b) for r in got}
        # Identical directions share every LSH bit → recall 1 on duplicates.
        assert pairs == {(0, 1), (0, 3), (1, 3)}
        assert all(r.sim >= 0.99 for r in got)

    def test_no_pairs_below_threshold(self, spark):
        from lotad_spark.pipeline.similarity import embedding_near_dup_pairs

        rows = [
            (0, [1.0, 0.0, 0.0, 0.0]),
            (1, [0.0, 1.0, 0.0, 0.0]),
        ]
        df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
        got = embedding_near_dup_pairs(df, dim=4, n_planes=4, bands=2).collect()
        assert got == []

    def test_no_cartesian_in_plan(self, spark):
        from lotad_spark.pipeline.similarity import embedding_near_dup_pairs

        rows = [(i, [float(i), 1.0]) for i in range(4)]
        df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
        plan = embedding_near_dup_pairs(
            df, dim=2, n_planes=4, bands=2
        )._jdf.queryExecution().executedPlan().toString()
        assert "CartesianProduct" not in plan


class TestQuantizeEmbeddings:
    def test_roundtrip_error_bounded_by_half_step(self, spark, sf_dir):
        from lotad_spark.pipeline import quantize_embeddings
        from lotad_spark.sources.parquet import ParquetDatabase

        emb = ParquetDatabase(spark, sf_dir, "db").table("embeddings")
        q = quantize_embeddings(emb).join(emb, "vec_id")
        rows = q.limit(50).collect()
        assert rows
        for r in rows:
            deq = [r.zero_point + qi * r.scale for qi in r.qvec]
            step = r.scale if r.scale > 0 else 0.0
            for orig, back in zip(r.embedding, deq):
                # rounded scale/zero_point add ≤1e-6 each on top of the
                # half-step quantization error
                assert abs(orig - back) <= step / 2 + 3e-4
            assert all(0 <= qi <= 255 for qi in r.qvec)

    def test_constant_vector_exact(self, spark):
        from lotad_spark.pipeline import quantize_embeddings

        df = spark.createDataFrame(
            [(1, [2.5, 2.5, 2.5])], "vec_id int, embedding array<float>"
        )
        r = quantize_embeddings(df).collect()[0]
        assert r.qvec == [0, 0, 0] and r.scale == 0.0 and r.zero_point == 2.5

    def test_stateless_plan_no_exchange(self, spark, sf_dir):
        from lotad_spark.pipeline import quantize_embeddings
        from lotad_spark.sources.parquet import ParquetDatabase

        emb = ParquetDatabase(spark, sf_dir, "db").table("embeddings")
        plan = (
            quantize_embeddings(emb)
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        assert "Exchange" not in plan and "Join" not in plan

    def test_keep_cols_ride_through_without_join(self, spark, sf_dir):
        """keep_cols passes extra columns through the projection so
        callers (build_ivf_sq8_index threading cent_id) never self-join
        the quantized relation back onto its input — which duplicated
        the whole upstream subtree at index-build time (r10 advice)."""
        from lotad_spark.pipeline import quantize_embeddings
        from lotad_spark.sources.parquet import ParquetDatabase

        emb = ParquetDatabase(spark, sf_dir, "db").table("embeddings")
        out = quantize_embeddings(emb, keep_cols=("label",))
        assert out.columns == [
            "vec_id", "scale", "zero_point", "qvec", "label",
        ]
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan and "Join" not in plan
        got = {r.vec_id: r.label for r in out.limit(20).collect()}
        ref = {
            r.vec_id: r.label
            for r in emb.select("vec_id", "label").limit(20).collect()
        }
        assert list(got.items())  # non-empty
        for vid, lab in got.items():
            assert lab == ref.get(vid, lab)


class TestIvfSq8:
    @pytest.fixture(scope="class")
    def sq8_index(self, spark, sf_dir, tmp_path_factory):
        from lotad_spark.pipeline.similarity import build_ivf_sq8_index
        from lotad_spark.sources.parquet import ParquetDatabase

        emb = ParquetDatabase(spark, sf_dir, "db").table("embeddings")
        path = str(tmp_path_factory.mktemp("sq8") / "idx")
        build_ivf_sq8_index(emb, path, n_centroids=4)
        return emb, path

    def test_near_exact_at_full_probe(self, spark, sq8_index):
        """nprobe=all leaves only int8 distortion: the returned sims
        must match the dequantized-cosine replay to round-6 noise, and
        top-1 must agree with exact brute force for nearly all
        queries."""
        import numpy as np

        from lotad_spark.pipeline.similarity import ivf_sq8_topk

        emb, path = sq8_index
        from pyspark.sql import functions as F

        q = emb.filter(F.col("vec_id") < 20)
        out = ivf_sq8_topk(spark, path, q, k=1, nprobe=4).collect()
        assert len(out) == 20
        rows = {
            int(r["vec_id"]): (
                float(r["zero_point"]),
                float(r["scale"]),
                list(r["qvec"]),
            )
            for r in spark.read.parquet(f"{path}/data").collect()
        }
        V = {
            int(r[0]): np.array(r[1], dtype=np.float64)
            for r in emb.select("vec_id", "embedding").collect()
        }
        hits = 0
        for r in out:
            qid, vid = int(r["query_id"]), int(r["vec_id"])
            zero, scale, qv = rows[vid]
            deq = zero + np.array(qv, dtype=np.float64) * scale
            qvec = V[qid]
            expect = float(
                (qvec @ deq)
                / (np.linalg.norm(qvec) * np.linalg.norm(deq))
            )
            assert r["sim"] == pytest.approx(expect, abs=2e-6)
            # exact top-1 (excluding self)
            best, best_s = None, -2.0
            for vid2, v2 in V.items():
                if vid2 == qid:
                    continue
                s = float(
                    (qvec @ v2)
                    / (np.linalg.norm(qvec) * np.linalg.norm(v2))
                )
                if s > best_s:
                    best, best_s = vid2, s
            hits += vid == best
        assert hits >= 18, hits  # int8 may flip a rare near-tie

    def test_probe_prunes_and_never_reads_raw_vectors(
        self, spark, sq8_index
    ):
        from pyspark.sql import functions as F

        from lotad_spark.pipeline.similarity import ivf_sq8_topk

        emb, path = sq8_index
        out = ivf_sq8_topk(
            spark, path, emb.filter(F.col("vec_id") < 2), k=3, nprobe=1
        )
        assert len(out.collect()) == 6
        plan = out._jdf.queryExecution().executedPlan().toString()
        # two scans are expected: the query relation (reads its own
        # embeddings) and the index data dir — the INDEX scan must be
        # partition-pruned and must carry codes, not vectors
        # match the index scan by its column signature (sum_q is unique
        # to the SQ8 layout), not the path — rendered Location strings
        # truncate at spark.sql.maxMetadataStringLength and long pytest
        # tmp dirs can push the path fragment past it
        idx_scans = [
            line
            for line in plan.splitlines()
            if "ReadSchema" in line and "sum_q" in line
        ]
        assert idx_scans, plan
        for line in idx_scans:
            assert "qvec" in line and "embedding" not in line, line
            assert "PartitionFilters" in line and "cent_id" in line, line

    def test_row_sums_match_codes(self, spark, sq8_index):
        """The stored Σq/Σq² must equal the code array's sums — the
        |v̂|² reconstruction depends on it."""
        _, path = sq8_index
        rows = spark.read.parquet(f"{path}/data").limit(100).collect()
        assert rows
        for r in rows:
            assert r["sum_q"] == sum(r["qvec"])
            assert r["sum_q2"] == sum(x * x for x in r["qvec"])


class TestSemanticDedup:
    @pytest.fixture(scope="class")
    def clustered(self, spark):
        # Two tight directions (x-axis, y-axis) plus an orthogonal
        # singleton; ids 1 and 4 are scaled copies (cosine exactly 1).
        rows = [
            (0, [1.0, 0.0, 0.0, 0.0]),
            (1, [2.0, 0.0, 0.0, 0.0]),
            (2, [0.8, 0.2, 0.0, 0.0]),   # cos to 0 = 0.970143 < 0.99
            (3, [0.0, 1.0, 0.0, 0.0]),
            (4, [0.0, 0.5, 0.0, 0.0]),
            (5, [0.0, 0.0, 1.0, 0.0]),
        ]
        df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
        cents = spark.createDataFrame(
            [(0, [1.0, 0.0, 0.0, 0.0]), (1, [0.0, 1.0, 0.0, 0.0])],
            "cent_id int, cent_vec array<double>",
        )
        return df, cents

    def test_copies_flagged_min_id_survives(self, clustered):
        from lotad_spark.pipeline.similarity import semantic_dedup

        df, cents = clustered
        got = {r.vec_id: r for r in semantic_dedup(
            df, cents, threshold=0.99
        ).collect()}
        assert len(got) == 6
        assert [got[i].is_dup for i in range(6)] == [
            False, True, False, False, True, False
        ]
        # min id of each similar set survives; near-but-below stays.
        assert got[1].nn_sim == 1.0 and got[4].nn_sim == 1.0
        assert got[2].nn_sim == pytest.approx(0.970143)

    def test_singletons_null_nn_sim(self, clustered):
        from lotad_spark.pipeline.similarity import semantic_dedup

        df, cents = clustered
        got = {r.vec_id: r for r in semantic_dedup(
            df, cents, threshold=0.99
        ).collect()}
        # 0 and 3 have no smaller-id cluster neighbor → NULL, kept; the
        # orthogonal 5 ties to cent 0 (cos 0 to both, asc tie-break) and
        # its best smaller-id neighbor similarity is 0.
        assert got[0].nn_sim is None and not got[0].is_dup
        assert got[3].nn_sim is None and not got[3].is_dup
        assert got[5].cent_id == 0 and got[5].nn_sim == 0.0

    def test_corpus_end_to_end_deterministic(self, spark):
        from lotad_spark.pipeline.similarity import semantic_dedup_corpus

        import hashlib

        def vec(i):
            h = hashlib.md5(f"v{i}".encode()).digest()
            return [h[d] / 255.0 * 2 - 1 for d in range(8)]

        base = [(i, vec(i)) for i in range(40)]
        copies = [(100 + i, [x * 3.0 for x in v]) for i, v in base[::5]]
        df = spark.createDataFrame(
            base + copies, "vec_id long, embedding array<float>"
        )
        a = semantic_dedup_corpus(df, n_clusters=4, threshold=0.99)
        flagged = sorted(r.vec_id for r in a.filter("is_dup").collect())
        assert flagged == [100 + i for i, _ in base[::5]]
        b = semantic_dedup_corpus(df, n_clusters=4, threshold=0.99)
        assert sorted(map(tuple, a.collect())) == sorted(
            map(tuple, b.collect())
        )

    def test_no_cartesian_in_plan(self, clustered):
        from lotad_spark.pipeline.similarity import semantic_dedup

        df, cents = clustered
        plan = (
            semantic_dedup(df, cents, threshold=0.99)
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        # The only cross join is the broadcast centroid assignment; the
        # pairwise stage must be an equi-join on cent_id.
        assert "CartesianProduct" not in plan


class TestCentroidAssignment:
    def test_assignment_is_shuffle_free(self, spark):
        from lotad_spark.pipeline.similarity import assign_to_centroids

        df = spark.createDataFrame(
            [(i, [float(i), 1.0]) for i in range(10)],
            "vec_id long, embedding array<float>",
        )
        cents = spark.createDataFrame(
            [(0, [1.0, 0.0]), (1, [0.0, 1.0])],
            "cent_id int, cent_vec array<double>",
        )
        out = assign_to_centroids(df, cents)
        plan = out._jdf.queryExecution().executedPlan().toString()
        # Pure projection: no exchange, no join, no window anywhere.
        assert "Exchange" not in plan
        assert "Join" not in plan and "Window" not in plan

    def test_tie_breaks_to_lowest_cent_id(self, spark):
        from lotad_spark.pipeline.similarity import assign_to_centroids

        df = spark.createDataFrame(
            [(0, [1.0, 1.0]), (1, [1.0, 0.0]), (2, [0.0, 2.0])],
            "vec_id long, embedding array<float>",
        )
        cents = spark.createDataFrame(
            [(0, [1.0, 0.0]), (1, [0.0, 1.0])],
            "cent_id int, cent_vec array<double>",
        )
        got = {
            r.vec_id: r.cent_id
            for r in assign_to_centroids(df, cents).collect()
        }
        # [1,1] is equidistant → lowest cent_id wins the tie.
        assert got == {0: 0, 1: 0, 2: 1}

    def test_empty_centroids_raises(self, spark):
        from lotad_spark.pipeline.similarity import assign_to_centroids

        df = spark.createDataFrame(
            [(0, [1.0, 0.0])], "vec_id long, embedding array<float>"
        )
        cents = spark.createDataFrame(
            [], "cent_id int, cent_vec array<double>"
        )
        with pytest.raises(ValueError):
            assign_to_centroids(df, cents)


class TestSemanticDedupBlocking:
    def test_results_independent_of_pair_blocks(self, spark):
        from lotad_spark.pipeline.similarity import semantic_dedup

        import hashlib

        def vec(i):
            h = hashlib.md5(f"b{i}".encode()).digest()
            return [h[d] / 255.0 * 2 - 1 for d in range(8)]

        base = [(i, vec(i)) for i in range(30)]
        copies = [(200 + i, [x * 2.0 for x in v]) for i, v in base[::4]]
        df = spark.createDataFrame(
            base + copies, "vec_id long, embedding array<float>"
        )
        cents = spark.createDataFrame(
            [(0, [1.0] + [0.0] * 7), (1, [0.0, 1.0] + [0.0] * 6)],
            "cent_id int, cent_vec array<double>",
        )
        ref = sorted(
            map(tuple, semantic_dedup(
                df, cents, threshold=0.99, pair_blocks=1
            ).collect())
        )
        for B in (2, 3, 8):
            got = sorted(
                map(tuple, semantic_dedup(
                    df, cents, threshold=0.99, pair_blocks=B
                ).collect())
            )
            assert got == ref, f"pair_blocks={B} diverged"

    def test_blocking_widens_join_key(self, spark):
        from lotad_spark.pipeline.similarity import semantic_dedup

        df = spark.createDataFrame(
            [(i, [float(i % 3), 1.0]) for i in range(12)],
            "vec_id long, embedding array<float>",
        )
        cents = spark.createDataFrame(
            [(0, [1.0, 0.0])], "cent_id int, cent_vec array<double>"
        )
        plan = (
            semantic_dedup(df, cents, pair_blocks=4)
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        # The pairwise join keys on (cent_id, bi, bj), not cent_id alone,
        # and never degenerates to a cartesian.
        assert "CartesianProduct" not in plan
        assert "bi" in plan and "bj" in plan


class TestArrowAssignmentKernel:
    def test_arrow_matches_expr(self, spark, sf_dir):
        from lotad_spark.pipeline import kmeans
        from lotad_spark.pipeline.similarity import assign_to_centroids
        from lotad_spark.sources.parquet import ParquetDatabase

        e = ParquetDatabase(spark, sf_dir, "db").table("embeddings")
        cents = kmeans.train_centroids(kmeans.sample_vectors(e), 8)
        centroids = spark.createDataFrame(
            [(i, c) for i, c in enumerate(cents)],
            "cent_id int, cent_vec array<double>",
        )
        expr = {
            r.vec_id: r.cent_id
            for r in assign_to_centroids(e, centroids).collect()
        }
        arrow = {
            r.vec_id: r.cent_id
            for r in assign_to_centroids(
                e, centroids, kernel="arrow"
            ).collect()
        }
        assert arrow == expr and len(expr) > 0

    def test_ivf_default_kernel_banded_parity(self, spark, sf_dir):
        """ivf_topk/build_ivf_index default to the arrow assignment
        kernel since r10 (expr literal-argmax at IVF centroid count
        regressed ann_ivf_topk 2.27→3.63 s; interleaved idle A/B:
        arrow 1.75 s vs expr 2.99 s — BASELINE.md r10). The kernels
        may legitimately disagree ONLY at an exact round-6 tie/boundary:
        for every row they disagree on, the row's round-6 cosine to the
        two chosen centroids must differ by ≤ 1e-6 (one rounding ulp at
        the documented np.round half-to-even vs F.round HALF_UP
        divergence). On this fixture the disagreement set is empty, but
        the pin is the band, not exact equality."""
        from lotad_spark.pipeline import kmeans
        from lotad_spark.pipeline.similarity import (
            assign_to_centroids,
            cosine,
        )
        from lotad_spark.sources.parquet import ParquetDatabase

        e = ParquetDatabase(spark, sf_dir, "db").table("embeddings")
        cents = kmeans.train_centroids(kmeans.sample_vectors(e), 16)
        centroids = spark.createDataFrame(
            [(i, c) for i, c in enumerate(cents)],
            "cent_id int, cent_vec array<double>",
        )
        expr = {
            r.vec_id: r.cent_id
            for r in assign_to_centroids(e, centroids).collect()
        }
        arrow = {
            r.vec_id: r.cent_id
            for r in assign_to_centroids(
                e, centroids, kernel="arrow"
            ).collect()
        }
        assert set(expr) == set(arrow)
        differing = {v for v in expr if expr[v] != arrow[v]}
        if differing:
            cmap = {i: c for i, c in enumerate(cents)}
            rows = e.filter(F.col("vec_id").isin(list(differing))).collect()
            sims = {
                (r.vec_id, cid): spark.createDataFrame(
                    [(list(map(float, r.embedding)), cmap[cid])],
                    "a array<double>, b array<double>",
                )
                .select(F.round(cosine(F.col("a"), F.col("b")), 6).alias("s"))
                .first()["s"]
                for r in rows
                for cid in (expr[r.vec_id], arrow[r.vec_id])
            }
            for v in differing:
                gap = abs(sims[(v, expr[v])] - sims[(v, arrow[v])])
                assert gap <= 1e-6, (v, expr[v], arrow[v], gap)

    def test_semantic_dedup_arrow_kernel(self, spark):
        from lotad_spark.pipeline.similarity import semantic_dedup_corpus

        import hashlib

        def vec(i):
            h = hashlib.md5(f"a{i}".encode()).digest()
            return [h[d] / 255.0 * 2 - 1 for d in range(8)]

        base = [(i, vec(i)) for i in range(30)]
        copies = [(300 + i, [x * 2.0 for x in v]) for i, v in base[::6]]
        df = spark.createDataFrame(
            base + copies, "vec_id long, embedding array<float>"
        )
        a = sorted(map(tuple, semantic_dedup_corpus(
            df, n_clusters=4, threshold=0.99
        ).collect()))
        b = sorted(map(tuple, semantic_dedup_corpus(
            df, n_clusters=4, threshold=0.99, kernel="arrow"
        ).collect()))
        assert a == b


class TestSemanticDedupCli:
    def test_cli_command(self, spark, tmp_path):
        from click.testing import CliRunner

        from lotad_spark.cli import cli

        import hashlib

        def vec(i):
            h = hashlib.md5(f"c{i}".encode()).digest()
            return [h[d] / 255.0 * 2 - 1 for d in range(8)]

        base = [(i, vec(i)) for i in range(20)]
        copies = [(100 + i, [x * 2.0 for x in v]) for i, v in base[::4]]
        df = spark.createDataFrame(
            base + copies, "vec_id long, embedding array<float>"
        )
        src = str(tmp_path / "emb")
        df.write.mode("overwrite").parquet(src)
        out = str(tmp_path / "out")
        result = CliRunner().invoke(
            cli,
            ["dedup-semantic", "--embeddings", src, "--output", out,
             "--clusters", "4", "--threshold", "0.99"],
            catch_exceptions=False,
        )
        assert result.exit_code == 0, result.output
        assert "5 of 25 vectors flagged" in result.output
        landed = {
            r.vec_id: r.is_dup
            for r in spark.read.parquet(f"{out}/semantic").collect()
        }
        assert all(landed[100 + i] for i, _ in base[::4])
        assert not any(landed[i] for i, _ in base)


class TestPrototypicalityPrune:
    def test_matches_python_replay(self, spark):
        """keep flags match a plain replay: rank round-6 cosine to the
        assigned centroid desc (ties id asc), drop the top
        n*micro//1e6 per cluster."""
        import math

        from lotad_spark.pipeline import prototypicality_prune

        cents = [(0, [1.0, 0.0]), (1, [0.0, 1.0])]
        vecs = [
            (1, [10.0, 1.0]), (2, [10.0, 2.0]), (3, [10.0, 5.0]),
            (4, [1.0, 10.0]), (5, [2.0, 10.0]), (6, [5.0, 10.0]),
            (7, [0.5, 10.0]),
        ]
        corpus = spark.createDataFrame(
            vecs, "vec_id bigint, embedding array<double>"
        )
        centroids = spark.createDataFrame(
            cents, "cent_id int, cent_vec array<double>"
        )
        got = {
            r.vec_id: (r.cent_id, r.proto, r.keep)
            for r in prototypicality_prune(
                corpus, centroids, prune_frac=0.5
            ).collect()
        }

        def cos(a, b):
            num = sum(x * y for x, y in zip(a, b))
            return round(
                num / math.sqrt(sum(x * x for x in a) * sum(y * y for y in b)),
                6,
            )

        by_cluster = {}
        for vid, v in vecs:
            sims = [(cos(v, c), -cid) for cid, c in cents]
            best = max(sims)
            cid = -best[1]
            by_cluster.setdefault(cid, []).append((vid, best[0]))
        expect = {}
        for cid, members in by_cluster.items():
            members.sort(key=lambda t: (-t[1], t[0]))
            n_drop = (len(members) * 500000) // 1000000
            for r, (vid, proto) in enumerate(members, 1):
                expect[vid] = (cid, proto, r > n_drop)
        assert got == expect
        # sanity: the most axis-aligned (most prototypical) are dropped
        assert got[1][2] is False and got[3][2] is True
        assert got[7][2] is False and got[6][2] is True

    def test_prune_frac_extremes(self, spark):
        from lotad_spark.pipeline import prototypicality_prune

        corpus = spark.createDataFrame(
            [(i, [float(i + 1), 1.0]) for i in range(6)],
            "vec_id bigint, embedding array<double>",
        )
        centroids = spark.createDataFrame(
            [(0, [1.0, 0.0])], "cent_id int, cent_vec array<double>"
        )
        keep0 = prototypicality_prune(corpus, centroids, prune_frac=0.0)
        assert all(r.keep for r in keep0.collect())
        keep1 = prototypicality_prune(corpus, centroids, prune_frac=1.0)
        assert not any(r.keep for r in keep1.collect())

    def test_corpus_face_runs_on_embeddings(self, spark, sf_dir):
        from lotad_spark.pipeline import prototypicality_prune_corpus
        from lotad_spark.sources.parquet import ParquetDatabase

        emb = ParquetDatabase(spark, sf_dir, "db").table("embeddings")
        out = prototypicality_prune_corpus(
            emb, n_clusters=4, prune_frac=0.25
        )
        rows = out.collect()
        assert len(rows) == emb.count()  # every row audited, none dropped
        kept = sum(r.keep for r in rows)
        # 25% of each cluster pruned -> within a few rows of 75% overall
        assert abs(kept - 0.75 * len(rows)) <= 4


class TestPrunePrototypesCli:
    def test_cli_lands_audit_relation(self, spark, sf_dir, tmp_path):
        from click.testing import CliRunner

        from lotad_spark.cli import cli
        from lotad_spark.sources.parquet import ParquetDatabase

        emb = ParquetDatabase(spark, sf_dir, "db").table("embeddings")
        src = str(tmp_path / "emb")
        emb.write.mode("overwrite").parquet(src)
        out = str(tmp_path / "out")
        result = CliRunner().invoke(
            cli,
            ["prune-prototypes", "--embeddings", src, "--output", out,
             "--clusters", "4", "--prune-frac", "0.25"],
            catch_exceptions=False,
        )
        assert result.exit_code == 0, result.output
        landed = spark.read.parquet(f"{out}/pruned")
        n = emb.count()
        assert landed.count() == n  # audit relation: every row present
        kept = landed.filter("keep").count()
        assert abs(kept - 0.75 * n) <= 4
        assert f"kept {kept}/{n}" in result.output


class TestDropZeroVectors:
    def test_gate_removes_invalid_and_topk_is_clean(self, spark):
        """The module docstring's precondition filter: a positive squared
        norm drops zero and NULL vectors in one shuffle-free filter."""
        from pyspark.sql import functions as F

        rows = [
            (0, [1.0, 0.0]),
            (1, [0.0, 0.0]),   # zero vector: cosine is 0/0
            (2, None),         # NULL vector
            (3, [0.5, 0.5]),
        ]
        df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
        sq = F.aggregate("embedding", F.lit(0.0), lambda a, x: a + x * x)
        clean = df.filter(sq > 0)
        assert {r.vec_id for r in clean.collect()} == {0, 3}
        # the documented hazard: ungated, the zero vector's NaN sim
        # ranks FIRST; gated, top-k holds only real similarities
        q = clean.filter("vec_id = 0")
        got = cosine_topk(q, clean, k=2).collect()
        assert [r.vec_id for r in got] == [3]
        assert all(r.sim == r.sim for r in got)  # no NaN
