"""Hashed linear quality classifier (pipeline/quality.py)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from lotad_spark.pipeline.quality import (
    featurize_text,
    hash_bucket,
    score_quality_classifier,
    train_quality_classifier,
    train_quality_classifier_distributed,
    train_quality_classifier_sampled,
)


def _synthetic(n=120):
    """Separable corpus: label-1 docs carry 'good clean prose', label-0
    docs carry 'spam casino junk'."""
    rows = []
    for i in range(n):
        if i % 2 == 0:
            rows.append((i, f"good clean prose text number {i % 7}", 1))
        else:
            rows.append((i, f"spam casino junk text number {i % 7}", 0))
    return rows


class TestTraining:
    def test_deterministic_bit_identical(self):
        rows = [(t, y) for _, t, y in _synthetic()]
        w1, b1 = train_quality_classifier(rows)
        w2, b2 = train_quality_classifier(list(rows))
        assert w1 == w2 and b1 == b2

    def test_learns_separable_labels(self, spark):
        df = spark.createDataFrame(
            _synthetic(), "doc_id bigint, text string, y int"
        )
        w, b = train_quality_classifier_sampled(df, "y")
        scored = score_quality_classifier(df, w, b)
        j = scored.join(df.select("doc_id", "y"), "doc_id")
        acc = j.agg(
            F.avg((F.col("pred") == (F.col("y") == 1)).cast("double"))
        ).collect()[0][0]
        assert acc == 1.0  # fully separable vocabulary

    def test_empty_sample_raises(self):
        with pytest.raises(ValueError):
            train_quality_classifier([])

    def test_distributed_matches_driver_trainer(self, spark):
        """Same data, same iterations: the distributed
        gradient-aggregation trainer must agree with the driver
        trainer to float-sum tolerance."""
        import numpy as np

        # include gram-less docs (empty / whitespace / NULL text): they
        # carry no features but still push the bias gradient — the
        # regression where the distributed trainer dropped them
        rows = _synthetic(60) + [
            (1000, "", 1), (1001, "   ", 0), (1002, None, 1),
        ]
        df = spark.createDataFrame(
            rows, "doc_id bigint, text string, y int"
        )
        wd, bd = train_quality_classifier_distributed(df, "y", iters=4)
        wp, bp = train_quality_classifier(
            [(t, y) for _, t, y in rows], iters=4
        )
        assert float(np.max(np.abs(np.array(wd) - np.array(wp)))) < 1e-9
        assert abs(bd - bp) < 1e-9


class TestScoring:
    def test_logit_is_micro_exact_and_pred_matches(self, spark):
        df = spark.createDataFrame(
            _synthetic(20), "doc_id bigint, text string, y int"
        )
        w, b = train_quality_classifier_sampled(df, "y")
        got = score_quality_classifier(df, w, b).collect()
        for r in got:
            # every logit is an exact multiple of 1e-6
            micro = r.logit * 1_000_000
            assert abs(micro - round(micro)) < 1e-6
            assert r.pred == (r.logit > 0)
            assert 0.0 < r.score < 1.0

    def test_docs_without_grams_absent(self, spark):
        df = spark.createDataFrame(
            [(1, "hello world"), (2, ""), (3, None), (4, "   ")],
            "doc_id bigint, text string",
        )
        w = [0.0] * 4096
        w[hash_bucket("hello")] = 1.0
        got = {r.doc_id for r in score_quality_classifier(df, w, 0.0).collect()}
        assert got == {1}

    def test_scoring_plan_broadcasts_weights(self, spark, sf_dir):
        from lotad_spark.sources.parquet import ParquetDatabase

        docs = ParquetDatabase(spark, sf_dir, "db").table("documents")
        w = [0.0] * 4096
        w[0] = 0.5
        plan = (
            score_quality_classifier(docs, w, 0.1)
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        assert "BroadcastHashJoin" in plan or "BroadcastNestedLoop" in plan

    def test_weights_length_mismatch_raises(self, spark):
        df = spark.createDataFrame(
            [(1, "a b")], "doc_id bigint, text string"
        )
        with pytest.raises(ValueError):
            score_quality_classifier(df, [0.0] * 10, 0.0, buckets=4096)


class TestQualityCli:
    def test_train_and_score(self, spark, tmp_path):
        from click.testing import CliRunner

        from lotad_spark.cli import cli

        df = spark.createDataFrame(
            _synthetic(), "doc_id bigint, text string, label int"
        )
        src = str(tmp_path / "labeled")
        df.write.mode("overwrite").parquet(src)
        out = str(tmp_path / "out")
        r = CliRunner().invoke(
            cli,
            ["quality-classify", "--labeled", src, "--docs", src,
             "--output", out],
            catch_exceptions=False,
        )
        assert r.exit_code == 0, r.output
        assert "60/120 docs predicted positive" in r.output


class TestFeaturizeParity:
    def test_driver_featurization_matches_spark(self, spark):
        """featurize_text must bucket exactly like ngram_features —
        the trainer and the scorer have to live in one feature space."""
        from lotad_spark.pipeline.dsir import ngram_features

        texts = [
            "Hello  WORLD  hello",
            "a b a b a",
            " leading space",
            "one",
            "tabs\tand\nnewlines here",
        ]
        df = spark.createDataFrame(
            list(enumerate(texts)), "doc_id bigint, text string"
        )
        got: dict[int, dict[int, int]] = {}
        for r in ngram_features(df).collect():
            got.setdefault(r.doc_id, {})[r.bucket] = r.tf
        for i, t in enumerate(texts):
            assert got.get(i, {}) == featurize_text(t), t
