"""Hashed-ngram linear quality classifier (operators/classifier.py).

Inference parity with DuckDB is the oracle-gate entry
(``quality_classifier``); here: scoring semantics, the training loop
value-checked against an independent scalar GD over the SAME bucketed
features, and end-to-end separability of a planted good/bad corpus.
"""

import pandas as pd
import pytest
from pyspark.sql import functions as F

from social_media_pii_scrubber_spark.operators import classifier as CL
from social_media_pii_scrubber_spark.operators import dsir as DS
from social_media_pii_scrubber_spark.operators import hashing as HS

GOOD = [
    "the committee published a detailed report on the findings",
    "researchers described the method and the results clearly",
    "a thorough analysis of the data supports the conclusion",
    "the article explains the historical context and the sources",
]
BAD = [
    "click here buy now cheap cheap deals",
    "win win free free prize click now",
    "buy cheap now free click prize deals",
    "now now click buy free cheap win",
]


def _labeled(spark):
    texts = GOOD + BAD
    labels = [1] * len(GOOD) + [0] * len(BAD)
    return spark.createDataFrame(
        pd.DataFrame({"doc_id": range(len(texts)), "text": texts,
                      "label": labels}),
        "doc_id long, text string, label int",
    )


class TestScore:
    def test_known_weights_sum(self, spark):
        """logit must be bias + Σ wgt over ngram OCCURRENCES (a doc
        repeating a bucketed ngram counts it twice)."""
        df = spark.createDataFrame(
            pd.DataFrame({"doc_id": [1], "text": ["x x"]}),
            "doc_id long, text string")
        # buckets for ngrams of "x x": ["x", "x", "x x"]
        rows = df.select(F.explode(DS.ngrams_expr(F.col("text"))).alias("ng")) \
            .select(HS.bucket_expr(F.col("ng")).alias("b")).collect()
        buckets = [r.b for r in rows]
        w = spark.createDataFrame(
            pd.DataFrame({"bucket": sorted(set(buckets)),
                          "wgt": [1.0 + i for i in range(len(set(buckets)))]}),
            "bucket string, wgt double")
        wmap = {r.bucket: r.wgt for r in w.collect()}
        want = 0.5 + sum(wmap[b] for b in buckets)
        [got] = CL.classifier_score(df, "text", "doc_id", w, bias=0.5).collect()
        assert got.logit == pytest.approx(want)
        assert got.keep == (want > 0)

    def test_empty_doc_scores_bias(self, spark):
        df = spark.createDataFrame(
            pd.DataFrame({"doc_id": [1, 2], "text": ["", "hello world"]}),
            "doc_id long, text string")
        out = {r.doc_id: r for r in CL.classifier_score(
            df, "text", "doc_id", CL.hash_weights_table(spark),
            bias=-3.0).collect()}
        assert out[1].logit == -3.0 and out[1].keep is False
        assert out[2].logit != -3.0


class TestTrain:
    def test_matches_scalar_gd(self, spark):
        """Distributed full-batch GD must match the independent scalar
        implementation on the same bucketed features (tolerance: the
        per-bucket gradient sums reduce in different orders)."""
        df = _labeled(spark)
        nb = 1024
        model = CL.train_logreg(df, "text", "doc_id", "label",
                                n_buckets=nb, iters=10, lr=0.5)
        feats = df.select(
            "doc_id", F.explode(DS.ngrams_expr(F.col("text"))).alias("ng"),
        ).select(
            "doc_id", HS.bucket_fast_expr(F.col("ng"), nb).alias("b"),
        ).collect()
        feats_by_id: dict = {}
        for r in feats:
            feats_by_id.setdefault(r.doc_id, []).append(r.b)
        labels = {r.doc_id: float(r.label) for r in df.collect()}
        want_w, want_b = CL.train_logreg_python_bucketed(
            feats_by_id, labels, iters=10, lr=0.5)
        got_w, got_b = model
        assert got_b == pytest.approx(want_b, abs=1e-9)
        assert set(got_w) == set(want_w)
        for b in want_w:
            assert got_w[b] == pytest.approx(want_w[b], abs=1e-9), b

    def test_empty_doc_included_in_intercept(self, spark):
        """An empty/whitespace doc has zero ngrams but is still a
        labeled example: it must count in n_docs and push the bias
        gradient, exactly as the scalar twin does when handed an empty
        feature list (ADVICE r04: explode would silently drop it)."""
        df = spark.createDataFrame(
            pd.DataFrame({"doc_id": [0, 1, 2],
                          "text": ["good words here", "bad junk stuff", ""],
                          "label": [1, 0, 0]}),
            "doc_id long, text string, label int")
        nb = 256
        got_w, got_b = CL.train_logreg(df, "text", "doc_id", "label",
                                       n_buckets=nb, iters=8, lr=0.5)
        feats = df.select(
            "doc_id", F.explode(DS.ngrams_expr(F.col("text"))).alias("ng"),
        ).select(
            "doc_id", HS.bucket_fast_expr(F.col("ng"), nb).alias("b"),
        ).collect()
        feats_by_id: dict = {0: [], 1: [], 2: []}
        for r in feats:
            feats_by_id[r.doc_id].append(r.b)
        assert feats_by_id[2] == []
        want_w, want_b = CL.train_logreg_python_bucketed(
            feats_by_id, {0: 1.0, 1: 0.0, 2: 0.0}, iters=8, lr=0.5)
        assert got_b == pytest.approx(want_b, abs=1e-9)
        assert set(got_w) == set(want_w)
        for b in want_w:
            assert got_w[b] == pytest.approx(want_w[b], abs=1e-9), b

    def test_trained_model_separates(self, spark):
        """End to end: train on the planted corpus, score it back —
        every doc must land on its label's side of the boundary."""
        df = _labeled(spark)
        model = CL.train_logreg(df, "text", "doc_id", "label",
                                n_buckets=4096, iters=30, lr=1.0)
        out = {r.doc_id: r.keep for r in CL.score_with_model(
            df, "text", "doc_id", model, n_buckets=4096).collect()}
        for i in range(len(GOOD)):
            assert out[i] is True, i
        for i in range(len(GOOD), len(GOOD) + len(BAD)):
            assert out[i] is False, i

    def test_l2_shrinks_weights(self, spark):
        df = _labeled(spark)
        w0, _ = CL.train_logreg(df, "text", "doc_id", "label",
                                n_buckets=1024, iters=5, lr=0.5, l2=0.0)
        w1, _ = CL.train_logreg(df, "text", "doc_id", "label",
                                n_buckets=1024, iters=5, lr=0.5, l2=0.5)
        n0 = sum(v * v for v in w0.values())
        n1 = sum(v * v for v in w1.values())
        assert n1 < n0


class TestExprInference:
    def test_expr_matches_exploded_path(self, spark):
        """The zero-shuffle aggregate() form must reproduce the
        explode+join path (tolerance: the fold sums in array order,
        the aggregation in partition order)."""
        df = _labeled(spark)
        w = {r.bucket: r.wgt for r in CL.hash_weights_table(spark).collect()}
        got = {r.doc_id: r.logit for r in df.select(
            "doc_id", CL.classifier_score_expr(F.col("text"), w, bias=-0.25)
            .alias("logit")).collect()}
        want = {r.doc_id: r.logit for r in CL.classifier_score(
            df, "text", "doc_id", CL.hash_weights_table(spark),
            bias=-0.25).collect()}
        assert set(got) == set(want)
        for i in want:
            assert got[i] == pytest.approx(want[i], abs=1e-9), i

    def test_empty_text_and_empty_weights(self, spark):
        df = spark.createDataFrame(
            pd.DataFrame({"doc_id": [1], "text": [""]}),
            "doc_id long, text string")
        [r0] = df.select(CL.classifier_score_expr(
            F.col("text"), {"ab": 1.0}, bias=2.5).alias("s")).collect()
        assert r0.s == 2.5
        [r1] = df.select(CL.classifier_score_expr(
            F.col("text"), {}, bias=-1.0).alias("s")).collect()
        assert r1.s == -1.0

    def test_int_keyed_fast_profile(self, spark):
        df = _labeled(spark)
        model = CL.train_logreg(df, "text", "doc_id", "label",
                                n_buckets=1024, iters=10, lr=0.5)
        w, bias = model
        got = {r.doc_id: r.s > 0 for r in df.select(
            "doc_id", CL.classifier_score_expr(
                F.col("text"), w, bias=bias, n_buckets=1024).alias("s"))
            .collect()}
        want = {r.doc_id: r.keep for r in CL.score_with_model(
            df, "text", "doc_id", model, n_buckets=1024).collect()}
        assert got == want
