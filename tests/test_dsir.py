"""DSIR hashed-ngram importance resampling (operators/dsir.py).

Value checks are against ``dsir_weights_python`` — an independent
scalar implementation (Counter + hashlib) — not against the Spark
expressions themselves; the DuckDB twin agreement is exercised by the
oracle-gate entries (``dsir_weights`` / ``dsir_topk``) and the fuzz
twins in test_cross_engine_fuzz.
"""

import math

import pandas as pd
import pytest
from pyspark.sql import functions as F

from social_media_pii_scrubber_spark.operators import dsir as DS
from social_media_pii_scrubber_spark.operators.hashing import XXHASH64

SRC = {
    1: "the quick brown fox jumps high",        # en: target vocabulary
    2: "der schnelle braune fuchs springt hoch",  # de: none of it
    3: "the lazy dog jumps over fox",           # en: target vocabulary
    4: "ein fauler hund schlaeft ganz tief",    # de: none of it
    5: "",  # empty doc must survive with logw == 0
    6: "the the the quick quick dog",  # multiplicity matters
}
# Repeated so the target counts beat the Laplace floor: with a
# 2-sentence target over 256 buckets, smoothing flattens p_target to
# near-uniform and nothing discriminates — the flip side of the
# absent-bucket inversion this module's smoothing guards against.
TGT = ["the quick brown fox jumps over the lazy dog"] * 20


def _weights_spark(spark, src=SRC, tgt=TGT):
    d = spark.createDataFrame(
        pd.DataFrame({"doc_id": list(src), "text": list(src.values())}),
        "doc_id long, text string",
    )
    t = spark.createDataFrame(pd.DataFrame({"text": tgt}), "text string")
    ratio = DS.log_ratio(
        DS.bucket_distribution(t, "text"), DS.bucket_distribution(d, "text")
    )
    return DS.dsir_weights(d, "text", "doc_id", ratio)


class TestWeights:
    def test_matches_scalar_reference(self, spark):
        got = {r.doc_id: r.logw for r in _weights_spark(spark).collect()}
        want = DS.dsir_weights_python(SRC, TGT)
        assert set(got) == set(want)
        for i in want:
            assert got[i] == pytest.approx(want[i], abs=1e-9), i

    def test_empty_doc_scores_zero_and_is_kept(self, spark):
        got = {r.doc_id: r.logw for r in _weights_spark(spark).collect()}
        assert got[5] == 0.0

    def test_multiplicity_counts(self, spark):
        """DSIR scores occurrences, not the distinct shingle set
        (unlike dedup's shingles_expr): ngrams_expr must emit every
        occurrence of a repeated uni/bigram."""
        df = spark.createDataFrame(
            pd.DataFrame({"text": ["a a a"]}), "text string")
        [row] = df.select(DS.ngrams_expr(F.col("text")).alias("ng")).collect()
        assert sorted(row.ng) == ["a", "a", "a", "a a", "a a"]

    def test_target_language_scores_higher(self, spark):
        """English source docs (sharing target vocabulary) must outrank
        the German docs under an English target."""
        got = {r.doc_id: r.logw for r in _weights_spark(spark).collect()}
        assert min(got[1], got[3]) > max(got[2], got[4])


class TestFastProfile:
    def test_fast_profile_same_semantics(self, spark):
        """The xxhash64/bigint production bucketer must reproduce the
        md5-profile semantics on the planted corpus: empty doc scores
        0, target-vocabulary docs outrank the off-target ones (hash
        family changes collisions, not the decision structure)."""
        d = spark.createDataFrame(
            pd.DataFrame({"doc_id": list(SRC), "text": list(SRC.values())}),
            "doc_id long, text string",
        )
        t = spark.createDataFrame(pd.DataFrame({"text": TGT}), "text string")
        nb = 4096
        ratio = DS.log_ratio(
            DS.bucket_distribution(t, "text", nb, family=XXHASH64),
            DS.bucket_distribution(d, "text", nb, family=XXHASH64),
        )
        got = {r.doc_id: r.logw
               for r in DS.dsir_weights(d, "text", "doc_id", ratio, nb,
                                        family=XXHASH64).collect()}
        assert got[5] == 0.0
        assert min(got[1], got[3]) > max(got[2], got[4])


class TestTopK:
    def test_deterministic_and_sized(self, spark):
        w = _weights_spark(spark)
        a = sorted(r.doc_id for r in DS.dsir_topk(w, "doc_id", 3).collect())
        b = sorted(r.doc_id for r in DS.dsir_topk(w, "doc_id", 3).collect())
        assert a == b and len(a) == 3

    def test_seed_changes_draw_but_not_weights(self, spark):
        w = _weights_spark(spark)
        rows1 = {r.doc_id: (r.logw, r.gumbel_key)
                 for r in DS.dsir_topk(w, "doc_id", 6, seed=31).collect()}
        rows2 = {r.doc_id: (r.logw, r.gumbel_key)
                 for r in DS.dsir_topk(w, "doc_id", 6, seed=99).collect()}
        assert {i: v[0] for i, v in rows1.items()} == \
               {i: v[0] for i, v in rows2.items()}
        assert any(rows1[i][1] != rows2[i][1] for i in rows1)

    def test_gumbel_key_is_logw_plus_gumbel(self, spark):
        w = _weights_spark(spark)
        for r in DS.dsir_topk(w, "doc_id", 6).collect():
            assert math.isfinite(r.gumbel_key)
            assert r.gumbel_key != r.logw  # noise actually added

    def test_heavy_weight_always_selected(self, spark):
        """A doc whose profile IS the target distribution dominates the
        draw: across several seeds it is always in the top-2 of 6."""
        src = {**SRC, 9: TGT[0]}
        w = _weights_spark(spark, src=src)
        for seed in (1, 7, 31, 99):
            top = [r.doc_id for r in DS.dsir_topk(w, "doc_id", 2, seed=seed)
                   .collect()]
            assert 9 in top, seed


class TestSampleByRate:
    """Rate-based Gumbel selection (the no-sort 10^12-doc path)."""

    def _weights(self, spark):
        import numpy as np
        rng = np.random.default_rng(5)
        n = 400
        return spark.createDataFrame(
            pd.DataFrame({"doc_id": range(n),
                          "logw": rng.normal(0.0, 1.0, n)}),
            "doc_id long, logw double")

    def test_realized_fraction_near_rate(self, spark):
        w = self._weights(spark)
        got = DS.dsir_sample_by_rate(w, "doc_id", rate=0.25).count()
        assert 0.15 * 400 <= got <= 0.35 * 400, got

    def test_higher_weight_overselected(self, spark):
        w = self._weights(spark)
        sel = DS.dsir_sample_by_rate(w, "doc_id", rate=0.25)
        joined = w.join(sel.select("doc_id", F.lit(1).alias("s")),
                        on="doc_id", how="left").collect()
        rows = sorted(joined, key=lambda r: r.logw)
        lo = rows[:100]
        hi = rows[-100:]
        hit = lambda rs: sum(1 for r in rs if r.s is not None)
        assert hit(hi) > 2 * hit(lo), (hit(hi), hit(lo))

    def test_deterministic(self, spark):
        w = self._weights(spark)
        a = sorted(r.doc_id for r in
                   DS.dsir_sample_by_rate(w, "doc_id", 0.2).collect())
        b = sorted(r.doc_id for r in
                   DS.dsir_sample_by_rate(w, "doc_id", 0.2).collect())
        assert a == b and len(a) > 0
