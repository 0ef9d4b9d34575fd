"""Operator semantics: joins, pivots, dedup, similarity, media, windows."""

import duckdb
import pandas as pd
import pytest
from pyspark.sql import functions as F

from __spark_entry__ import ORACLE_SF
from social_media_pii_scrubber_spark.operators.dedup import (
    exact_dedup, jaccard_pairs, jaccard_pairs_sql, lsh_candidate_pairs,
    lsh_candidate_pairs_sql, simhash_signature,
)
from social_media_pii_scrubber_spark.operators.hashing import MD5, XXHASH64
from social_media_pii_scrubber_spark.operators.joins import (
    anti_join, semi_flag_join, zip_longest_join,
)
from social_media_pii_scrubber_spark.operators.media import scrub_media
from social_media_pii_scrubber_spark.operators.pivots import (
    extract_category_expr, pivot_count,
)
from social_media_pii_scrubber_spark.operators.similarity import (
    COORD_PLANES, cosine_topk, hyperplanes, lsh_topk,
)
from social_media_pii_scrubber_spark.operators.windows import photo_seq


class TestJoins:
    def test_semi_flag(self, spark):
        df = spark.createDataFrame(pd.DataFrame({"link": ["a", "b", "c"]}))
        fav = spark.createDataFrame(pd.DataFrame({"link": ["b"]}))
        got = {r.link: r.fav for r in semi_flag_join(df, fav, "link", "fav").collect()}
        assert got == {"a": False, "b": True, "c": False}

    def test_anti(self, spark):
        df = spark.createDataFrame(pd.DataFrame({"k": ["a", "b", "c"]}))
        ex = spark.createDataFrame(pd.DataFrame({"k": ["b"]}))
        assert {r.k for r in anti_join(df, ex, "k").collect()} == {"a", "c"}

    def test_zip_longest_fill(self, spark):
        a = spark.createDataFrame(pd.DataFrame({"_ord": [1, 2, 3], "a": ["x", "y", "z"]}))
        b = spark.createDataFrame(pd.DataFrame({"_ord": [1, 2], "b": ["p", "q"]}))
        rows = {r.rn: (r.a, r.b) for r in zip_longest_join([a, b]).collect()}
        assert rows == {1: ("x", "p"), 2: ("y", "q"), 3: ("z", "")}

    def test_zip_longest_size_guard(self, spark):
        """The single-partition positional zip must refuse corpus-scale
        inputs (raise_error fires inside the plan)."""
        import pytest

        df = spark.range(10).select(
            F.col("id").alias("_ord"), F.col("id").cast("string").alias("v")
        )
        assert zip_longest_join([df], max_rows=100).count() == 10
        with pytest.raises(Exception, match="max_rows"):
            zip_longest_join([df], max_rows=5).collect()


class TestPivots:
    def test_last_match_wins(self, spark):
        # 'small ring' contains both; 'ring' is later in the list → wins
        df = spark.createDataFrame(pd.DataFrame({"t": ["small ring", "small bolt", "nothing"]}))
        cats = ["small", "ring", "other"]
        got = [r[0] for r in df.select(extract_category_expr(F.col("t"), cats)).collect()]
        assert got == ["ring", "small", "other"]

    def test_pivot_count_totals(self, spark):
        df = spark.createDataFrame(pd.DataFrame({
            "g": ["x", "x", "y"], "c": ["p", "q", "p"],
        }))
        rows = {r.g: (r.total, r.p, r.q) for r in
                pivot_count(df, "g", "c", ["p", "q"], total_name="total").collect()}
        assert rows == {"x": (2, 1, 1), "y": (1, 1, 0)}


class TestWindows:
    def test_photo_seq_format(self, spark):
        df = spark.createDataFrame(
            pd.DataFrame({"post": [1] * 28, "i": list(range(28))})
        )
        rows = photo_seq(df, "post", "i").orderBy("i").collect()
        seqs = [r.photo_seq for r in rows]
        assert seqs[0] == "0A" and seqs[25] == "0Z" and seqs[26] == "1A" and seqs[27] == "1B"


class TestDedup:
    def _docs(self, spark):
        return spark.createDataFrame(pd.DataFrame({
            "doc_id": [1, 2, 3, 4],
            "text": [
                "the quick brown fox jumps over the lazy dog today",
                "the quick brown fox jumps over the lazy dog today",   # exact dup of 1
                "the quick brown fox jumps over the lazy cat today",   # near dup
                "completely different words appear here and nothing matches at all",
            ],
        }))

    @pytest.mark.parametrize("family", [MD5, XXHASH64], ids=lambda f: f.name)
    def test_exact_dedup(self, spark, family):
        out = exact_dedup(self._docs(spark), "text", "doc_id", family=family)
        assert {r.doc_id for r in out.collect()} == {1, 3, 4}

    def test_exact_dedup_families_keep_same_ids(self, spark):
        """On collision-free data the production fingerprint keeps
        exactly the oracle profile's ids: the sf0.01 documents plus
        planted copies that differ only in case and outer whitespace
        (both normalized away), so each copy must be dropped."""
        docs = spark.read.parquet(f"{ORACLE_SF}/documents.parquet") \
            .select("doc_id", "text")
        copies = docs.filter(F.col("doc_id") % 10 == 0).select(
            (F.col("doc_id") + 10 ** 9).alias("doc_id"),
            F.concat(F.lit("  "), F.upper("text")).alias("text"))
        df = docs.unionByName(copies)
        keep = {f.name: {r.doc_id for r in
                         exact_dedup(df, "text", "doc_id", family=f).collect()}
                for f in (MD5, XXHASH64)}
        assert keep["md5"] == keep["xxhash64"]
        assert not any(i >= 10 ** 9 for i in keep["md5"])

    @pytest.mark.parametrize("family", [MD5, XXHASH64], ids=lambda f: f.name)
    def test_lsh_finds_dups(self, spark, family):
        pairs = {(r.id_a, r.id_b) for r in
                 lsh_candidate_pairs(self._docs(spark), "text", "doc_id",
                                     family=family).collect()}
        assert (1, 2) in pairs
        assert all(4 not in p for p in pairs)

    def test_jaccard_exact_dup_is_1(self, spark):
        rows = {(r.id_a, r.id_b): r.jaccard for r in
                jaccard_pairs(self._docs(spark), "text", "doc_id", threshold=0.0).collect()}
        assert rows[(1, 2)] == 1.0
        if (1, 3) in rows:
            assert 0 < rows[(1, 3)] < 1.0

    # doc 2 = doc 1 + two words: 8 of 10 shingles shared, Jaccard exactly
    # 4/5; doc 4 = doc 3 + two words: 6 of 8, Jaccard 3/4. The words are
    # chosen so both pairs are LSH candidates in both families.
    _A = " ".join(f"w0x{j}" for j in range(10))
    _C = " ".join(f"v0x{j}" for j in range(8))
    BOUNDARY = pd.DataFrame({"doc_id": [1, 2, 3, 4],
                             "text": [_A, _A + " w0y0 w0y1",
                                      _C, _C + " v0y0 v0y1"]})

    @pytest.mark.parametrize("family", [MD5, XXHASH64], ids=lambda f: f.name)
    def test_jaccard_threshold_boundary(self, spark, family):
        """Threshold 0.8 keeps the pair at exactly 4/5 and drops the
        pair at 3/4."""
        docs = spark.createDataFrame(self.BOUNDARY)
        cands = {(r.id_a, r.id_b) for r in lsh_candidate_pairs(
            docs, "text", "doc_id", family=family).collect()}
        assert {(1, 2), (3, 4)} <= cands
        got = {(r.id_a, r.id_b): r.jaccard for r in jaccard_pairs(
            docs, "text", "doc_id", family=family).collect()}
        assert got == {(1, 2): 0.8}

    def test_jaccard_sql_threshold_boundary(self):
        """The DuckDB twin applies the same predicate at the boundary."""
        con = duckdb.connect()
        con.register("docs", self.BOUNDARY)
        cands = con.sql(lsh_candidate_pairs_sql("docs", "text", "doc_id"))
        assert {(1, 2), (3, 4)} <= set(cands.fetchall())
        got = con.sql(jaccard_pairs_sql("docs", "text", "doc_id")).fetchall()
        assert got == [(1, 2, 0.8)]

    def test_simhash_identical_texts_match(self, spark):
        sigs = {r.doc_id: r.simhash for r in
                simhash_signature(self._docs(spark), "text", "doc_id").collect()}
        assert sigs[1] == sigs[2]
        assert len(sigs[1]) == 16 and set(sigs[1]) <= {"0", "1"}


class TestSimilarity:
    def test_topk_shape_and_selfsim(self, spark, sf_dir):
        e = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
        out = cosine_topk(e, e.filter(F.col("vec_id") == 0), "vec_id", "embedding", k=3)
        rows = out.collect()
        assert len(rows) == 3
        assert all(r.query_id == 0 and r.match_id != 0 for r in rows)
        assert rows == sorted(rows, key=lambda r: r.rk)

    def test_lsh_subset_of_brute_candidates(self, spark, sf_dir):
        e = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
        q = e.filter(F.col("vec_id") == 0)
        brute_best = cosine_topk(e, q, "vec_id", "embedding", k=1).collect()[0].cosine
        for planes in (COORD_PLANES, hyperplanes(8, 4)):
            ann = lsh_topk(e, q, "vec_id", "embedding", k=3,
                           planes=planes).collect()
            assert 0 < len(ann) <= 3
            # ANN cosines can't exceed the exact best
            assert all(r.cosine <= brute_best for r in ann)


class TestMedia:
    def test_extract_features_shape(self, spark):
        from social_media_pii_scrubber_spark.operators.media import (
            FEATURE_DIM, extract_features,
        )
        df = spark.createDataFrame(pd.DataFrame({
            "url": ["u1", "u2"], "html": [b"abcdef" * 10, None],
        }))
        rows = {r.url: r for r in extract_features(df).collect()}
        assert len(rows["u1"].features) == FEATURE_DIM
        assert abs(sum(rows["u1"].features) - 1.0) < 1e-5
        assert rows["u2"].status.startswith("error:")

    def test_resize_bounds(self, spark):
        from social_media_pii_scrubber_spark.operators.media import resize_media
        df = spark.createDataFrame(pd.DataFrame({
            "url": ["u1"], "html": [b"x" * 10000],
        }))
        r = resize_media(df, target_bytes=100).collect()[0]
        assert r.status == "ok" and len(r.resized_bytes) <= 100

    def test_sample_frames_fanout(self, spark):
        from social_media_pii_scrubber_spark.operators.media import sample_frames
        df = spark.createDataFrame(pd.DataFrame({
            "url": ["u1"], "html": [bytes(range(100))],
        }))
        rows = sample_frames(df, n_frames=4).collect()
        assert len(rows) == 4
        assert [r.frame_idx for r in sorted(rows, key=lambda r: r.frame_idx)] == [0, 1, 2, 3]
        assert all(r.status == "ok" and len(r.frame_bytes) > 0 for r in rows)

    def test_scrub_media_ok_and_error_isolation(self, spark):
        df = spark.createDataFrame(pd.DataFrame({
            "url": ["u1", "u2"],
            "html": [b"0123456789" * 3, None],
        }))
        rows = {r.url: r for r in scrub_media(df).collect()}
        ok = rows["u1"]
        assert ok.status == "ok"
        assert len(ok.scrubbed_bytes) == 30
        assert ok.scrubbed_bytes != b"0123456789" * 3  # middle third masked
        assert ok.width > 0 and ok.height > 0
        bad = rows["u2"]
        assert bad.status.startswith("error:") and bad.scrubbed_bytes is None

    def test_real_decoder_optin_degrades_never_raises(self, monkeypatch):
        """SCRUB_MEDIA_REAL_DECODER=1 with PIL importable but the real
        path unwired must NOT raise out of the worker: records complete
        with status='error:decoder' (per-record never-fail contract,
        smparserbase.py:164-167). Driver-side unit test of the worker
        kernel — monkeypatching can't cross into Spark's Python
        workers."""
        import sys
        import types

        from social_media_pii_scrubber_spark.operators import media

        monkeypatch.setenv("SCRUB_MEDIA_REAL_DECODER", "1")
        monkeypatch.setitem(sys.modules, "PIL", types.ModuleType("PIL"))
        monkeypatch.setattr(media, "_DECODER_CACHE", {})
        dec = media._get_decoder()
        assert isinstance(dec, media._DefaultDecoder)
        assert dec.status == "error:decoder"
        pdf = pd.DataFrame({"url": ["u1", "u2"],
                            "html": [b"0123456789" * 3, None]})
        out = pd.concat(media._scrub_batches(iter([pdf]), "url", "html"))
        assert list(out["status"]) == ["error:decoder", "error:ValueError"]
        # the transform itself still ran (degraded, not skipped)
        assert out["scrubbed_bytes"][0] is not None

    def test_real_decoder_optin_absent_dep_stays_ok(self, monkeypatch):
        """Opt-in env var with PIL genuinely absent = the normal stub
        path, healthy records stay status='ok'."""
        import sys

        from social_media_pii_scrubber_spark.operators import media

        monkeypatch.setenv("SCRUB_MEDIA_REAL_DECODER", "1")
        monkeypatch.setitem(sys.modules, "PIL", None)  # forces ImportError
        monkeypatch.setattr(media, "_DECODER_CACHE", {})
        assert media._get_decoder().status == "ok"


class TestEnsureMinParallelism:
    def test_widens_single_partition_and_nops_when_wide(self, spark):
        from social_media_pii_scrubber_spark.operators.dedup import (
            ensure_min_parallelism,
        )
        cores = spark.sparkContext.defaultParallelism
        narrow = spark.range(0, 1000, 1, 1)
        widened = ensure_min_parallelism(narrow)
        assert widened.rdd.getNumPartitions() >= min(cores, 2)
        assert widened.count() == 1000
        wide = spark.range(0, 1000, 1, cores + 4)
        same = ensure_min_parallelism(wide)
        # already-parallel input must NOT pick up a repartition
        assert same.rdd.getNumPartitions() == cores + 4


class TestSubstringDup:
    def test_planted_identical_docs_fully_duplicated(self, spark):
        from social_media_pii_scrubber_spark.operators.dedup import (
            substring_dup_stats,
        )
        boiler = " ".join(f"tok{i}" for i in range(30))
        uniq = " ".join(f"only{i}" for i in range(30))
        df = spark.createDataFrame(pd.DataFrame({
            "doc_id": [1, 2, 3, 4],
            "text": [boiler, boiler, uniq, "too short"],
        }), "doc_id long, text string")
        got = {r.doc_id: r for r in
               substring_dup_stats(df, "text", "doc_id").collect()}
        assert got[1].dup_fraction == 1.0 and got[2].dup_fraction == 1.0
        assert got[3].dup_fraction == 0.0
        assert 4 not in got  # below one window: no row
        assert got[1].n_windows == got[2].n_windows > 0

    def test_within_doc_repetition_counts(self, spark):
        from social_media_pii_scrubber_spark.operators.dedup import (
            substring_dup_stats,
        )
        span = " ".join(f"w{i}" for i in range(10))
        df = spark.createDataFrame(pd.DataFrame({
            "doc_id": [9], "text": [span + " " + span]}),
            "doc_id long, text string")
        r = substring_dup_stats(df, "text", "doc_id").collect()[0]
        # windows at strides 1 and 11 are the identical span
        assert r.dup_windows >= 2


class TestSubstringRemove:
    """ExactSubstr REMOVAL (Lee et al. 2022): first occurrence by
    (doc, start) keeps the span; all later occurrences lose it."""

    def test_first_occurrence_wins_and_others_are_cut(self, spark):
        from social_media_pii_scrubber_spark.operators.dedup import (
            substring_remove,
        )
        boiler = " ".join(f"tok{i}" for i in range(30))
        uniq = " ".join(f"only{i}" for i in range(30))
        df = spark.createDataFrame(pd.DataFrame({
            "doc_id": [1, 2, 3, 4],
            "text": [boiler, boiler, uniq, "too short"],
        }), "doc_id long, text string")
        got = {r.doc_id: r for r in
               substring_remove(df, "text", "doc_id").collect()}
        assert len(got) == 4  # every doc survives as a row
        # doc 1 is the corpus-wide first occurrence: byte-identical
        assert got[1].text_sub_deduped == boiler
        assert got[1].removed_windows == 0
        # doc 2 is fully boilerplate: every window cut -> empty text
        assert got[2].text_sub_deduped == ""
        assert got[2].removed_windows == 5  # starts 1,6,11,16,21 @ W=10,S=5
        # untouched docs pass through byte-identical (incl. sub-window)
        assert got[3].text_sub_deduped == uniq
        assert got[4].text_sub_deduped == "too short"

    def test_within_doc_repeat_keeps_leading_copy(self, spark):
        from social_media_pii_scrubber_spark.operators.dedup import (
            substring_remove,
        )
        span = " ".join(f"w{i}" for i in range(10))
        df = spark.createDataFrame(pd.DataFrame({
            "doc_id": [9], "text": [span + " " + span]}),
            "doc_id long, text string")
        r = substring_remove(df, "text", "doc_id").collect()[0]
        # the start-11 window duplicates the start-1 window: its ten
        # tokens are removed, the leading copy survives
        assert r.text_sub_deduped == span
        assert r.removed_windows == 1

    def test_partial_overlap_is_not_removed(self, spark):
        """Strided detection only fires on aligned identical windows —
        a span sitting at an unaligned offset in another doc keeps
        its text (the documented approximation vs suffix arrays)."""
        from social_media_pii_scrubber_spark.operators.dedup import (
            substring_remove,
        )
        span = " ".join(f"w{i}" for i in range(12))
        df = spark.createDataFrame(pd.DataFrame({
            "doc_id": [1, 2],
            "text": [span, "pre one " + span + " post"],
        }), "doc_id long, text string")
        got = {r.doc_id: r for r in
               substring_remove(df, "text", "doc_id").collect()}
        assert got[1].removed_windows == 0
        assert got[2].removed_windows == 0
        assert got[2].text_sub_deduped == "pre one " + span + " post"


class TestDriverContract:
    """The driver gate checks only the FIRST 50 queries() keys — these
    tests make the window a checked invariant instead of a comment
    (ADVICE r03: the r03 boundary marker sat at position 61 and 11
    documented entries silently lost their verdicts)."""

    def test_window_boundary_marker_sits_at_exactly_50(self):
        import inspect

        import __spark_entry__ as E

        src = inspect.getsource(E.queries)
        before_marker = src.split("driver-window boundary")[0]
        n_keys_before = before_marker.count('":')
        assert n_keys_before == 50, (
            f"marker after {n_keys_before} entries; the driver gate "
            "checks exactly 50 — move the marker or rotate entries")

    def test_every_query_has_oracle_or_is_documented_rows_only(self):
        import __spark_entry__ as E

        q = set(E.queries())
        o = set(E.oracle_sql())
        rows_only = q - o
        # media_scrub is the ONLY deliberate no-oracle entry (raw binary
        # kernel; value coverage lives in media_scrub_hex). It sits
        # INSIDE the window for r06 — VERDICT r05 item 5 explicitly
        # demanded every last-verdict-r03 entry back in, media_scrub
        # included despite being rows-only — and rotates back out once
        # its verdict refreshes.
        assert rows_only == {"media_scrub"}, rows_only
        assert list(E.queries()).index("media_scrub") < 50
        assert not (o - q), f"orphan oracles: {o - q}"

    def test_windowed_entries_cover_every_touched_module(self):
        """Rotation sanity: the first-50 window must include every
        entry whose operator implementation the CURRENT round changed
        (they are the ones whose driver verdicts need refreshing).
        Round 7 (optimization round): the rewritten paths — line
        dedup, composed build, connected components, c4 filter,
        shared-tokenization quality family, host fingerprint,
        int-bucket scoring explode, norm-hoisted similarity family."""
        import __spark_entry__ as E

        window = list(E.queries())[:50]
        for must in (
                # line_dedup slim-fingerprint rewrite + consumers
                "line_dedup", "paragraph_dedup", "corpus_build",
                # connected-components rewrite + consumers
                "dedup_clusters", "dedup_keep_list", "dedup_keep_best",
                "semdedup_keep", "web_preprocess",
                # c4 last-char terminal rule
                "c4_line_filter",
                # shared tokenization pass (keep/repetition/pipeline)
                "quality_heuristics", "quality_repetition",
                "full_quality_gate", "flagship_pipeline",
                "flagship_from_html", "flagship_with_toxicity",
                "streaming_scrub", "keep_f1",
                # host distinct-count fingerprint
                "host_reputation", "host_filter",
                # int-bucket scoring explode
                "quality_classifier", "dsir_weights", "dsir_topk",
                # norm hoisting + self-join parallelism
                "cosine_topk", "ivf_topk", "ann_amp_topk",
                "embedding_dup_pairs_amp", "ivf_trained_topk",
                "kmeans_centroids"):
            assert must in window, must
