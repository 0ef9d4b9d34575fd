"""Flagship pipeline + checkpoint/resume + partitioning end-to-end."""

import re
from pathlib import Path

import pytest
from pyspark.sql import functions as F

from social_media_pii_scrubber_spark.config import ScrubConfig
from social_media_pii_scrubber_spark.plans import checkpoint as C
from social_media_pii_scrubber_spark.plans.checkpoint import (
    CheckpointManifest, write_with_checkpoints,
)
from social_media_pii_scrubber_spark.plans.partitioning import (
    repartition_by_url, salt_expr, url_bucket_expr,
)
from social_media_pii_scrubber_spark.plans.pipeline import filter_scrub_pipeline
from social_media_pii_scrubber_spark.sources.webpages import (
    generate_webpages, webpages_from_documents,
)

CFG = ScrubConfig()

PII_PATTERNS = [
    re.compile(r"\b[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}\b"),  # email
    re.compile(r"\b555-\d{3}-\d{4}\b"),                                  # planted phones
    re.compile(r"https?://"),
]


@pytest.fixture(scope="module")
def pages(spark, sf_dir):
    return webpages_from_documents(spark, sf_dir)


class TestPipeline:
    def test_schema_and_rows(self, pages):
        res = filter_scrub_pipeline(pages, CFG, with_observe=True)
        rows = res.df.collect()
        assert len(rows) > 0
        assert set(res.df.columns) >= {
            "url", "warc_ts", "lang", "pred_lang", "n_words", "keep",
            "scrubbed_text",
        }
        m = res.observation.get
        assert m["rows_in_window"] == len(rows)
        assert m["rows_kept"] + m["rows_dropped"] == m["rows_in_window"]

    def test_both_decision_classes(self, pages):
        df = filter_scrub_pipeline(pages, CFG).df
        kept = df.filter("keep").count()
        dropped = df.filter("not keep").count()
        assert kept > 0 and dropped > 0

    def test_no_planted_pii_survives(self, pages):
        df = filter_scrub_pipeline(pages, CFG).df
        for r in df.select("scrubbed_text").collect():
            for pat in PII_PATTERNS:
                assert not pat.search(r.scrubbed_text), (pat.pattern, r.scrubbed_text[:200])

    def test_model_udf_variant_runs(self, pages):
        df = filter_scrub_pipeline(pages, CFG, use_model_udfs=True).df
        row = df.select(F.min("perplexity"), F.max("perplexity")).collect()[0]
        assert row[0] is not None and row[0] > 0

    def test_date_filter_pushed_to_scan(self, spark, sf_dir):
        # the window predicate must reach the parquet scan (PushedFilters)
        pages = spark.read.parquet(f"{sf_dir}/documents.parquet")
        df = pages.filter(
            F.col("doc_id").between(10, 20)
        ).select("doc_id")
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "PushedFilters" in plan and "doc_id" in plan


class TestGenerator:
    def test_deterministic(self, spark):
        a = generate_webpages(spark, 100).collect()
        b = generate_webpages(spark, 100).collect()
        assert a == b

    def test_skewed_hosts(self, spark):
        df = generate_webpages(spark, 2000)
        host0 = df.filter(F.col("url").startswith("https://host0.example")).count()
        assert 0.2 < host0 / 2000 < 0.45  # ~30% on the hot host


class TestPartitioning:
    def test_bucket_stable_and_bounded(self, spark, pages):
        buckets = pages.select(url_bucket_expr(F.col("url"), 16).alias("b"))
        vals = {r.b for r in buckets.distinct().collect()}
        assert vals <= set(range(16))

    def test_salt_splits_hot_host(self, spark):
        df = generate_webpages(spark, 2000).filter(
            F.col("url").startswith("https://host0.example")
        )
        salts = df.select(salt_expr(F.col("url")).alias("s")).distinct().count()
        assert salts > 8  # hot host spread over most of the 16 salt slots

    def test_repartition_runs(self, spark):
        df = generate_webpages(spark, 500)
        assert repartition_by_url(df, n_partitions=8).rdd.getNumPartitions() == 8


class TestSaltedDistinct:
    def test_exact_vs_direct(self, spark):
        from social_media_pii_scrubber_spark.plans.partitioning import (
            salted_distinct_count, url_host_expr,
        )
        df = generate_webpages(spark, 3000).select(
            url_host_expr(F.col("url")).alias("host"), "url"
        )
        direct = {
            r.host: r.n for r in
            df.groupBy("host").agg(F.count_distinct("url").alias("n")).collect()
        }
        salted = {
            r.host: r.distinct_count for r in
            salted_distinct_count(df, "host", "url").collect()
        }
        assert salted == direct  # exact, not approximate


def _skewed_urls(spark, n=400, hot=200):
    """``n`` rows in 4 partitions; the first ``hot`` share one url, so
    one url bucket holds at least ``hot`` rows."""
    url = F.when(F.col("id") < hot, F.lit("https://hot.example/")) \
        .otherwise(F.concat(F.lit("https://u.example/"), F.col("id").cast("string")))
    return spark.range(n).select(url.alias("url"), "id").repartition(4)


@pytest.fixture
def parquet_writes(monkeypatch):
    """Spy on ``DataFrameWriter.parquet``: one ``{bucket: rows}`` dict
    per call, counted from the frame each call writes."""
    from pyspark.sql import DataFrameWriter

    real = DataFrameWriter.parquet
    calls = []

    def parquet(self, path, *args, **kwargs):
        calls.append({r["bucket"]: r["count"] for r in
                      self._df.groupBy("bucket").count().collect()})
        return real(self, path, *args, **kwargs)

    monkeypatch.setattr(DataFrameWriter, "parquet", parquet)
    return calls


def _files_per_bucket(out):
    return {d.name: len(list(d.glob("*.parquet")))
            for d in Path(out, "data").glob("bucket=*")}


class TestCheckpointResume:
    @pytest.mark.parametrize("cap, budget_share", [(2, None), (None, 4)],
                             ids=["buckets_per_batch", "batch_rows"])
    def test_resume_after_injected_failure(self, spark, pages, tmp_path,
                                           monkeypatch, crash_on_mark_done,
                                           cap, budget_share):
        """The crash lands after the third batch's data is written and
        before any of its buckets is marked done: the resume rewrites
        those buckets, and the overwrite replaces them instead of
        duplicating their rows. Batches are cut either by the bucket
        cap or, with no cap, by a row budget of 1/``budget_share`` of
        the rows. The crashed call leaves the session's overwrite mode
        as it found it."""
        out = str(tmp_path / "out")
        df = filter_scrub_pipeline(pages, CFG).df.drop("warc_ts")
        total = df.count()
        if budget_share:
            monkeypatch.setattr(C, "BATCH_ROWS", total // budget_share)

        batches = []
        real_pack = C._pack_batches

        def pack(*args):
            packed = real_pack(*args)
            if not batches:  # arm on the first call only, not the resume
                batches.extend(packed)
                # batches 0-1 marked, batch 2 written only
                crash_on_mark_done(len(batches[0]) + len(batches[1]) + 1)
            return packed

        monkeypatch.setattr(C, "_pack_batches", pack)
        mode_key = "spark.sql.sources.partitionOverwriteMode"
        mode = spark.conf.get(mode_key)
        with pytest.raises(RuntimeError, match="injected failure"):
            write_with_checkpoints(df, out, n_buckets=8, buckets_per_batch=cap)
        assert spark.conf.get(mode_key) == mode
        if cap:
            assert batches == [[0, 1], [2, 3], [4, 5], [6, 7]]
        else:
            assert len(batches) >= 3 and any(len(b) > 1 for b in batches)
        manifest = CheckpointManifest(out)
        done_first = manifest.done_buckets()
        assert done_first == set(batches[0] + batches[1])

        # resume: only pending buckets are recomputed
        res = write_with_checkpoints(df, out, n_buckets=8, buckets_per_batch=cap)
        assert sorted(res["skipped_buckets"]) == sorted(done_first)
        assert set(res["written_buckets"]) == set(range(8)) - done_first

        got = spark.read.parquet(f"{out}/data").count()
        assert got == total  # no loss, no duplication

    def test_default_writes_one_batch_one_file_per_bucket(
            self, spark, tmp_path, parquet_writes):
        """With default arguments a small frame is written by one write
        job, and each bucket directory holds one parquet file even when
        the frame arrives in several partitions."""
        out = str(tmp_path / "out")
        df = _skewed_urls(spark)
        res = write_with_checkpoints(df, out, n_buckets=8)
        assert res["written_buckets"] == list(range(8))
        assert len(parquet_writes) == 1
        files = _files_per_bucket(out)
        assert files and set(files.values()) == {1}, files
        assert spark.read.parquet(f"{out}/data").count() == 400

    def test_bucket_over_row_budget_gets_own_batch(
            self, spark, tmp_path, monkeypatch, parquet_writes):
        """A bucket over ``BATCH_ROWS`` is written alone; the others are
        packed together up to the budget."""
        monkeypatch.setattr(C, "BATCH_ROWS", 100)
        out = str(tmp_path / "out")
        write_with_checkpoints(_skewed_urls(spark), out, n_buckets=8)
        hot = [c for c in parquet_writes if max(c.values(), default=0) > 100]
        assert len(hot) == 1 and len(hot[0]) == 1, parquet_writes
        for c in parquet_writes:
            assert len(c) == 1 or sum(c.values()) <= 100, parquet_writes
        assert any(len(c) > 1 for c in parquet_writes), parquet_writes
        assert spark.read.parquet(f"{out}/data").count() == 400
        assert set(_files_per_bucket(out).values()) == {1}

    def test_batches_run_the_pipeline_once(self, spark, pages, tmp_path):
        """The bucket batches are cut from one materialized pass: a UDF
        under the pipeline's observe() sees each row once, not once per
        batch (a bucket filter above observe() cannot reach the scan)."""
        import pandas as pd

        seen = spark.sparkContext.accumulator(0)

        @F.pandas_udf("string")
        def counted(text: pd.Series) -> pd.Series:
            seen.add(len(text))
            return text

        out = str(tmp_path / "out")
        df = filter_scrub_pipeline(pages.withColumn("text", counted("text")),
                                   CFG, with_observe=True).df
        write_with_checkpoints(df, out, n_buckets=8, buckets_per_batch=2)
        assert seen.value == spark.read.parquet(f"{out}/data").count() > 0

    def test_audit_from_output_after_resume(self, spark, pages, tmp_path,
                                            crash_on_mark_done):
        """After a crash and a resume, the audit built from the written
        output equals the lineage of the scored frame, and the resumed
        run's Observation covers the whole window exactly once."""
        from social_media_pii_scrubber_spark.plans.audit import (
            AUDIT_COLUMNS, append_audit, bucket_lineage,
        )

        out, audit = str(tmp_path / "out"), str(tmp_path / "audit")
        first = filter_scrub_pipeline(pages, CFG, with_observe=True)
        crash_on_mark_done(5)  # batch 2's data written, not marked
        with pytest.raises(RuntimeError, match="injected failure"):
            write_with_checkpoints(first.df, out, n_buckets=8,
                                   buckets_per_batch=2)
        # a restarted job builds its plan (and its Observation) afresh
        resumed = filter_scrub_pipeline(pages, CFG, with_observe=True)
        res = write_with_checkpoints(resumed.df, out, n_buckets=8,
                                     buckets_per_batch=2)
        assert res["skipped_buckets"] and res["written_buckets"]
        append_audit(spark.read.parquet(f"{out}/data"), audit, "r1", n_buckets=8)

        got = sorted(spark.read.parquet(audit).select(AUDIT_COLUMNS).collect())
        want = sorted(bucket_lineage(resumed.df, "r1", n_buckets=8).collect())
        assert got == want
        obs = resumed.observation.get
        assert obs["rows_in_window"] == sum(r.rows_in for r in got)
        assert obs["rows_kept"] == sum(r.rows_kept for r in got)
        assert obs["rows_dropped"] == sum(r.rows_dropped for r in got)


class TestCorpusStats:
    def test_approx_percentiles_close_to_exact(self, spark, sf_dir):
        """approx=True (the 100-TB rendering: percentile_approx sketch)
        must agree with the exact oracle rendering to within the
        documented rank-error bound — at 500 docs/5 langs, exactly."""
        from social_media_pii_scrubber_spark.plans.stats import corpus_stats

        docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
        exact = {r.lang: r for r in
                 corpus_stats(docs, "text", "lang").collect()}
        approx = {r.lang: r for r in
                  corpus_stats(docs, "text", "lang", approx=True).collect()}
        assert set(exact) == set(approx)
        for lang, e in exact.items():
            a = approx[lang]
            assert (a.n_docs, a.total_tokens, a.total_chars) == \
                (e.n_docs, e.total_tokens, e.total_chars)
            for col in ("len_p50", "len_p90", "len_p99"):
                # sketch returns a real sample value; exact interpolates
                # between neighbours — at 100 docs/group the neighbour
                # gap dominates, so tolerate a few percent of the value
                assert abs(getattr(a, col) - getattr(e, col)) <= \
                    max(2.0, 0.05 * getattr(e, col))
