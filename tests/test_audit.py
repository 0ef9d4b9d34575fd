"""Audit/lineage table semantics."""

from datetime import datetime

from pyspark.sql import functions as F

from social_media_pii_scrubber_spark.config import ScrubConfig
from social_media_pii_scrubber_spark.plans.audit import (
    AUDIT_COLUMNS, append_audit, bucket_lineage,
)
from social_media_pii_scrubber_spark.plans.pipeline import filter_scrub_pipeline
from social_media_pii_scrubber_spark.sources.webpages import webpages_from_documents


def test_bucket_lineage_sums(spark, sf_dir):
    pages = webpages_from_documents(spark, sf_dir)
    scored = filter_scrub_pipeline(pages, ScrubConfig()).df
    lineage = bucket_lineage(scored, run_id="r1", n_buckets=8)
    rows = lineage.collect()
    assert all(r.rows_in == r.rows_kept + r.rows_dropped for r in rows)
    total = sum(r.rows_in for r in rows)
    assert total == scored.count()
    assert all(r.run_id == "r1" for r in rows)


def test_append_audit_idempotent_key(spark, sf_dir, tmp_path):
    pages = webpages_from_documents(spark, sf_dir)
    scored = filter_scrub_pipeline(pages, ScrubConfig()).df
    path = str(tmp_path / "audit")
    append_audit(scored, path, run_id="r1", n_buckets=4)
    append_audit(scored, path, run_id="r2", n_buckets=4)
    audit = spark.read.parquet(path)
    assert audit.select("run_id").distinct().count() == 2
    per_run = audit.groupBy("run_id").agg(F.sum("rows_in").alias("n")).collect()
    assert len({r.n for r in per_run}) == 1  # same corpus → same totals


def test_drop_attribution_covers_mean_word_len(spark):
    # 20 distinct one-letter words, `a` among them: n_words, symbol,
    # stopword and distinct rules pass; mean word length 1.0 < 2.0 fails
    text = " ".join("abcdefghijklmnopqrst")
    pages = spark.createDataFrame(
        [("https://ex.com/p/1", datetime(2024, 6, 1), b"", text, "en")],
        "url string, warc_ts timestamp, html binary, text string, lang string")
    scored = filter_scrub_pipeline(pages, ScrubConfig()).df
    row = bucket_lineage(scored, run_id="r1", n_buckets=1).first()
    drops = {c: row[c] for c in AUDIT_COLUMNS if c.startswith("drop_")}
    assert row.rows_in == row.rows_dropped == 1
    assert drops.pop("drop_mean_word_len") == 1
    assert drops and set(drops.values()) == {0}
