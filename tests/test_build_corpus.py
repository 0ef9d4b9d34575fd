"""The composed end-to-end corpus-build job (jobs/build_corpus.py).

Stage semantics on a hand-built corpus with known plantings, plus the
checkpoint-resume wrapper. Cross-engine value parity for the full
chain lives in the corpus_build gate entry (__spark_entry__.py) — the
DuckDB twin is run by tools/check_oracle.py and the driver, not here.
"""

import duckdb
import pandas as pd
import pytest
from pyspark.sql import functions as F

from jobs.build_corpus import build_corpus, build_corpus_sql, run_build_corpus
from social_media_pii_scrubber_spark.functions import encoding as ENC
from social_media_pii_scrubber_spark.operators.hashing import MD5

GOOD = ("the data pipeline reads the table and writes the result with "
        "a clean filter step so the output stays small and useful for "
        "everyone who needs the report each day without any extra work")
BOILER = "this shared boilerplate navigation line appears on many pages."
SOUP = "$$$ ### @!~% symbol soup junk page "


def _uniq(i):
    """Per-doc tokens: each doc needs >= ~8 unique tokens on top of the
    shared GOOD body or the near-dup stage (jaccard >= 0.8) collapses
    the whole corpus onto one doc."""
    return " ".join(f"w{i}x{j}" for j in range(8))


def _pages(spark):
    rows = []
    for i in range(40):
        host = i % 5
        url = f"https://Host{host}.example/p/{i}?utm_source=x"
        text = f"{GOOD} marker {_uniq(i)} t{i}."
        if i == 11:
            # canonical-url dup of page 10 (tracking params differ only)
            url = "https://host0.example/p/10?utm_campaign=y#frag"
        if i == 21:
            text = f"{GOOD} marker {_uniq(20)} t20."  # exact dup of 20
        if i == 31:
            # near-dup of 30: 30's text plus one trailing word
            text = f"{GOOD} marker {_uniq(30)} t30. almost"
        if i % 5 == 4 and i != 39:
            text = SOUP + str(i)  # host4 is mostly junk
        if i in (7, 17):
            text = BOILER + "\n" + text  # shared line, two occurrences
        rows.append((i, url, text, "en" if i % 3 else "de"))
    return spark.createDataFrame(
        pd.DataFrame(rows, columns=["doc_id", "url", "text", "lang"]))


@pytest.fixture(scope="module")
def built(spark):
    # classifier_bias=100: every surviving doc's |ngram-weight sum| is
    # < 0.5 * n_ngrams < 100, so the classifier stage passes ALL rows —
    # these tests pin the dedup/host/mix stages; the classifier
    # DECISION is pinned by test_classifier_gate_can_drop_all and the
    # corpus_build gate entry
    out = build_corpus(
        _pages(spark), id_col="doc_id", family=MD5,
        classifier_bias=100.0,
        budgets={"en": 100_000, "de": 100_000},
        pack_budget=128, pack_buckets=4,
    )
    return {r["doc_id"]: r for r in out.collect()}


def test_schema_and_nonempty(built):
    # every page survives except the planted dups and host4
    assert set(built) == {i for i in range(40) if i % 5 != 4} - {11, 21, 31}
    row = next(iter(built.values()))
    assert set(row.asDict()) == {
        "doc_id", "canonical_url", "lang", "n_tok", "cum_tokens",
        "logit_fp", "bucket", "bin", "offset", "clean_text"}


def test_canonical_url_dedup_drops_planted_dup(built):
    # page 11 is a canonical collision with page 10 → min id (10) wins
    assert 11 not in built
    assert built[10]["canonical_url"].startswith("https://host0.example/p/10")


def test_exact_and_near_dup_drop_non_representatives(built):
    assert 21 not in built  # exact dup of 20
    assert 31 not in built  # near-dup of 30 (jaccard >= 0.8)
    assert 20 in built and 30 in built  # the min-id representatives


def test_bad_host_filtered_even_for_good_pages(built):
    # host4 (i % 5 == 4) is ~80% soup → keep_frac < 0.25 → the whole
    # host is dropped, INCLUDING page 39 which would pass the quality
    # gate on its own text
    assert all(i % 5 != 4 for i in built)


def test_shared_line_survives_only_first_occurrence(built):
    assert "boilerplate navigation" in built[7]["clean_text"]
    assert "boilerplate navigation" not in built[17]["clean_text"]


def test_mix_budget_zero_for_unbudgeted_stratum(spark):
    out = build_corpus(
        _pages(spark), id_col="doc_id", family=MD5,
        classifier_bias=100.0,
        budgets={"en": 100_000},  # no 'de' budget → stratum dropped
        pack_budget=128, pack_buckets=4,
    )
    assert out.filter(F.col("lang") == "de").count() == 0


def test_fix_encoding_repairs_before_scoring(spark):
    # doc 5's text arrives mojibake-damaged (utf8 decoded as cp1252
    # somewhere upstream). With fix_encoding=True the repair runs at
    # s0 — BEFORE dedup fingerprints and quality scoring — so the
    # surviving clean_text carries the repaired characters; without
    # the flag the damage flows through untouched. The DuckDB twin
    # with the same flag agrees byte-for-byte on the repaired doc.
    clean5 = f"{GOOD} café’s naïve résumé summary {_uniq(5)} t5."
    pdf = pd.DataFrame(
        [(i, f"https://host{i % 5}.example/p/{i}",
          ENC.damage(clean5) if i == 5
          else f"{GOOD} marker {_uniq(i)} t{i}.",
          "en")
         for i in range(8)],
        columns=["doc_id", "url", "text", "lang"])
    kw = dict(id_col="doc_id", classifier_bias=100.0,
              budgets={"en": 100_000}, pack_budget=128, pack_buckets=4)

    repaired = build_corpus(
        spark.createDataFrame(pdf), family=MD5,
        fix_encoding=True, **kw)
    row = {r["doc_id"]: r for r in repaired.collect()}[5]
    assert "café’s naïve" in row["clean_text"]

    raw = build_corpus(
        spark.createDataFrame(pdf), family=MD5,
        fix_encoding=False, **kw)
    row_raw = {r["doc_id"]: r for r in raw.collect()}.get(5)
    assert row_raw is None or "cafÃ©" in row_raw["clean_text"]

    con = duckdb.connect()
    con.register("pages", pdf)
    twin = con.sql(build_corpus_sql(
        "select * from pages", fix_encoding=True, **kw)).df()
    twin5 = twin[twin["doc_id"] == 5]["clean_text"].iloc[0]
    assert twin5 == row["clean_text"]


def test_classifier_gate_can_drop_all(spark):
    out = build_corpus(
        _pages(spark), id_col="doc_id", family=MD5,
        classifier_bias=-1000.0,  # |sum| < 100 → logit < 0 everywhere
        budgets={"en": 100_000, "de": 100_000},
        pack_budget=128, pack_buckets=4,
    )
    assert out.count() == 0


def test_reliable_checkpoint_reaches_every_cut(spark, tmp_path, monkeypatch):
    """checkpoint='reliable' reaches every lineage cut of the production
    build, s3's candidate list and connected-components iterations
    included: with localCheckpoint disabled the build still runs and
    returns the default build's rows."""
    kw = dict(id_col="doc_id", classifier_bias=100.0,
              budgets={"en": 100_000, "de": 100_000},
              pack_budget=128, pack_buckets=4)
    pages = _pages(spark)
    want = sorted(build_corpus(pages, **kw).collect())
    spark.sparkContext.setCheckpointDir(str(tmp_path / "ckpt"))

    def no_local(self, eager=True, storageLevel=None):
        raise AssertionError("localCheckpoint under checkpoint='reliable'")

    # the session's concrete DataFrame class, not the pyspark.sql base
    monkeypatch.setattr(type(pages), "localCheckpoint", no_local)
    got = sorted(build_corpus(pages, checkpoint="reliable", **kw).collect())
    assert want and got == want


def test_run_build_corpus_resume_skips_done_buckets(spark, tmp_path,
                                                    crash_on_mark_done):
    out_dir = str(tmp_path / "corpus")
    kw = dict(id_col="doc_id", family=MD5,
              classifier_bias=100.0,
              budgets={"en": 100_000, "de": 100_000},
              pack_budget=128, pack_buckets=4)
    wrapper = dict(n_buckets=4, buckets_per_batch=1)
    pages = _pages(spark)
    # bucket 0 marked; bucket 1 written but not marked: the resume must
    # replace it, not append to it
    crash_on_mark_done(2)
    with pytest.raises(RuntimeError, match="injected failure"):
        run_build_corpus(spark, pages, out_dir, **wrapper, **kw)
    res = run_build_corpus(spark, pages, out_dir,
                           audit_path=str(tmp_path / "audit"),
                           **wrapper, **kw)
    assert sorted(res["skipped_buckets"] + res["written_buckets"]) == [0, 1, 2, 3]
    assert len(res["skipped_buckets"]) >= 1  # resume skipped finished work
    data = spark.read.parquet(f"{out_dir}/data")
    full = build_corpus(pages, **kw)
    assert data.count() == full.count()
    audit = spark.read.parquet(str(tmp_path / "audit"))
    assert audit.agg(F.sum("rows_kept")).first()[0] == full.count()


def test_pii_density_gate_drops_contact_dump(spark):
    # doc 5 is good prose plus a contact block: it passes the heuristic
    # quality gate (it reads like text) but its PII density is way past
    # 3 hits/100 words. With pii_max_bp=300 it drops — in BOTH engines;
    # without the opt-in it survives and s9 scrubs the contacts.
    contact = (" staff contacts are ann@corp.example and bob@corp.example"
               " and cal@corp.example and dee@corp.example plus"
               " 555-123-4567 or 555-987-6543 any weekday")
    pdf = pd.DataFrame(
        [(i, f"https://host{i % 5}.example/p/{i}",
          f"{GOOD} marker {_uniq(i)} t{i}." + (contact if i == 5 else ""),
          "en")
         for i in range(8)],
        columns=["doc_id", "url", "text", "lang"])
    kw = dict(id_col="doc_id", classifier_bias=100.0,
              budgets={"en": 100_000}, pack_budget=128, pack_buckets=4)

    kept_open = {r["doc_id"] for r in build_corpus(
        spark.createDataFrame(pdf), family=MD5, **kw).collect()}
    assert 5 in kept_open
    kept_gated = {r["doc_id"] for r in build_corpus(
        spark.createDataFrame(pdf), family=MD5,
        pii_max_bp=300, **kw).collect()}
    assert 5 not in kept_gated
    assert kept_gated == kept_open - {5}  # the gate touches ONLY doc 5

    con = duckdb.connect()
    con.register("pages", pdf)
    twin = con.sql(build_corpus_sql(
        "select * from pages", pii_max_bp=300, **kw)).df()
    assert set(twin["doc_id"]) == kept_gated
