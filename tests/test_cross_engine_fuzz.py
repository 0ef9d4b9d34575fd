"""Cross-engine fuzz: Spark exprs vs their DuckDB SQL twins.

Every column-expression function ships with a DuckDB renderer used as
the correctness oracle; this test feeds both engines adversarial
PII-shaped strings and asserts bit-identical outputs, guarding against
Java-regex vs RE2 semantic drift (word boundaries, char classes) and
float-rounding differences.
"""

import random

import duckdb
import pandas as pd
import pytest
from pyspark.sql import functions as F

from social_media_pii_scrubber_spark.functions import encoding as ENC
from social_media_pii_scrubber_spark.functions import html as H
from social_media_pii_scrubber_spark.functions import langid as L
from social_media_pii_scrubber_spark.functions import quality as Q
from social_media_pii_scrubber_spark.functions import scrub as S
from social_media_pii_scrubber_spark.functions import text as T
from social_media_pii_scrubber_spark.functions import toxicity as TX
from social_media_pii_scrubber_spark.functions import urls as U
from social_media_pii_scrubber_spark.operators import classifier as CLF
from social_media_pii_scrubber_spark.operators import dsir as DS
from social_media_pii_scrubber_spark.operators import hashing as HS
from social_media_pii_scrubber_spark.operators import lines as LN

FRAGMENTS = [
    # url-canonicalization adversaries (tracking-param boundary cases)
    "https://ex.com/p?pref=dark&x=1", "https://ex.com/p?href=abc",
    "HTTPS://Host.EX/p?utm_source=a&ref=hn#frag", "http://h/?a=1&&b=2&",
    # line-operator adversaries
    "good line with enough words.\nshort\nenable javascript now please.",
    # CRLF survivor: split('\n') leaves a trailing \r — Java's bare $
    # would match before it, RE2's wouldn't; the \z twin must agree
    "crlf line with enough words.\r\nplain line with enough words.",
    "ends with period then cr.\r",
    "Accept our cookie policy today!\nreal sentence with five words.",
    "dup line stays here once.\ndup line stays here once.",
    "user_1@a-b.co", "@@handle", "a@b", "x@y.z.museum", "+1 (212) 555-0199",
    "1-555-123-4567x", "2024-12-31T23:59", "2024-13-45", "999.999.999.999",
    "0.0.0.0", "-91.123456, 181.000001", "https://a/%20b?c=d#e", "http://",
    "@", "@_", "word@", "123-45-67890", "55-123-4567", " (555)555-5555 ",
    "tab\tsep", "many   spaces", "_underscore_", "end.", "'quote'", 'a"b',
    "CAPS LOCK TEXT", "mIxEd CaSe", "semi;colon", "2024-01-01 00:00:00.123",
    "12:30", "999-99-9999", "@h@h@h", "a.b@c.d@e.f", "<tag>x</tag>", "%%%",
    "the der le el und pas que", "is ist est",
    "line1\nline1\nline2", "- bullet\n* b2\n1. three\n12.no", "dots...\nmore... ",
    "...", "\n\n", "rep rep rep rep rep", "a b a b a b", "one\n", "x\ny\nx\ny",
    "you STUPID idiot", "hate Hate HATE", "Stupidity is not stupid", "kill killer",
    # html escape/extract adversaries: pre-escaped entities must
    # round-trip untouched (&amp;lt; must not collapse to <), tag soup
    # and script-looking character data must survive as text
    "&lt;already escaped&gt;", "&amp;amp;", "a&b<c>d", "</p><p>", "<!-- x -->",
    "<script>alert(1)</script>", "5 < 6 && 7 > 4", "&nbsp;&copy;",
    # mojibake adversaries: damaged 2- and 3-byte forms, the
    # control-char closing quote, a bare marker, double damage
    "cafÃ© â€” itâ€™s â€œfineâ€\x9d â‚¬5", "loose Ã marker",
    "ÃƒÂ© double-damaged", "Ã… Ã†on Â«xÂ» Â°", "naÃ¯ve faÃ§ade",
]


def _wrap_expr(col):
    """Synthesize an html blob around fuzz text (webpages.py template)."""
    from social_media_pii_scrubber_spark.sources.webpages import _html_expr

    return _html_expr(col, F.lit("en"))


def _wrap_sql(col: str) -> str:
    from social_media_pii_scrubber_spark.sources.webpages import _html_sql

    return _html_sql(col, "'en'")


@pytest.fixture(scope="module")
def corpora():
    random.seed(7)
    texts = [
        " ".join(random.choice(FRAGMENTS) for _ in range(random.randint(1, 6)))
        for _ in range(300)
    ]
    return texts + ["", " ", "a"]


def test_all_twins_agree(spark, corpora):
    df = spark.createDataFrame(pd.DataFrame({"t": corpora}))
    sp = df.select(
        S.scrub_bank_expr(F.col("t")).alias("scrub"),
        Q.n_words_expr(F.col("t")).alias("nw"),
        Q.symbol_ratio_expr(F.col("t")).alias("sr"),
        Q.stopword_fraction_expr(F.col("t")).alias("sw"),
        Q.mean_word_len_expr(F.col("t")).alias("mwl"),
        Q.distinct_ratio_expr(F.col("t")).alias("dr"),
        Q.keep_expr(F.col("t")).alias("keep"),
        L.langid_expr(F.col("t")).alias("lang"),
        T.bpe_ish_token_count_expr(F.col("t")).alias("bpe"),
        T.fingerprint_expr(F.col("t")).alias("fp"),
        T.rolling_hash_expr(F.col("t")).alias("rh"),
        Q.dup_line_fraction_expr(F.col("t")).alias("dlf"),
        Q.top_bigram_fraction_expr(F.col("t")).alias("tbf"),
        Q.ellipsis_line_fraction_expr(F.col("t")).alias("elf"),
        Q.bullet_line_fraction_expr(F.col("t")).alias("blf"),
        Q.repetition_keep_expr(F.col("t")).alias("rkeep"),
        TX.toxicity_score_expr(F.col("t")).alias("tox"),
        TX.toxicity_scrub_expr(F.col("t")).alias("toxs"),
        U.url_canonicalize_expr(F.col("t")).alias("urlc"),
        LN.c4_line_filter_expr(F.col("t")).alias("c4l"),
        H.html_escape_expr(F.col("t")).alias("hesc"),
        H.html_text_expr(_wrap_expr(F.col("t"))).alias("hrt"),
        # DSIR twins: ngram list joined to one string (list renderings
        # differ between numpy and duckdb), bucket hash, gumbel draw
        # rounded to 6dp (JVM vs C libm log() may differ in last ulp)
        F.concat_ws("\x1f", DS.ngrams_expr(F.col("t"))).alias("dsng"),
        HS.bucket_expr(F.col("t")).alias("dsbk"),
        F.round(DS.gumbel_expr(F.col("t")), 6).alias("dsgu"),
        F.round(CLF.hash_weight_expr(F.col("t")), 9).alias("clw"),
        ENC.fix_mojibake_expr(F.col("t")).alias("moji"),
        S.pii_token_count_expr(
            S.scrub_bank_expr(F.col("t"))).alias("piic"),
    ).toPandas()

    con = duckdb.connect()
    con.register("tt", pd.DataFrame({"t": corpora}))
    du = con.sql(
        f"select {S.scrub_bank_sql('t')} as scrub, {Q.n_words_sql('t')} as nw, "
        f"{Q.symbol_ratio_sql('t')} as sr, {Q.stopword_fraction_sql('t')} as sw, "
        f"{Q.mean_word_len_sql('t')} as mwl, {Q.distinct_ratio_sql('t')} as dr, "
        f"{Q.keep_sql('t')} as keep, "
        f"{L.langid_sql('t')} as lang, {T.bpe_ish_token_count_sql('t')} as bpe, "
        f"{T.fingerprint_sql('t')} as fp, {T.rolling_hash_sql('t')} as rh, "
        f"{Q.dup_line_fraction_sql('t')} as dlf, "
        f"{Q.top_bigram_fraction_sql('t')} as tbf, "
        f"{Q.ellipsis_line_fraction_sql('t')} as elf, "
        f"{Q.bullet_line_fraction_sql('t')} as blf, "
        f"{Q.repetition_keep_sql('t')} as rkeep, "
        f"{TX.toxicity_score_sql('t')} as tox, "
        f"{TX.toxicity_scrub_sql('t')} as toxs, "
        f"{U.url_canonicalize_sql('t')} as urlc, "
        f"{LN.c4_line_filter_sql('t')} as c4l, "
        f"{H.html_escape_sql('t')} as hesc, "
        f"{H.html_text_sql(_wrap_sql('t'))} as hrt, "
        # coalesce: duckdb renders an empty ngram list as NULL here,
        # Spark's concat_ws as '' — same contents, different rendering
        f"coalesce(array_to_string({DS.ngrams_sql('t')}, chr(31)), '') as dsng, "
        f"{HS.bucket_sql('t')} as dsbk, "
        f"round({DS.gumbel_sql('t')}, 6) as dsgu, "
        f"round({CLF.hash_weight_sql('t')}, 9) as clw, "
        f"{ENC.fix_mojibake_sql('t')} as moji, "
        f"{S.pii_token_count_sql(S.scrub_bank_sql('t'))} as piic from tt"
    ).df()

    # extractor ∘ synthesizer must be the identity on EVERY fragment —
    # the fuzz-strength form of the byte-identical-extraction invariant
    assert (sp["hrt"] == pd.Series(corpora)).all()

    for col in sp.columns:
        mism = sp[col].astype(str) != du[col].astype(str)
        assert not mism.any(), (
            col,
            [(corpora[i], sp[col][i], du[col][i]) for i in mism[mism].index[:3]],
        )
