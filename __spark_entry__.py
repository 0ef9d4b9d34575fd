"""Driver contract: flagship entry + operator queries + DuckDB oracles.

Every operator from SURVEY.md §2 (plus the training-pipeline extensions:
dedup, similarity search, text analysis) has a ``queries()`` entry; all
but the genuinely non-SQL-expressible ones (pandas-UDF model stages,
binary media scrub) have an exact ``oracle_sql()`` twin. Column names
are aliased identically on both sides.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from social_media_pii_scrubber_spark.config import ScrubConfig
from social_media_pii_scrubber_spark.functions import encoding as ENC
from social_media_pii_scrubber_spark.functions import html as HT
from social_media_pii_scrubber_spark.functions import langid as L
from social_media_pii_scrubber_spark.functions import quality as Q
from social_media_pii_scrubber_spark.functions import scrub as S
from social_media_pii_scrubber_spark.functions import text as T
from social_media_pii_scrubber_spark.functions import timeparse as TP
from social_media_pii_scrubber_spark.functions import toxicity as TX
from social_media_pii_scrubber_spark.functions import urls as U
from social_media_pii_scrubber_spark.functions import oracle_fixtures as OF
from social_media_pii_scrubber_spark.functions.perplexity import perplexity_pandas_udf
from social_media_pii_scrubber_spark.operators import dates as D
from social_media_pii_scrubber_spark.operators import components as CC
from social_media_pii_scrubber_spark.operators import contamination as CT
from social_media_pii_scrubber_spark.operators import dedup as DD
from social_media_pii_scrubber_spark.operators import hosts as HOSTS
from social_media_pii_scrubber_spark.operators import classifier as CL
from social_media_pii_scrubber_spark.operators import dsir as DS
from social_media_pii_scrubber_spark.operators import evaluation as EV
from social_media_pii_scrubber_spark.operators import joins as J
from social_media_pii_scrubber_spark.operators import lines as LN
from social_media_pii_scrubber_spark.operators import pivots as P
from social_media_pii_scrubber_spark.operators import sampling as SA
from social_media_pii_scrubber_spark.operators import packing as PK
from social_media_pii_scrubber_spark.operators import tfidf as TI
from social_media_pii_scrubber_spark.operators import similarity as SIM
from social_media_pii_scrubber_spark.operators import windows as W
from social_media_pii_scrubber_spark.operators.media import scrub_media
from social_media_pii_scrubber_spark.plans import social as SOC
from social_media_pii_scrubber_spark.plans.stats import corpus_stats, corpus_stats_sql
from social_media_pii_scrubber_spark.plans.pipeline import (
    filter_scrub_pipeline, pipeline_oracle_sql,
)
from social_media_pii_scrubber_spark.sources.webpages import (
    webpages_from_documents, webpages_from_documents_sql,
)

import os
from datetime import datetime

CFG = ScrubConfig()  # default window: 2022-12-31 .. 2024-12-31

# the SF the driver's correctness gate compares at (TESTDATA.md / brief)
ORACLE_SF = os.environ.get("SPARK_GRAFT_ORACLE_SF", "/root/testdata/sf0.01")

# fixed windows matched to the testdata domains
EVENTS_FIRST = datetime(2024, 1, 8)
EVENTS_LAST = datetime(2024, 1, 21, 23, 59, 59)
ORDERS_FIRST = datetime(1996, 1, 1)
ORDERS_LAST = datetime(1998, 12, 31)

SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]

# config for the social-dataflow oracle entries: window inside the events
# domain; identity strings chosen to NOT occur in the synthesized text so
# clean_text is the identity and the SQL twin needs no scrub rendering
# (clean_text itself is locked by pytest goldens + the clean_text_udf gate).
SOCIAL_CFG = ScrubConfig(
    first_name="Zxqfirst", last_name="Zxqlast", username="user_self",
    months_back=1, last_date=EVENTS_LAST,
)
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
PART_CATEGORIES = ["small", "red", "blue", "ring", "gear", "other"]


def _pin_session(spark: SparkSession) -> None:
    """Driver-provided sessions may not be UTC; epoch→timestamp
    derivations (warc_ts, f4) must render identically to the DuckDB
    oracle, which is naive-UTC."""
    spark.conf.set("spark.sql.session.timeZone", "UTC")


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    _pin_session(spark)
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: full filter+scrub pipeline on sf0.001 web pages."""
    _pin_session(spark)
    pages = webpages_from_documents(spark, "/root/testdata/sf0.001")
    return filter_scrub_pipeline(pages, CFG).df


# ---------------------------------------------------------------------------
# queries
# ---------------------------------------------------------------------------

def q_p1_date_filter_events(spark, sf):
    ev = _t(spark, sf, "events")
    return ev.filter(
        D.in_date_range_expr(F.col("ts"), EVENTS_FIRST, EVENTS_LAST)
    ).select("event_id", "ts", "event_type")


def q_p2_orders_window(spark, sf):
    o = _t(spark, sf, "orders")
    return o.filter(
        D.in_date_range_expr(F.col("o_orderdate"), ORDERS_FIRST, ORDERS_LAST)
    ).select("o_orderkey", "o_orderdate", "o_totalprice")


def q_p4_nonblank_documents(spark, sf):
    d = _t(spark, sf, "documents")
    return d.filter(F.trim(F.col("text")) != "").select("doc_id")


def q_p6_anti_join(spark, sf):
    c = _t(spark, sf, "customer")
    big = _t(spark, sf, "orders").filter(F.col("o_totalprice") > 150000)
    return J.anti_join(c, big.withColumnRenamed("o_custkey", "c_custkey"), "c_custkey") \
        .select("c_custkey", "c_name")


def q_j1_semi_flag(spark, sf):
    o = _t(spark, sf, "orders")
    building = _t(spark, sf, "customer").filter(F.col("c_mktsegment") == "BUILDING") \
        .select(F.col("c_custkey").alias("o_custkey"))
    return J.semi_flag_join(o, building, "o_custkey", "is_building") \
        .select("o_orderkey", "o_custkey", "is_building")


def q_j4_zip_longest(spark, sf):
    d = _t(spark, sf, "documents")

    def side(lang, name):
        return d.filter(F.col("lang") == lang).select(
            F.col("doc_id").alias("_ord"), F.col("doc_id").cast("string").alias(name)
        )

    return J.zip_longest_join(
        [side("en", "a"), side("de", "b"), side("fr", "c"), side("es", "d")]
    )


def q_a1_global_counts(spark, sf):
    c = _t(spark, sf, "customer").agg(F.count(F.lit(1)).alias("total_customers"))
    s = _t(spark, sf, "supplier").agg(F.count(F.lit(1)).alias("total_suppliers"))
    return c.crossJoin(s)


def q_a2_groupby_count(spark, sf):
    return (
        _t(spark, sf, "events")
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


def q_a3_pivot_segments(spark, sf):
    c = _t(spark, sf, "customer")
    return P.pivot_count(c, "c_nationkey", "c_mktsegment", SEGMENTS, total_name="total")


def q_a4_dynamic_pivot(spark, sf):
    ev = _t(spark, sf, "events")
    return P.dynamic_pivot_count(ev, "user_id", "event_type")


def q_a5_category_extract(spark, sf):
    p = _t(spark, sf, "part")
    cat = P.extract_category_expr(F.lower(F.col("p_name")), PART_CATEGORIES)
    return (
        p.withColumn("category", cat)
        .groupBy("category")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


def q_a6_distinct(spark, sf):
    return _t(spark, sf, "customer").select("c_mktsegment").distinct()


def q_w1_photo_seq(spark, sf):
    li = _t(spark, sf, "lineitem")
    return W.photo_seq(li, "l_orderkey", "l_linenumber").select(
        "l_orderkey", "l_linenumber", "photo_seq"
    )


def q_w2_week_bins(spark, sf):
    ev = _t(spark, sf, "events")
    bins = D.week_bin_expr(F.col("ts"), datetime(2024, 2, 1))
    return ev.withColumn("week_bin", bins).groupBy("week_bin").agg(
        F.count(F.lit(1)).alias("cnt")
    )


def q_u1_union(spark, sf):
    c = _t(spark, sf, "customer").select(
        F.col("c_name").alias("name"), F.lit("customer").alias("kind")
    )
    s = _t(spark, sf, "supplier").select(
        F.col("s_name").alias("name"), F.lit("supplier").alias("kind")
    )
    return c.unionByName(s)


def _when_string_expr():
    ev_id = F.col("event_id")
    return (
        F.when(ev_id % 3 == 0, F.unix_timestamp(F.col("ts")).cast("string"))
        .when(ev_id % 3 == 1,
              F.concat(F.date_format("ts", "yyyy-MM-dd HH:mm:ss"), F.lit("+05:00")))
        .otherwise(F.lit("not a date"))
    )


def q_f4_parse_when(spark, sf):
    ev = _t(spark, sf, "events")
    w = _when_string_expr()
    return ev.select(
        "event_id",
        w.alias("when_str"),
        TP.parse_when_expr(w).alias("parsed_ts"),
    )


def q_f5_time_string(spark, sf):
    ev = _t(spark, sf, "events")
    return ev.select("event_id", TP.time_string_expr(F.col("ts")).alias("time_str"))


def q_f7_split_kv(spark, sf):
    ev = _t(spark, sf, "events")
    kv = F.concat("event_type", F.lit(": "), F.col("value").cast("string"))
    st = T.split_kv_expr(kv)
    return ev.select("event_id", st.getField("key").alias("k"),
                     st.getField("value").alias("v"))


def q_f8_string_agg(spark, sf):
    ev = _t(spark, sf, "events")
    agg = F.array_join(
        F.transform(
            F.array_sort(F.collect_list(F.struct("event_id", "event_type"))),
            lambda x: x.getField("event_type"),
        ),
        "; ",
    )
    return ev.groupBy("user_id").agg(agg.alias("type_seq"))


def q_f9_contains(spark, sf):
    p = _t(spark, sf, "part")
    return p.select(
        "p_partkey", F.col("p_name").contains("red").alias("has_red")
    )


def q_f10_img_ext(spark, sf):
    p = _t(spark, sf, "part")
    uri = F.concat(
        F.lit("media/img"), F.col("p_partkey").cast("string"),
        F.when(F.col("p_partkey") % 4 == 0, F.lit(".jpg"))
         .when(F.col("p_partkey") % 4 == 1, F.lit(".PNG"))
         .when(F.col("p_partkey") % 4 == 2, F.lit(".txt"))
         .otherwise(F.lit(".TIF")),
    )
    return p.select("p_partkey", T.img_ext_expr(uri).alias("ext"))


def q_f11_ph_num(spark, sf):
    li = _t(spark, sf, "lineitem")
    return li.select(
        "l_orderkey", "l_linenumber",
        T.ph_num_expr(F.col("l_linenumber") * 9).alias("ph"),
    )


def q_f12_json_path(spark, sf):
    ev = _t(spark, sf, "events")
    return ev.select(
        "event_id",
        F.get_json_object("props", "$.k").cast("int").alias("k_val"),
    )


def q_scrub_bank(spark, sf):
    _pin_session(spark)
    pages = webpages_from_documents(spark, sf)
    return pages.select("url", S.scrub_bank_expr(F.col("text")).alias("scrubbed_text"))


_PII_CLASS_PATTERNS = {
    "emails": r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}",
    "phones": r"\b\d{3}[-. ]\d{3}[-. ]\d{4}\b",
    "handles": r"@\w+",
    "urls": r"https?://[^\s]+",
    "geo": r"-?\d{1,3}\.\d{3,}, ?-?\d{1,3}\.\d{3,}",
}


def q_full_quality_gate(spark, sf):
    """The COMPLETE keep decision a production pipeline composes: base
    Gopher/C4 heuristics ∧ repetition family ∧ toxicity gate ∧ langid
    confidence — one row per doc with each family's verdict plus the
    conjunction, all pure column expressions."""
    d = _t(spark, sf, "documents")
    t = F.col("text")
    base = Q.keep_expr(t)
    rep = Q.repetition_keep_expr(t)
    tox = TX.toxicity_keep_expr(t)
    conf = L.langid_margin_expr(t) >= 1
    return d.select(
        "doc_id",
        base.alias("keep_base"),
        rep.alias("keep_repetition"),
        tox.alias("keep_toxicity"),
        conf.alias("keep_lang_confident"),
        (base & rep & tox & conf).alias("keep_full"),
    )


def q_corpus_stats(spark, sf):
    return corpus_stats(_t(spark, sf, "documents"), "text", "lang")


_PII_HEAVY_SUFFIX = (
    " contact: ann@corp.example 555-123-4567 bob@corp.example"
    " 10.0.0.1 cal@corp.example 555-987-6543 dee@corp.example")
_PII_LIGHT_SUFFIX = " reach eve@corp.example or 555-222-3333"


def q_pii_density_filter(spark, sf):
    """FineWeb-style PII-density DROP policy: every 10th doc gets a
    directory-page suffix (7 PII hits — all drop at 3 hits/100 words
    on this corpus's doc lengths), docs = 5 mod 10 get a light contact
    footer (2 hits — the threshold now genuinely decides by length:
    only sub-66-word pages drop). Hits are counted AFTER the scrub as
    inserted {{CLASS}} tokens (inheriting the bank's sequential-order
    semantics — an email's inner @host never double-counts as a
    handle); density is integer basis-points of the word count."""
    d = _t(spark, sf, "documents")
    raw = F.when(F.col("doc_id") % 10 == 0,
                 F.concat(F.col("text"), F.lit(_PII_HEAVY_SUFFIX))
                 ).when(F.col("doc_id") % 10 == 5,
                        F.concat(F.col("text"), F.lit(_PII_LIGHT_SUFFIX))
                 ).otherwise(F.col("text"))
    scrubbed = S.scrub_bank_expr(raw)
    hits = S.pii_token_count_expr(scrubbed)
    words = Q.n_words_expr(raw)
    return d.select(
        "doc_id",
        hits.alias("pii_hits"),
        words.cast("bigint").alias("n_words"),
        S.pii_density_keep_expr(hits, words).alias("keep_pii"),
    )


def _pii_density_filter_sql() -> str:
    raw = ("(case when doc_id % 10 = 0 then text || "
           f"'{_PII_HEAVY_SUFFIX}' "
           "when doc_id % 10 = 5 then text || "
           f"'{_PII_LIGHT_SUFFIX}' "
           "else text end)")  # ASCII, no quotes
    hits = S.pii_token_count_sql(S.scrub_bank_sql("raw"))
    words = Q.n_words_sql("raw")
    keep = S.pii_density_keep_sql("pii_hits", "n_words")
    return (f"select doc_id, pii_hits, n_words, {keep} as keep_pii "
            f"from (select doc_id, {hits} as pii_hits, "
            f"cast({words} as bigint) as n_words "
            f"from (select doc_id, {raw} as raw from documents))")



def q_pii_coverage(spark, sf):
    """Scrub-coverage audit: per-class counts of PII-shaped matches
    BEFORE and AFTER the scrub bank over the planted-PII web pages.
    The after-counts being zero IS the keep/drop-fidelity evidence,
    verified identically by both engines."""
    _pin_session(spark)
    pages = webpages_from_documents(spark, sf)
    scrubbed = S.scrub_bank_expr(F.col("text"))
    aggs = []
    for name, pat in _PII_CLASS_PATTERNS.items():
        aggs.append(F.sum(F.regexp_count(F.col("text"), F.lit(pat))
                          ).alias(f"before_{name}"))
        aggs.append(F.sum(F.regexp_count(scrubbed, F.lit(pat))
                          ).alias(f"after_{name}"))
    return pages.agg(*aggs)


def _pii_coverage_sql() -> str:
    pages_cte = webpages_from_documents_sql("documents")
    scrub = S.scrub_bank_sql("text")
    cols = []
    for name, pat in _PII_CLASS_PATTERNS.items():
        p = pat.replace("'", "''")
        # cast: DuckDB sum(BIGINT) -> HUGEINT, Spark -> BIGINT; the
        # driver's value hash is type-sensitive (see pivots.py).
        cols.append(
            f"cast(sum(len(regexp_extract_all(text, '{p}'))) as bigint)"
            f" as before_{name}"
        )
        cols.append(
            f"cast(sum(len(regexp_extract_all({scrub}, '{p}'))) as bigint)"
            f" as after_{name}"
        )
    return f"with pages as ({pages_cte}) select {', '.join(cols)} from pages"


# round-3 scrub-bank extension classes, planted inline on doc_id
# residues (mod, snippet, count-pattern); both engines re-derive the
# plantings, so before-counts cross-check and after = 0 is the contract.
_PII_EXT_PLANT = {
    "creditcard": (29, " card 4111-1111-1111-1111 on file",
                   r"\b\d{4}[- ]?\d{4}[- ]?\d{4}[- ]?\d{4}\b"),
    "mac": (31, " nic 00:1A:2B:3C:4D:5E up",
            r"\b[0-9A-Fa-f]{2}(:[0-9A-Fa-f]{2}){5}\b"),
    "iban": (37, " iban DE44500105175407324931 paid",
             r"\b[A-Z]{2}\d{2}[A-Z0-9]{11,30}\b"),
}


def q_pii_coverage_ext(spark, sf):
    """Scrub-coverage audit for the round-3 bank classes (credit card,
    MAC address, IBAN): planted inline on doc_id residues, counted
    before and after the full scrub bank. after = 0 cross-engine."""
    _pin_session(spark)
    d = _t(spark, sf, "documents")
    i = F.col("doc_id")
    planted = F.concat(
        F.col("text"),
        *[F.when(i % mod == 0, F.lit(snippet)).otherwise(F.lit(""))
          for mod, snippet, _pat in _PII_EXT_PLANT.values()],
    )
    scrubbed = S.scrub_bank_expr(planted)
    aggs = []
    for name, (_mod, _snippet, pat) in _PII_EXT_PLANT.items():
        aggs.append(F.sum(F.regexp_count(planted, F.lit(pat)))
                    .alias(f"before_{name}"))
        aggs.append(F.sum(F.regexp_count(scrubbed, F.lit(pat)))
                    .alias(f"after_{name}"))
    return d.agg(*aggs)


def _pii_coverage_ext_sql() -> str:
    plant = "text" + "".join(
        f" || (case when doc_id % {mod} = 0 then '{snippet}' else '' end)"
        for mod, snippet, _pat in _PII_EXT_PLANT.values()
    )
    scrub = S.scrub_bank_sql(f"({plant})")
    cols = []
    for name, (_mod, _snippet, pat) in _PII_EXT_PLANT.items():
        p = pat.replace("'", "''")
        cols.append(
            f"cast(sum(len(regexp_extract_all({plant}, '{p}'))) as bigint)"
            f" as before_{name}"
        )
        cols.append(
            f"cast(sum(len(regexp_extract_all({scrub}, '{p}'))) as bigint)"
            f" as after_{name}"
        )
    return f"select {', '.join(cols)} from documents"


def q_ner_coverage(spark, sf):
    """Planted-names NER audit, cross-engine value-checked.

    Full names ('<First> <Last>', First from the public lexicon) are
    planted on doc_id%5==0 and honorific-anchored names ('Dr. <Last>',
    surname OUTSIDE any lexicon) on doc_id%5==2, both derived purely
    from doc_id so DuckDB re-derives identical plantings. Spark counts
    docs still containing their planted name BEFORE and AFTER the NER
    scrub; the oracle computes the before-counts from the same planting
    rule and pins the after-counts at ZERO — any planted name the NER
    stand-in misses turns the driver's value hash red."""
    from social_media_pii_scrubber_spark.functions.names import (
        PLANT_FIRST, PLANT_LAST,
    )

    _pin_session(spark)
    d = _t(spark, sf, "documents")
    i = F.col("doc_id")
    first = F.element_at(
        F.array(*[F.lit(x) for x in PLANT_FIRST]),
        (F.floor(i / 5) % len(PLANT_FIRST) + 1).cast("int"),
    )
    last = F.element_at(
        F.array(*[F.lit(x) for x in PLANT_LAST]),
        (F.floor(i / 5) % len(PLANT_LAST) + 1).cast("int"),
    )
    full = F.concat(first, F.lit(" "), last)
    hon = F.concat(F.lit("Dr. "), last)
    planted = (
        F.when(i % 5 == 0, F.concat(F.col("text"), F.lit(" Meet "), full,
                                    F.lit(" today.")))
        .when(i % 5 == 2, F.concat(F.col("text"), F.lit(" Ask "), hon,
                                   F.lit(" about it.")))
        .otherwise(F.col("text"))
    )
    rows = d.select(
        i.alias("doc_id"), full.alias("full"), hon.alias("hon"),
        planted.alias("t"),
        S.ner_scrub_pandas_udf()(planted).alias("s"),
    )
    is_full = (F.col("doc_id") % 5 == 0)
    is_hon = (F.col("doc_id") % 5 == 2)
    return rows.agg(
        F.sum(is_full.cast("bigint")).alias("planted_full_docs"),
        F.sum((is_full & F.col("t").contains(F.col("full")))
              .cast("bigint")).alias("before_full_docs"),
        F.sum((is_full & F.col("s").contains(F.col("full")))
              .cast("bigint")).alias("after_full_docs"),
        F.sum(is_hon.cast("bigint")).alias("planted_hon_docs"),
        F.sum((is_hon & F.col("t").contains(F.col("hon")))
              .cast("bigint")).alias("before_hon_docs"),
        F.sum((is_hon & F.col("s").contains(F.col("hon")))
              .cast("bigint")).alias("after_hon_docs"),
    )


def _ner_coverage_sql() -> str:
    from social_media_pii_scrubber_spark.functions.names import (
        PLANT_FIRST, PLANT_LAST,
    )

    firsts = ", ".join(f"'{x}'" for x in PLANT_FIRST)
    lasts = ", ".join(f"'{x}'" for x in PLANT_LAST)
    first = f"list_extract([{firsts}], cast((doc_id // 5) % {len(PLANT_FIRST)} + 1 as int))"
    last = f"list_extract([{lasts}], cast((doc_id // 5) % {len(PLANT_LAST)} + 1 as int))"
    return (
        f"with t as (select doc_id, {first} || ' ' || {last} as full_name, "
        f"'Dr. ' || {last} as hon_name, "
        f"case when doc_id % 5 = 0 then text || ' Meet ' || {first} || ' ' || {last} || ' today.' "
        f"when doc_id % 5 = 2 then text || ' Ask Dr. ' || {last} || ' about it.' "
        f"else text end as planted from documents) "
        # after_* are LITERAL ZERO: the contract is that the NER scrub
        # removes every planted name; Spark reports actual survivors.
        f"select cast(sum(case when doc_id % 5 = 0 then 1 else 0 end) as bigint) as planted_full_docs, "
        f"cast(sum(case when doc_id % 5 = 0 and contains(planted, full_name) then 1 else 0 end) as bigint) as before_full_docs, "
        f"cast(0 as bigint) as after_full_docs, "
        f"cast(sum(case when doc_id % 5 = 2 then 1 else 0 end) as bigint) as planted_hon_docs, "
        f"cast(sum(case when doc_id % 5 = 2 and contains(planted, hon_name) then 1 else 0 end) as bigint) as before_hon_docs, "
        f"cast(0 as bigint) as after_hon_docs "
        f"from t"
    )


def q_quality_heuristics(spark, sf):
    d = _t(spark, sf, "documents")
    t = F.col("text")
    return d.select(
        "doc_id",
        Q.n_chars_expr(t).alias("n_chars_calc"),
        Q.n_words_expr(t).alias("n_words"),
        Q.mean_word_len_expr(t).alias("mean_word_len"),
        Q.symbol_ratio_expr(t).alias("symbol_ratio"),
        Q.distinct_ratio_expr(t).alias("distinct_ratio"),
        Q.stopword_fraction_expr(t).alias("stopword_fraction"),
        Q.keep_expr(t).alias("keep"),
    )


def q_toxicity(spark, sf):
    """Toxicity score + keep + scrub; lexicon terms planted on doc_id
    residues (the synthetic corpus contains none organically)."""
    d = _t(spark, sf, "documents")
    t = F.when(
        F.col("doc_id") % 9 == 0,
        F.concat(F.col("text"), F.lit(" you stupid idiot full of hate")),
    ).otherwise(F.col("text"))
    return d.select(
        "doc_id",
        TX.toxicity_score_expr(t).alias("tox_score"),
        TX.toxicity_keep_expr(t).alias("tox_keep"),
        TX.toxicity_scrub_expr(t).alias("tox_scrubbed"),
    )


def q_quality_repetition(spark, sf):
    """Gopher repetition family + C4 line-shape rules. The documents
    corpus has no newlines, so lines are synthesized deterministically
    by breaking on the word 'the' — exercising every rule's non-trivial
    path in both engines."""
    d = _t(spark, sf, "documents")
    t = F.regexp_replace(F.col("text"), r" the ", "\nthe ")
    return d.select(
        "doc_id",
        Q.dup_line_fraction_expr(t).alias("dup_line_frac"),
        Q.top_bigram_fraction_expr(t).alias("top_bigram_frac"),
        Q.ellipsis_line_fraction_expr(t).alias("ellipsis_frac"),
        Q.bullet_line_fraction_expr(t).alias("bullet_frac"),
        Q.repetition_keep_expr(t).alias("rep_keep"),
    )


def q_langid(spark, sf):
    d = _t(spark, sf, "documents")
    return d.select("doc_id", L.langid_expr(F.col("text")).alias("pred_lang"))


def q_langid_margin(spark, sf):
    """Prediction + classifier margin + confidence gate (margin >= 2)."""
    d = _t(spark, sf, "documents")
    margin = L.langid_margin_expr(F.col("text"))
    return d.select(
        "doc_id",
        L.langid_expr(F.col("text")).alias("pred_lang"),
        margin.alias("margin"),
        (margin >= 2).alias("confident"),
    )


def q_flagship_pipeline(spark, sf):
    _pin_session(spark)
    pages = webpages_from_documents(spark, sf)
    return filter_scrub_pipeline(pages, CFG).df


def q_keep_f1(spark, sf):
    """Metric-math gate for the F1 evaluation harness: confusion matrix
    + precision/recall/F1 of the cheap heuristic gate scored against
    the full gate (heuristics ∧ repetition ∧ toxicity ∧
    langid-confidence), one partial-agg row — value-checks
    operators/evaluation.py cross-engine. The north-rule
    F1≥0.99-vs-planted-reference-labels evidence runs in
    tests/test_keep_f1.py on the labeled synthetic crawl."""
    d = _t(spark, sf, "documents")
    t = F.col("text")
    full = (Q.keep_expr(t) & Q.repetition_keep_expr(t)
            & TX.toxicity_keep_expr(t) & (L.langid_margin_expr(t) >= 1))
    scored = d.select(Q.keep_expr(t).alias("pred"), full.alias("label"))
    return EV.keep_confusion(scored, "pred", "label")


def q_html_extract(spark, sf):
    """North-rule front-door invariant: the engine's own html→text
    extraction (functions/html.py, pure codegen chain) must be
    byte-identical per url to the reference-extracted text column. The
    value hash covers the FULL extracted strings in both engines;
    byte_identical must be true on every row."""
    _pin_session(spark)
    pages = webpages_from_documents(spark, sf)
    ext = HT.html_text_expr(F.col("html"))
    return pages.select(
        "url",
        ext.alias("extracted_text"),
        (ext == F.col("text")).alias("byte_identical"),
    )


def q_flagship_from_html(spark, sf):
    """Flagship in the crawl configuration: no pre-extracted text column
    exists — extraction from html:binary is the pipeline's stage 0
    (plans/pipeline.py from_html=True), then langid → quality → scrub.
    The text column is dropped up front so the result provably derives
    from the engine's own extraction."""
    _pin_session(spark)
    pages = webpages_from_documents(spark, sf).drop("text")
    return filter_scrub_pipeline(pages, CFG, from_html=True).df


# documents.text has no newlines; synthesize deterministic lines the
# same way q_quality_repetition does so the line operators exercise
# their non-trivial paths in both engines.
_LINES_SPARK = lambda: F.regexp_replace(F.col("text"), r" the ", "\nthe ")  # noqa: E731
_LINES_SQL = "regexp_replace(text, ' the ', chr(10) || 'the ', 'g')"


def q_line_dedup(spark, sf):
    """Corpus-global exact line dedup (C4 span-dedup at line granularity):
    first occurrence by (doc_id, position) survives, short lines pass."""
    d = _t(spark, sf, "documents")
    return LN.line_dedup(
        d.select("doc_id", _LINES_SPARK().alias("lined")), "lined", "doc_id")


_PARAS_SPARK = lambda: F.regexp_replace(F.col("text"), r" and ", "\n\nand ")  # noqa: E731
_PARAS_SQL = "regexp_replace(text, ' and ', chr(10) || chr(10) || 'and ', 'g')"


def q_paragraph_dedup(spark, sf):
    """RefinedWeb-style corpus-global exact PARAGRAPH dedup: the
    line_dedup operator at blank-line granularity (sep="\\n\\n") over
    planted paragraph breaks — same reused-exchange plan, coarser
    spans. Also exercises the r06 literal-separator guarantee (sep is
    regex-escaped before F.split; ADVICE r05)."""
    d = _t(spark, sf, "documents")
    return LN.paragraph_dedup(
        d.select("doc_id", _PARAS_SPARK().alias("para")), "para", "doc_id")


def q_c4_line_filter(spark, sf):
    """C4 line rules: terminal punctuation + >=4 words + no boilerplate."""
    d = _t(spark, sf, "documents")
    return d.select(
        "doc_id",
        LN.c4_line_filter_expr(_LINES_SPARK()).alias("text_c4"),
    )


# fixed 30-token boilerplate planted verbatim on doc_id%6==0 so the
# substring-dup detector has known all-duplicate docs in both engines
_BOILER = ("all rights reserved contact the site administrator for removal "
           "requests this page is archived content from the original source "
           "and may not reflect current information please see terms")


# q_substring_remove's plant: padded to 30 tokens (multiple of the
# window stride) so the strided windows tile the whole doc and full
# removal actually occurs. _BOILER itself stays untouched —
# q_substring_dup's r04 verdict covers that exact text.
_BOILER_RM = _BOILER + " thank you"
assert len(_BOILER_RM.split()) == 30


def q_substring_dup(spark, sf):
    """Exact-substring duplication stats (Lee et al. 2022 detection
    shape): strided token-window hashes, one occurrence-count shuffle,
    per-doc duplicated-window fraction. Planted boilerplate docs must
    come back dup_fraction=1.0 in both engines."""
    _pin_session(spark)
    d = _t(spark, sf, "documents")
    t = F.when(F.col("doc_id") % 6 == 0, F.lit(_BOILER)).otherwise(F.col("text"))
    return DD.substring_dup_stats(
        d.select("doc_id", t.alias("t2")), "t2", "doc_id")


def _substring_dup_sql() -> str:
    t = (f"(select doc_id, case when doc_id % 6 = 0 then '{_BOILER}' "
         f"else text end as t2 from documents)")
    return DD.substring_dup_stats_sql(t, "t2", "doc_id")


def q_substring_remove(spark, sf):
    """Exact-substring REMOVAL (Lee et al. 2022 ExactSubstr — the
    production operator behind the detection stats above): duplicated
    token windows are cut out of every occurrence but the corpus-wide
    first, ordered by (doc, start). The plant is _BOILER padded to 30
    tokens — a multiple of the stride (5), so the strided windows tile
    it COMPLETELY: doc 0 keeps its text byte-identical; docs 6, 12, ...
    come back EMPTY (the ''-vs-NULL seam both engines must agree on —
    DuckDB's array_to_string([]) is NULL and the twin coalesces it);
    untouched docs pass through byte-identical — all value-hashed
    against the DuckDB twin. (The 28-token _BOILER alone leaves a
    3-token uncovered tail and would never exercise full removal.)"""
    _pin_session(spark)
    d = _t(spark, sf, "documents")
    t = (F.when(F.col("doc_id") % 6 == 0, F.lit(_BOILER_RM))
         .otherwise(F.col("text")))
    return DD.substring_remove(
        d.select("doc_id", t.alias("t2")), "t2", "doc_id")


def _substring_remove_sql() -> str:
    t = (f"(select doc_id, case when doc_id % 6 = 0 then '{_BOILER_RM}' "
         f"else text end as t2 from documents)")
    return DD.substring_remove_sql(t, "t2", "doc_id")


def q_kmeans_centroids(spark, sf):
    """Iterative k-means centroid training (Lloyd, 3 iterations) as
    DataFrame aggregations, gate-checked per cell against the
    INDEPENDENT numpy replication (functions/oracle_fixtures.py). The
    replication mirrors F.aggregate's fold order bit-exactly for the
    argmax assignment, but the per-cell mean is a distributed F.sum
    whose accumulation order Spark doesn't pin — so the entry hashes
    (cell, dim, within_tol @ 1e-6) rather than demanding bit-exact fp
    agreement of differently-ordered reductions (ADVICE r03), and
    rather than raw array<double> columns, which crash the driver's
    canonicalizer (VERDICT r03 item 1). Raw centroid values are
    epsilon-locked in tests/test_similarity_recall.py."""
    import pandas as pd

    _pin_session(spark)
    e = _t(spark, sf, "embeddings")
    cents = SIM.kmeans_train(e, "embedding", n_cells=4, dim=64, iters=3)
    ref = pd.read_parquet(OF.ensure_kmeans_fixture(sf)).sort_values("cell")
    rows = []
    for cell, trained in enumerate(cents, start=1):
        expected = [float(x) for x in ref[ref.cell == cell].centroid.iloc[0]]
        diff = max(abs(a - b) for a, b in zip(trained, expected))
        rows.append((cell, len(trained), bool(diff <= 1e-6)))
    return spark.createDataFrame(
        rows, "cell int, dim bigint, within_tol boolean")


def q_ivf_topk(spark, sf):
    """IVF-Flat ANN (coarse-quantizer cells, multi-probe): the second
    ANN family next to hyperplane LSH; probe=2 of 8 cells. Fixed
    deterministic centroids keep the full operator oracle-checkable."""
    e = _t(spark, sf, "embeddings")
    return SIM.ivf_topk(e, e.filter(F.col("vec_id") < 3), "vec_id",
                        "embedding", k=5, n_cells=8, probe=2)


def _trained_centroids(sf_dir):
    """IVF quantizer from the persisted k-means model artifact (the
    numpy-replication fixture — which the kmeans_centroids gate pins to
    within 1e-6 of the Spark-trained centroids). Rounded to 6dp so the
    repr-rendered SQL literals are the EXACT same doubles both engines
    compute with — the production shape: train once, persist the model,
    load it as literals at query time."""
    import pandas as pd

    ref = pd.read_parquet(OF.ensure_kmeans_fixture(sf_dir)).sort_values("cell")
    return [[round(float(x), 6) for x in row] for row in ref.centroid]


def q_ivf_trained_topk(spark, sf):
    """IVF-Flat ANN with k-means-TRAINED centroids (VERDICT r03 item 4):
    same topology as ivf_topk, quantizer swapped for the trained model;
    probe=2 of 4 trained cells. Recall improvement over the fixed
    seed-family quantizer at equal probe fraction is demonstrated in
    tests/test_similarity_recall.py."""
    e = _t(spark, sf, "embeddings")
    return SIM.ivf_topk(e, e.filter(F.col("vec_id") < 3), "vec_id",
                        "embedding", k=5, probe=2,
                        centroids=_trained_centroids(sf))


def _ivf_trained_topk_sql() -> str:
    try:
        cents = _trained_centroids(ORACLE_SF)
    except OSError as e:
        msg = f"kmeans fixture unavailable under {ORACLE_SF}: {e}"
        return "select error('" + msg.replace("'", "''") + "')"
    return SIM.ivf_topk_sql("embeddings", "vec_id < 3", "vec_id",
                            "embedding", k=5, probe=2, centroids=cents)


def q_zip_ingest(spark, sf):
    """Archive-ingestion front door (S1 zip seam — VERDICT r03 missing
    item 1): binaryFile scan over synthesized FB-export-shaped zips →
    Arrow-batched member extraction (member_pattern pruned inside the
    extractor) → S2 JSON parse → exploded post records. The zips are a
    deterministic function of the documents table, so the DuckDB oracle
    re-derives the expected records from the documents view directly.
    Reference front door: smparserbase.py:34-35 (ZipFile), get_json
    :114-119."""
    from social_media_pii_scrubber_spark.sources import archives as AR

    _pin_session(spark)
    zdir = OF.ensure_export_zip_fixture(sf)
    mem = AR.scan_zip_members(spark, zdir + "/*.zip",
                              member_pattern="posts/*.json")
    posts = AR.json_members(
        mem,
        "array<struct<timestamp bigint, title string, "
        "data array<struct<post string>>>>",
    )
    p = posts.select(
        F.element_at(F.split(F.col("archive"), "/"), -1).alias("archive"),
        "member",
        F.explode(F.col("parsed")).alias("p"),
    )
    return p.select(
        "archive", "member",
        F.col("p.timestamp").alias("ts"),
        F.col("p.title").alias("title"),
        F.col("p.data")[0]["post"].alias("post"),
    )


def _zip_ingest_sql() -> str:
    try:
        OF.ensure_export_zip_fixture(ORACLE_SF)
    except OSError as e:
        msg = f"zip fixture source unavailable under {ORACLE_SF}: {e}"
        return "select error('" + msg.replace("'", "''") + "')"
    return (
        "select 'fbexport_' || cast(doc_id % 2 as varchar) || '.zip' as archive, "
        "'posts/your_posts_1.json' as member, "
        "cast(1704067200 + doc_id * 3600 as bigint) as ts, "
        "'Post ' || cast(doc_id as varchar) as title, "
        "text as post from documents where doc_id < 40"
    )


def q_incremental_dedup(spark, sf):
    """Cross-snapshot incremental dedup — the rolling-crawl workflow:
    keep only NEW-snapshot docs whose fingerprint never appeared in the
    PREVIOUS snapshot. Snapshots are doc_id residues; planted _BOILER
    texts collide across snapshots so the anti-join provably removes
    rows. Plain left_anti (NOT the broadcast helper): a previous
    snapshot's fingerprint set is corpus-sized at web scale — AQE
    broadcasts only when genuinely small, and for repeated rolling runs
    both sides bucket on fp (sources.tables.write_bucketed)."""
    _pin_session(spark)
    d = _t(spark, sf, "documents")
    i = F.col("doc_id")
    prev = d.filter(i % 3 != 0).select(
        F.when(i % 9 == 1, F.lit(_BOILER)).otherwise(F.col("text")).alias("t"))
    new = d.filter(i % 3 == 0).select(
        "doc_id",
        F.when(i % 9 == 0, F.lit(_BOILER)).otherwise(F.col("text")).alias("t"))
    prev_fp = prev.select(T.fingerprint_expr(F.col("t")).alias("fp")).distinct()
    return (
        new.withColumn("fp", T.fingerprint_expr(F.col("t")))
        .join(prev_fp, on="fp", how="left_anti")
        .select("doc_id", "fp")
    )


def q_bloom_incremental_dedup(spark, sf):
    """Bloom-accelerated variant of the SAME cross-snapshot dedup
    (operators/bloom.py): a construction-bounded bitmap built from the
    previous snapshot pre-filters the new snapshot so the exact
    left_anti sees only bloom-positive rows (true dups + fpp·|new|).
    No false negatives → output is row-for-row the plain anti-join,
    and the oracle is literally the same NOT-EXISTS SQL as
    ``incremental_dedup`` — the driver value-hash proves the
    accelerated path changes nothing."""
    _pin_session(spark)
    from social_media_pii_scrubber_spark.operators.bloom import (
        bloom_incremental_dedup,
    )
    d = _t(spark, sf, "documents")
    i = F.col("doc_id")
    prev = d.filter(i % 3 != 0).select(
        F.when(i % 9 == 1, F.lit(_BOILER)).otherwise(F.col("text")).alias("t"))
    new = d.filter(i % 3 == 0).select(
        "doc_id",
        F.when(i % 9 == 0, F.lit(_BOILER)).otherwise(F.col("text")).alias("t"))
    prev_fp = prev.select(T.fingerprint_expr(F.col("t")).alias("fp"))
    new_fp = new.withColumn("fp", T.fingerprint_expr(F.col("t")))
    return (
        bloom_incremental_dedup(new_fp, prev_fp, "fp")
        .select("doc_id", "fp")
    )


def _incremental_dedup_sql() -> str:
    fp = T.fingerprint_sql("t")
    prev = (f"select case when doc_id % 9 = 1 then '{_BOILER}' else text end"
            f" as t from documents where doc_id % 3 != 0")
    new = (f"select doc_id, case when doc_id % 9 = 0 then '{_BOILER}' else"
           f" text end as t from documents where doc_id % 3 = 0")
    return (
        # NOT EXISTS, not NOT IN: a single NULL fp on either side nulls a
        # NOT IN predicate and drops rows, while Spark's left_anti keeps
        # null-key rows — NOT EXISTS matches the anti-join semantics.
        f"with prev as ({prev}), new as ({new}), "
        f"prev_fp as (select distinct {fp} as fp from prev) "
        f"select doc_id, {fp} as fp from new "
        f"where not exists (select 1 from prev_fp p where p.fp = {fp})"
    )


def q_web_preprocess(spark, sf):
    """The full web-preprocess chain in ONE query — the composition a
    RefinedWeb/C4-style pipeline actually runs, each stage an already
    gate-verified operator:

        url variants (planted: every doc_id%10==0 page carries the
        PREVIOUS doc's url + '#dup' + a tracking param, so canonical
        collisions exist by construction)
          → url_canonicalize
          → url-level exact dedup (keep min doc_id per canonical url)
          → C4 line filter
          → quality keep
          → PII scrub bank

    Both engines derive the plantings from doc_id, so the whole chain
    is value-checked end to end."""
    _pin_session(spark)
    d = _t(spark, sf, "documents")
    i = F.col("doc_id")
    host = (i % 37).cast("string")
    prev_host = ((i - 1) % 37).cast("string")
    own = F.concat(F.lit("https://host"), host, F.lit(".example/doc/"),
                   i.cast("string"))
    dup = F.concat(F.lit("https://host"), prev_host, F.lit(".example/doc/"),
                   (i - 1).cast("string"), F.lit("?utm_source=mirror#dup"))
    url = F.when((i % 10 == 0) & (i > 0), dup).otherwise(own)
    lined = F.regexp_replace(F.col("text"), r" the ", "\nthe ")
    rows = d.select(
        i.alias("doc_id"),
        U.url_canonicalize_expr(url).alias("canonical_url"),
        lined.alias("lined"),
    )
    first = rows.groupBy("canonical_url").agg(F.min("doc_id").alias("doc_id"))
    kept = rows.join(first, on=["canonical_url", "doc_id"])
    return kept.select(
        "doc_id",
        "canonical_url",
        Q.keep_expr(F.col("lined")).alias("keep_quality"),
        S.scrub_bank_expr(
            LN.c4_line_filter_expr(F.col("lined"))).alias("clean_text"),
    )


def _web_preprocess_sql() -> str:
    own = "'https://host' || cast(doc_id % 37 as varchar) || '.example/doc/' || cast(doc_id as varchar)"
    dup = ("'https://host' || cast((doc_id - 1) % 37 as varchar) || '.example/doc/' "
           "|| cast(doc_id - 1 as varchar) || '?utm_source=mirror#dup'")
    url = f"(case when doc_id % 10 = 0 and doc_id > 0 then {dup} else {own} end)"
    lined = "regexp_replace(text, ' the ', chr(10) || 'the ', 'g')"
    return (
        f"with rows as (select doc_id, "
        f"{U.url_canonicalize_sql(url)} as canonical_url, "
        f"{lined} as lined from documents), "
        f"first as (select canonical_url, min(doc_id) as doc_id "
        f"from rows group by canonical_url) "
        f"select doc_id, canonical_url, "
        f"{Q.keep_sql('lined')} as keep_quality, "
        f"{S.scrub_bank_sql(LN.c4_line_filter_sql('lined'))} as clean_text "
        f"from rows join first using (canonical_url, doc_id)"
    )


# corpus_build plantings (shared Spark/SQL constants — single-quote-free
# so the SQL rendering needs no escaping)
_CB_BOILER = "this shared boilerplate navigation line appears on many crawled pages."
_CB_SOUP = "$$$ ### @!~% symbol soup junk page "
_CB_TAIL = " near duplicate trailing tail marker words"


def q_corpus_build(spark, sf):
    """The COMPOSED end-to-end corpus-build job (jobs/build_corpus.py,
    VERDICT r05 item 3): url canonicalize + canonical-url dedup → line
    dedup → exact dedup → near-dup dedup → host reputation filter →
    quality/repetition/toxicity gate → hashed-ngram classifier → per-
    lang token-budget mix → pack assignment → PII scrub, value-checked
    end to end against the identical DuckDB stage chain.

    Plantings (all doc_id-derived, reproduced in the SQL twin):
    - doc_id%10==0 carries the PREVIOUS doc's url + tracking param →
      canonical-url collisions (canon dedup drops them);
    - doc_id%5==0 prepends a shared boilerplate line → corpus-global
      line dedup strips it everywhere but its first occurrence;
    - doc_id%7==3 carries the previous doc's raw text + a short tail →
      near-dup pairs for the LSH→jaccard→components stage;
    - host13 (doc_id%37==13, except the %5==0 pages) is symbol soup →
      the host's keep_frac fails the reputation threshold and the
      host's GOOD pages are dropped by the host filter specifically."""
    from jobs.build_corpus import build_corpus
    from social_media_pii_scrubber_spark.operators.hashing import MD5

    _pin_session(spark)
    d = _t(spark, sf, "documents")
    prev = d.select((F.col("doc_id") + 1).alias("doc_id"),
                    F.col("text").alias("_prev"))
    src = d.join(prev, on="doc_id", how="left")
    i = F.col("doc_id")
    own = F.concat(F.lit("https://host"), (i % 37).cast("string"),
                   F.lit(".example/doc/"), i.cast("string"))
    dup = F.concat(F.lit("https://host"), ((i - 1) % 37).cast("string"),
                   F.lit(".example/doc/"), (i - 1).cast("string"),
                   F.lit("?utm_source=mirror#dup"))
    url = F.when((i % 10 == 0) & (i > 0), dup).otherwise(own)
    body = (
        F.when((i % 37 == 13) & (i % 5 != 0),
               F.concat(F.lit(_CB_SOUP), i.cast("string")))
        .when((i % 7 == 3) & (i > 0),
              F.concat(F.coalesce(F.col("_prev"), F.lit("")), F.lit(_CB_TAIL)))
        .otherwise(F.col("text"))
    )
    text = F.when(i % 5 == 0,
                  F.concat(F.lit(_CB_BOILER + "\n"), body)).otherwise(body)
    pages = src.select("doc_id", url.alias("url"), text.alias("text"), "lang")
    return build_corpus(pages, id_col="doc_id", family=MD5,
                        pack_budget=512, pack_buckets=8)


def _corpus_build_sql() -> str:
    from jobs.build_corpus import build_corpus_sql

    own = ("'https://host' || cast(a.doc_id % 37 as varchar) || "
           "'.example/doc/' || cast(a.doc_id as varchar)")
    dup = ("'https://host' || cast((a.doc_id - 1) % 37 as varchar) || "
           "'.example/doc/' || cast(a.doc_id - 1 as varchar) || "
           "'?utm_source=mirror#dup'")
    body = (
        f"case when a.doc_id % 37 = 13 and a.doc_id % 5 != 0 "
        f"then '{_CB_SOUP}' || cast(a.doc_id as varchar) "
        f"when a.doc_id % 7 = 3 and a.doc_id > 0 "
        f"then coalesce(b.text, '') || '{_CB_TAIL}' "
        f"else a.text end"
    )
    pages = (
        f"select a.doc_id, "
        f"case when a.doc_id % 10 = 0 and a.doc_id > 0 then {dup} "
        f"else {own} end as url, "
        f"(case when a.doc_id % 5 = 0 then '{_CB_BOILER}' || chr(10) "
        f"else '' end) || ({body}) as text, "
        f"a.lang "
        f"from documents a left join documents b on b.doc_id = a.doc_id - 1"
    )
    return build_corpus_sql(f"({pages})", id_col="doc_id",
                            pack_budget=512, pack_buckets=8)


_STREAM_GATE_SEQ = [0]


def q_streaming_scrub(spark, sf):
    """Streaming variant of the flagship pipeline, promoted into the
    value gate: the web pages are written to a parquet drop-directory,
    replayed through readStream → the SAME stateless filter+scrub
    stages → a memory sink drained to completion. The oracle is the
    BATCH pipeline twin — a bounded stream through stateless stages
    must equal the batch result exactly."""
    import shutil
    import tempfile

    from social_media_pii_scrubber_spark.streaming.stream_pipeline import (
        run_stream_to_memory, stream_pages_from_directory,
    )

    _pin_session(spark)
    pages = webpages_from_documents(spark, sf)
    src = os.path.join(tempfile.gettempdir(),
                       f"streaming_scrub_src_{os.getpid()}")
    shutil.rmtree(src, ignore_errors=True)
    # several files → the file source replays them as micro-batches
    pages.repartition(4).write.mode("overwrite").parquet(src)
    _STREAM_GATE_SEQ[0] += 1
    name = f"streaming_scrub_gate_{os.getpid()}_{_STREAM_GATE_SEQ[0]}"
    stream = stream_pages_from_directory(spark, src, pages.schema,
                                         max_files_per_trigger=1)
    q = run_stream_to_memory(spark, stream, cfg=CFG, table_name=name)
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    return spark.table(name)


def q_flagship_with_toxicity(spark, sf):
    """Column-only flagship with the toxicity stage enabled."""
    _pin_session(spark)
    pages = webpages_from_documents(spark, sf)
    return filter_scrub_pipeline(pages, CFG, use_toxicity=True).df


def q_tok_counts(spark, sf):
    d = _t(spark, sf, "documents")
    return d.select(
        "doc_id",
        T.ws_token_count_expr(F.col("text")).alias("ws_tokens"),
        T.bpe_ish_token_count_expr(F.col("text")).alias("bpe_tokens"),
    )


def q_fingerprint(spark, sf):
    d = _t(spark, sf, "documents")
    return d.select("doc_id", T.fingerprint_expr(F.col("text")).alias("fp"))


def _docs_with_dups(spark, sf):
    d = _t(spark, sf, "documents").select("doc_id", "text")
    dups = d.filter(F.col("doc_id") < 20).select(
        (F.col("doc_id") + 100000).alias("doc_id"), "text"
    )
    return d.unionByName(dups)


_DOCS_WITH_DUPS_SQL = (
    "select doc_id, text from documents "
    "union all select doc_id + 100000 as doc_id, text from documents where doc_id < 20"
)


def q_exact_dedup(spark, sf):
    return DD.exact_dedup(_docs_with_dups(spark, sf), "text", "doc_id")


def q_minhash_signature(spark, sf):
    d = _t(spark, sf, "documents")
    return DD.minhash_signature(d, "text", "doc_id")


def q_lsh_pairs(spark, sf):
    return DD.lsh_candidate_pairs(_docs_with_dups(spark, sf), "text", "doc_id")


def q_jaccard_pairs(spark, sf):
    return DD.jaccard_pairs(_docs_with_dups(spark, sf), "text", "doc_id")


def q_simhash(spark, sf):
    d = _t(spark, sf, "documents")
    return DD.simhash_signature(d, "text", "doc_id")


def q_embedding_dup_pairs(spark, sf):
    e = _t(spark, sf, "embeddings")
    # plant exact dup vectors so the near-dup path has known targets
    dups = e.filter(F.col("vec_id") < 10).select(
        (F.col("vec_id") + 100000).alias("vec_id"), "embedding", "label"
    )
    return SIM.embedding_dup_pairs(
        e.unionByName(dups), "embedding", "vec_id", threshold=0.95,
        planes=SIM.COORD_PLANES,
    )


def q_cosine_topk(spark, sf):
    e = _t(spark, sf, "embeddings")
    return SIM.cosine_topk(e, e.filter(F.col("vec_id") < 3), "vec_id", "embedding", k=5)


def q_ann_lsh_topk(spark, sf):
    e = _t(spark, sf, "embeddings")
    return SIM.lsh_topk(e, e.filter(F.col("vec_id") < 3), "vec_id", "embedding", k=5,
                        planes=SIM.COORD_PLANES)


_EMB_WITH_DUPS_SQL = (
    "(select vec_id, embedding from embeddings "
    "union all select vec_id + 100000 as vec_id, embedding "
    "from embeddings where vec_id < 10)"
)


def _emb_with_dups(spark, sf):
    e = _t(spark, sf, "embeddings")
    dups = e.filter(F.col("vec_id") < 10).select(
        (F.col("vec_id") + 100000).alias("vec_id"), "embedding"
    )
    return e.select("vec_id", "embedding").unionByName(dups)


_SPLIT_WEIGHTS = {"train": 0.8, "val": 0.1, "test": 0.1}

# tf-idf gate profile: a 60-doc slice + planted exact dups (cosine 1.0
# targets) with a high threshold keeping the pair output sparse
_TFIDF_SRC_SQL = (
    "(select doc_id, text from documents where doc_id < 60 "
    "union all select doc_id + 100000 as doc_id, text from documents "
    "where doc_id < 10)"
)


def _tfidf_src(spark, sf):
    d = _t(spark, sf, "documents").select("doc_id", "text")
    base = d.filter(F.col("doc_id") < 60)
    dups = d.filter(F.col("doc_id") < 10).select(
        (F.col("doc_id") + 100000).alias("doc_id"), "text"
    )
    return base.unionByName(dups)


def q_tfidf(spark, sf):
    return TI.tf_idf(_tfidf_src(spark, sf), "text", "doc_id")


def q_tfidf_similar_pairs(spark, sf):
    return TI.tfidf_similar_pairs(
        _tfidf_src(spark, sf), "text", "doc_id",
        threshold=0.85, max_df_fraction=1.0,
    )


_URL_VARIANT = (
    "case when doc_id % 4 = 0 then '#Section-2' "
    "when doc_id % 4 = 1 then '?utm_source=feed&utm_campaign=x&id=7' "
    "when doc_id % 4 = 2 then '?id=7&fbclid=abc123' else '' end"
)


def q_url_canonicalize(spark, sf):
    """Canonicalization over urls with planted fragments/tracking params
    and uppercased hosts — url-level crawl dedup's first stage."""
    d = _t(spark, sf, "documents")
    raw = F.concat(
        F.lit("HTTPS://Host"), (F.col("doc_id") % 37).cast("string"),
        F.lit(".Example/Doc/"), F.col("doc_id").cast("string"),
        F.expr(_URL_VARIANT),
    )
    return d.select(
        "doc_id", raw.alias("raw_url"),
        U.url_canonicalize_expr(raw).alias("canon_url"),
    )


def q_contamination(spark, sf):
    """Eval set = the first 5 documents; those (and organic shingle
    overlaps at min_shared) must be flagged with their overlap counts."""
    d = _t(spark, sf, "documents").select("doc_id", "text")
    eval_set = d.filter(F.col("doc_id") < 5)
    return CT.contaminated_docs(d, eval_set, "text", "doc_id", min_shared=3)


def q_chunk_text(spark, sf):
    d = _t(spark, sf, "documents").select("doc_id", "text")
    return PK.chunk_text(d, "text", "doc_id", max_tokens=32, overlap=8)


def q_pack_sequences(spark, sf):
    d = _t(spark, sf, "documents")
    from social_media_pii_scrubber_spark.functions.text import ws_token_count_expr
    sized = d.select("doc_id", ws_token_count_expr(F.col("text")).alias("n_tok"))
    return PK.pack_sequences(sized, "doc_id", "n_tok", budget=512, n_buckets=16)


def q_sample_by_hash(spark, sf):
    d = _t(spark, sf, "documents").select("doc_id", "lang")
    return SA.sample_by_hash(d, "doc_id", rate=0.25)


_STRATA_RATES = {"en": 0.5, "de": 0.25}


def q_stratified_sample(spark, sf):
    d = _t(spark, sf, "documents").select("doc_id", "lang")
    return SA.stratified_sample_by_hash(
        d, "doc_id", "lang", _STRATA_RATES, default_rate=0.1
    )


def q_split_by_hash(spark, sf):
    d = _t(spark, sf, "documents").select("doc_id")
    return SA.split_by_hash(d, "doc_id", _SPLIT_WEIGHTS)


def q_cap_per_key(spark, sf):
    ev = _t(spark, sf, "events").select("event_id", "user_id")
    return SA.cap_per_key(ev, "user_id", n=3, order_col="event_id")


def q_global_shuffle(spark, sf):
    """Deterministic global shuffle + shard assignment (the final
    training-data-prep stage: i.i.d. batch order from a host/time-
    grouped crawl). shard = md5-mod projection; pos = dense rank by
    hash within shard — layout-independent, both engines bit-agree."""
    d = _t(spark, sf, "documents").select("doc_id")
    return SA.global_shuffle(d, "doc_id", n_shards=8)


def q_train_char_lm(spark, sf):
    d = _t(spark, sf, "documents")
    return SA.train_char_lm(d, "text")


def q_dedup_clusters(spark, sf):
    """LSH candidate pairs → connected components (iterative min-label
    propagation; DuckDB twin is a recursive-CTE closure)."""
    pairs = DD.lsh_candidate_pairs(_docs_with_dups(spark, sf), "text", "doc_id")
    return CC.connected_components(pairs)


def q_dedup_keep_list(spark, sf):
    """The end-to-end dedup DECISION over the corpus: keep_dedup flag
    per doc (cluster representative = min id)."""
    docs = _docs_with_dups(spark, sf)
    pairs = DD.lsh_candidate_pairs(docs, "text", "doc_id")
    return CC.dedup_keep_list(docs.select("doc_id"), pairs, "doc_id")


def q_dedup_keep_best(spark, sf):
    """Quality-aware dedup survivor: within each near-dup cluster keep
    the highest-score row (tie → min id) instead of min-id — what a
    training pipeline wants (keep the cleanest copy). Score here is a
    deterministic stand-in (doc_id % 7) so planted dup pairs have
    UNEQUAL scores and the argmax actually decides."""
    docs = _docs_with_dups(spark, sf)
    scored = docs.select(
        "doc_id", (F.col("doc_id") % 7).cast("double").alias("score"))
    pairs = DD.lsh_candidate_pairs(docs, "text", "doc_id")
    return CC.dedup_keep_best(scored, pairs, "doc_id", "score")


_MIX_BUDGETS = {"en": 3000, "de": 1000}


def q_token_budget_mix(spark, sf):
    """Data mixing by token budget: per-lang hash-ordered prefix whose
    running ws-token total stays within the stratum budget; strata
    without a budget keep nothing."""
    d = _t(spark, sf, "documents")
    sized = d.select("doc_id", "lang",
                     T.ws_token_count_expr(F.col("text")).alias("n_tok"))
    return SA.take_by_token_budget(sized, "doc_id", "lang", "n_tok",
                                   _MIX_BUDGETS)


def _dsir_fp(col, name):
    """4-dp fixed-point bigint projection for DSIR's float outputs:
    both engines sum the same doubles in different orders (~1e-12
    relative drift), so the hash compares round(x*1e4) integers —
    boundary-hit probability ~1e-7 per value vs ~1e-4 at micro-units."""
    return F.round(col * 10000.0).cast("bigint").alias(name)


def _dsir_weights_df(spark, sf):
    """Shared DSIR pipeline: target = English docs, source = full
    corpus; per-doc log importance weight over 256 hashed-ngram
    buckets (oracle profile)."""
    d = _t(spark, sf, "documents")
    sdist = DS.bucket_distribution(d, "text")
    tdist = DS.bucket_distribution(d.filter(F.col("lang") == "en"), "text")
    ratio = DS.log_ratio(tdist, sdist)
    return DS.dsir_weights(d, "text", "doc_id", ratio)


def q_dsir_weights(spark, sf):
    """DSIR importance weights (Xie et al. 2023): score every source
    doc by how much its hashed-ngram profile looks like the target
    (here: the English subset). logw projected to 4-dp fixed point —
    cross-engine float sums differ in last ulps."""
    return _dsir_weights_df(spark, sf).select(
        "doc_id", _dsir_fp(F.col("logw"), "logw_fp"))


def q_dsir_topk(spark, sf):
    """DSIR Gumbel-top-k resampling: k docs drawn ∝ exp(logw) without
    replacement, deterministic (Gumbel noise derived from md5(doc_id))
    — the selection stage of importance resampling."""
    top = DS.dsir_topk(_dsir_weights_df(spark, sf), "doc_id", k=25)
    return top.select(
        "doc_id",
        _dsir_fp(F.col("logw"), "logw_fp"),
        _dsir_fp(F.col("gumbel_key"), "key_fp"),
    )


def _dsir_weights_sql() -> str:
    sdist = DS.bucket_distribution_sql("documents", "text")
    tdist = DS.bucket_distribution_sql(
        "(select text from documents where lang = 'en')", "text")
    ratio = DS.log_ratio_sql(tdist, sdist)
    # the empty-doc left-join-back compensation lives INSIDE
    # dsir_weights_sql (twin faithfulness — code-review r4)
    return DS.dsir_weights_sql("documents", "text", "doc_id", ratio)


def q_quality_classifier(spark, sf):
    """Hashed-ngram linear quality classifier inference (fastText/
    DCLM-style supervised filter) with deterministic md5-derived
    weights — the oracle-checkable stand-in for a trained model
    (trained weights enter as literals, like IVF's centroids; the
    training loop is value-checked in tests/test_classifier.py).
    logit projected to 4-dp fixed point; keep decided on the ROUNDED
    value so the boolean is cross-engine stable."""
    d = _t(spark, sf, "documents")
    out = CL.classifier_score(
        d, "text", "doc_id",
        CL.hash_weights_table(spark), bias=-0.25)
    return out.select(
        "doc_id",
        _dsir_fp(F.col("logit"), "logit_fp"),
        (F.round(F.col("logit") * 10000.0).cast("bigint") > 0).alias("keep"),
    )


_NFD_SUFFIX = " cafe\u0301 \u212bngstro\u0308m"  # NFD e-acute, angstrom sign, NFD o-umlaut
_NFD_SUFFIX_SQL = (
    "' cafe' || chr(769) || ' ' || chr(8491) || 'ngstro' || chr(776) || 'm'"
)


def q_nfc_normalize(spark, sf):
    """Unicode NFC canonicalization (CCNet's pre-scoring normalize):
    planted NFD/compatibility codepoints on every doc; the oracle twin
    is DuckDB's NATIVE nfc_normalize — exact cross-library Unicode
    agreement, not a fixture."""
    d = _t(spark, sf, "documents")
    raw = F.concat(F.col("text"), F.lit(_NFD_SUFFIX))
    norm = T.nfc_normalize_udf()(raw)
    return d.select(
        "doc_id",
        norm.alias("normalized"),
        (norm != raw).alias("changed"),
    )


# Four plant variants, damaged at import time by the module's own
# utf8→sloppy-cp1252 helper: 3-byte punctuation forms ("â€™"), the
# control-char case (“”'s closing quote damages to â€ + chr(157)),
# 2-byte accents, and one pure-ASCII suffix exercising the marker
# guard's no-op path. Both engines see literal plants from the same
# table; the cross-check validates engine REPLACE semantics, and the
# table itself is validated against the scalar reference in
# tests/test_encoding.py.
_MOJI_CLEAN = [
    " It’s a “quoted” suffix — café, naïve… €5",
    " plain ascii suffix stays unchanged",
    " Ångström – œuvre Æon ± 10°",
    " ¡Señor! ¿Dónde? «brûlée» ÿ",
]
_MOJI_PLANTS = [ENC.damage(s) for s in _MOJI_CLEAN]


def q_fix_mojibake(spark, sf):
    """Mojibake repair (ftfy-equivalent, derived table — the web-scale
    encoding-cleanup stage CCNet/C4/FineWeb run before quality
    scoring): every doc gets a deterministically chosen damaged
    suffix; the repaired full text is value-hashed cross-engine and
    chars_fixed counts the repair shrinkage (0 for the ASCII plant)."""
    d = _t(spark, sf, "documents")
    plant = F.element_at(
        F.array(*[F.lit(p) for p in _MOJI_PLANTS]),
        (F.col("doc_id") % 4 + 1).cast("int"))
    raw = F.concat(F.col("text"), plant)
    fixed = ENC.fix_mojibake_expr(raw)
    return d.select(
        "doc_id",
        fixed.alias("fixed"),
        (F.length(raw) - F.length(fixed)).cast("bigint").alias("chars_fixed"),
    )


def q_bpe_merges(spark, sf):
    """Distributed BPE tokenizer training (Sennrich et al. 2016) over
    the documents corpus: 20 merges learned on the weighted word vocab
    (one corpus pass, then bounded-vocab iterations). Deterministic
    (exact counts, lexicographic ties), so the gate compares the exact
    merge list against the scalar-replication fixture."""
    from social_media_pii_scrubber_spark.operators.bpe import train_bpe

    d = _t(spark, sf, "documents")
    merges = train_bpe(d, "text", OF.BPE_FIXTURE_MERGES)
    return spark.createDataFrame(
        [(i, a, b) for i, (a, b) in enumerate(merges)],
        "merge_idx int, left string, right string",
    )


def q_semdedup_keep(spark, sf):
    """SemDeDup (Abbas et al. 2023): semantic dedup = coarse k-means
    cells (codegen argmax, no shuffle) → exact-cosine self-join within
    cells only (pair work Σ|cell|², never corpus²) → connected
    components → min-id keep flags. Planted exact-copy vectors
    (vec_id+100000) hit cosine 1.0 and are dropped."""
    return SIM.semdedup_keep(
        _emb_with_dups(spark, sf), "embedding", "vec_id",
        SIM.make_centroids(8, 64), threshold=0.95)


def q_embedding_dup_pairs_amp(spark, sf):
    """OR-amplified near-dup pairs, expr-bucket profile (the scale path's
    oracle-checkable configuration: 2 tables of 2^6 = 64 buckets)."""
    return SIM.embedding_dup_pairs(
        _emb_with_dups(spark, sf), "embedding", "vec_id", threshold=0.95,
        planes=SIM.hyperplanes(6, 2, udf=False),
    )


def q_ann_amp_topk(spark, sf):
    e = _t(spark, sf, "embeddings")
    return SIM.lsh_topk(
        e, e.filter(F.col("vec_id") < 3), "vec_id", "embedding", k=5,
        planes=SIM.hyperplanes(4, 2, udf=False),
    )


def q_a3_rollup(spark, sf):
    """A3's Total column family via rollup (SURVEY §2.4: grouping sets
    are the idiomatic Spark spelling of the reference's per-type totals)."""
    c = _t(spark, sf, "customer")
    return (
        c.rollup("c_nationkey", "c_mktsegment")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .select(
            F.coalesce(F.col("c_nationkey").cast("string"), F.lit("ALL")).alias("nation"),
            F.coalesce(F.col("c_mktsegment"), F.lit("ALL")).alias("segment"),
            "cnt",
        )
    )


def q_f6_date_arith(spark, sf):
    """F6 — add_months window derivation (smparserbase.py:98-103):
    first_date = last_date - months_back months; weeks = days/7 + 2."""
    ev = _t(spark, sf, "events")
    months_back = (F.col("event_id") % 36 + 1).cast("int")
    last = F.to_date(F.lit("2024-12-31"))
    first = F.add_months(last, -months_back)
    return ev.select(
        "event_id",
        months_back.alias("months_back"),
        F.date_format(first, "yyyy-MM-dd").alias("first_date"),
        (F.floor(F.datediff(last, first) / 7) + 2).cast("int").alias("num_weeks"),
    )


def q_w3_sort_limit(spark, sf):
    """W3 — deterministic orderBy + top-k."""
    o = _t(spark, sf, "orders")
    return o.orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey")).limit(20) \
        .select("o_orderkey", "o_totalprice")


def q_s2_from_json(spark, sf):
    """S2 — PERMISSIVE JSON parse; malformed docs dropped, never fail."""
    from social_media_pii_scrubber_spark.operators.semistructured import (
        drop_malformed, parse_json_permissive,
    )
    ev = _t(spark, sf, "events")
    corrupted = F.when(
        F.col("event_id") % 10 == 0, F.substring("props", 1, 3)
    ).otherwise(F.col("props"))
    df = parse_json_permissive(ev.withColumn("raw", corrupted), "raw", "k int")
    return drop_malformed(df).select(
        "event_id", F.col("parsed.k").alias("k_val")
    )


def q_s3_txt_kv(spark, sf):
    """S3 — '\\n'-field ': '-k/v record parse via str_to_map."""
    ev = _t(spark, sf, "events")
    rec = F.concat(
        F.lit("Type: "), F.col("event_type"), F.lit("\n"),
        F.lit("Value: "), F.col("value").cast("string"),
    )
    m = F.str_to_map(rec, F.lit("\n"), F.lit(": "))
    return ev.select(
        "event_id",
        F.element_at(m, "Type").alias("rec_type"),
        F.element_at(m, "Value").alias("rec_value"),
    )


def q_explode_pos(spark, sf):
    """UDTF-ish nested flatten with position (posexplode)."""
    ev = _t(spark, sf, "events")
    chars = F.split(F.col("event_type"), "")
    return ev.select(
        "event_id", F.posexplode(chars).alias("pos", "ch")
    ).withColumn("pos", F.col("pos") + 1)


def q_u2_interleaved(spark, sf):
    """U2 — parent rows + child rows interleaved into one payload."""
    o = _t(spark, sf, "orders").filter(F.col("o_orderkey") < 2000)
    li = _t(spark, sf, "lineitem").filter(F.col("l_orderkey") < 2000)
    parents = o.select(
        F.col("o_orderkey").alias("key"), F.lit("order").alias("kind"),
        F.col("o_orderstatus").alias("detail"),
    )
    children = li.select(
        F.col("l_orderkey").alias("key"), F.lit("line").alias("kind"),
        F.col("l_linenumber").cast("string").alias("detail"),
    )
    return parents.unionByName(children)


def q_p8_routing(spark, sf):
    """P8 — conditional routing: one stream split into two outputs."""
    ev = _t(spark, sf, "events")
    errors = ev.filter(F.col("event_type") == "error").select(
        "event_id", F.lit("error_stream").alias("route")
    )
    normal = ev.filter(F.col("event_type") != "error").select(
        "event_id", F.lit("main_stream").alias("route")
    )
    return errors.unionByName(normal)


def q_rolling_fp(spark, sf):
    d = _t(spark, sf, "documents")
    return d.select("doc_id", T.rolling_hash_expr(F.col("text")).alias("rh"))


def q_fb_profile_updates(spark, sf):
    """FB parse_profile_updates dataflow (smparsers.py:152-190) on a
    profile-update-shaped frame synthesized natively from events: one
    media attachment with a subject + a friend comment; every 7th record
    has no title (skipped entirely), every 5th a non-whitelisted
    extension (attachment row dropped, update row kept)."""
    ev = _t(spark, sf, "events")
    title = F.when(F.col("event_id") % 7 == 0, F.lit(None).cast("string")) \
        .otherwise(F.concat(F.lit("Update "), F.col("event_type")))
    uri = F.concat(
        F.lit("photos/p"), F.col("event_id").cast("string"),
        F.when(F.col("event_id") % 5 == 0, F.lit(".xyz")).otherwise(F.lit(".jpg")),
    )
    comments = F.array(
        F.struct(
            F.lit("user_self").alias("author"),
            F.concat(F.lit("c"), F.col("event_id").cast("string")).alias("comment"),
        ),
        F.struct(F.lit("friend").alias("author"), F.lit("nice").alias("comment")),
    )
    media = F.struct(
        uri.alias("uri"), F.lit(None).cast("string").alias("title"),
        F.lit(None).cast("string").alias("description"), comments.alias("comments"),
    )
    updates = ev.select(
        F.col("event_id").alias("id"),
        F.unix_timestamp("ts").alias("timestamp"),
        title.alias("title"),
        F.array(F.struct(F.array(F.struct(media.alias("media"))).alias("data"))
                ).alias("attachments"),
    )
    # Date rendered as string: cross-engine date objects stringify
    # differently (datetime.date vs datetime64) and would break the hash.
    return SOC.fb_profile_updates_payload(updates, SOCIAL_CFG) \
        .withColumn("Date", F.date_format("Date", "yyyy-MM-dd"))


def _fb_profile_updates_sql() -> str:
    rng = D.in_date_range_sql("pts", SOCIAL_CFG.first_date, SOCIAL_CFG.last_date)
    ext = T.img_ext_sql("uri")
    post = (
        "'media/FB/Post' || cast(id as varchar) || '/Photo_' || "
        f"cast(id as varchar) || '_' || {T.ph_num_sql('0')} || {ext}"
    )
    return (
        "with u as (select event_id as id, "
        "to_timestamp(cast(floor(epoch(ts)) as bigint)) as pts, "
        "case when event_id % 7 = 0 then NULL "
        "else 'Update ' || event_type end as title, "
        "'photos/p' || cast(event_id as varchar) || "
        "(case when event_id % 5 = 0 then '.xyz' else '.jpg' end) as uri, "
        "'\"c' || cast(event_id as varchar) || '\"' as self_comment "
        "from events), "
        f"w as (select * from u where title is not null and {rng}) "
        "select strftime(pts, '%Y-%m-%d') as \"Date\", "
        "strftime(pts, '%-I:%M %p') as \"Time\", "
        "'Profile' as \"Location\", 'N/A' as \"Post\", title as \"Caption\", "
        "'' as \"Subject Comments\", '' as \"Friend Comments\", "
        "'profile_update' as row_kind from w "
        "union all "
        "select strftime(pts, '%Y-%m-%d'), strftime(pts, '%-I:%M %p'), uri, "
        f"{post}, title, self_comment, '\"nice\"', 'attachment' "
        f"from w where {ext} is not null"
    )


def q_tt_user_videos(spark, sf):
    """TT parse_user_videos (smparsers.py:462-472) on a Videos.txt-shaped
    frame from events: date filter + {{URL}} redaction, Like(s) passthrough."""
    ev = _t(spark, sf, "events")
    videos = ev.select(
        F.date_format("ts", "yyyy-MM-dd HH:mm:ss").alias("Date"),
        F.concat(F.lit("https://tt/v/"), F.col("event_id").cast("string")
                 ).alias("Video Link"),
        F.col("value").cast("string").alias("Like(s)"),
    )
    return SOC.tt_user_videos(videos, SOCIAL_CFG)


def _tt_user_videos_sql() -> str:
    rng = D.in_date_range_sql(
        "strptime(\"Date\", '%Y-%m-%d %H:%M:%S')",
        SOCIAL_CFG.first_date, SOCIAL_CFG.last_date,
    )
    return (
        "with videos as (select strftime(ts, '%Y-%m-%d %H:%M:%S') as \"Date\", "
        "cast(value as varchar) as \"Like(s)\" from events) "
        "select \"Date\", '{{URL}}' as \"Video Link\", \"Like(s)\" "
        f"from videos where {rng}"
    )


# --- UDF-backed (no SQL oracle; driver records rows-only check) -------------

def q_perplexity_udf(spark, sf):
    d = _t(spark, sf, "documents")
    return d.select("doc_id", perplexity_pandas_udf()(F.col("text")).alias("perplexity"))


def q_ccnet_buckets(spark, sf):
    """CCNet head/middle/tail (Wenzek et al. 2020): per-language
    equal-count perplexity terciles — the classic quality partition of
    a crawl. Ordering compares the raw doubles: the perplexity UDF and
    its scalar fixture are bit-identical (perplexity_udf passes the
    driver's value hash unrounded), so ranks agree cross-engine; ties
    break on doc_id."""
    d = _t(spark, sf, "documents")
    ppl = d.select(
        "doc_id", "lang",
        perplexity_pandas_udf()(F.col("text")).alias("ppl"))
    return SA.score_buckets(ppl, "ppl", "doc_id", strata_col="lang") \
        .select("doc_id", "lang", "bucket")


def q_media_scrub(spark, sf):
    _pin_session(spark)
    pages = webpages_from_documents(spark, sf)
    return scrub_media(pages)


def q_media_scrub_hex(spark, sf):
    """media_scrub value-checked: hex-projected output (strings/bigints
    only, so the cross-engine hash is type-stable) vs the driver-side
    decoder fixture."""
    _pin_session(spark)
    out = scrub_media(webpages_from_documents(spark, sf))
    return out.select(
        "url",
        F.hex(F.col("scrubbed_bytes")).alias("scrubbed_hex"),
        F.col("width").cast("bigint").alias("width"),
        F.col("height").cast("bigint").alias("height"),
        "status",
    )


def q_media_bmp_scrub(spark, sf):
    """The REAL numpy BMP kernel value-checked end-to-end (round 5):
    deterministic synthetic_bmp blobs per doc_id (odd widths, both
    storage orders) through scrub_media's mapInPandas path — actual
    header parse, separable box blur, spec-valid re-encode — vs the
    fixture's code-independent naive-blur replication
    (oracle_fixtures._bmp_scrub_python). Unlike media_scrub_hex (whose
    html blobs exercise the fake-kernel plumbing), every byte of this
    output went through genuine image math."""
    import pandas as pd

    from social_media_pii_scrubber_spark.operators.media import synthetic_bmp

    _pin_session(spark)
    docs = _t(spark, sf, "documents").select(
        F.col("doc_id").cast("string").alias("url"), "doc_id")

    def _gen(batches):
        for pdf in batches:
            yield pd.DataFrame({
                "url": pdf["url"],
                "html": [synthetic_bmp(int(i)) for i in pdf["doc_id"]],
            })

    blobs = docs.mapInPandas(_gen, "url string, html binary")
    out = scrub_media(blobs)
    return out.select(
        "url",
        F.hex(F.col("scrubbed_bytes")).alias("scrubbed_hex"),
        F.col("width").cast("bigint").alias("width"),
        F.col("height").cast("bigint").alias("height"),
        "status",
    )


def q_media_features(spark, sf):
    """Multimodal feature extraction (binary → fixed-dim vector),
    projected to a comma-joined micro-unit (×1e6, HALF_UP) integer
    string so the driver's value hash is type- and format-stable (raw
    array<double> crashed its canonicalizer, VERDICT r03 item 1);
    value-checked against the driver-side fixture (plumbing-level
    scope, like media_scrub_hex)."""
    from social_media_pii_scrubber_spark.operators.media import extract_features

    _pin_session(spark)
    out = extract_features(webpages_from_documents(spark, sf))
    return out.select(
        "url",
        F.concat_ws(",", F.transform(
            F.col("features"),
            lambda x: F.round(x.cast("double") * 1000000.0, 0)
                       .cast("bigint").cast("string"),
        )).alias("features"),
    )


def q_clean_text_udf(spark, sf):
    from social_media_pii_scrubber_spark.config import FIXTURE_CONFIG
    _pin_session(spark)
    pages = webpages_from_documents(spark, sf)
    return pages.select(
        "url", S.clean_text_pandas_udf(FIXTURE_CONFIG)(F.col("text")).alias("cleaned")
    )


def _spamhost_pages(spark, sf):
    """webpages + a planted all-junk host: 20 pages on spamfarm.example
    sharing one low-quality text (keep_frac 0, dup_frac 19/20) — the
    host the reputation filter must drop; both engines derive the
    planting from doc_id."""
    pages = webpages_from_documents(spark, sf).select("url", "text")
    spam = _t(spark, sf, "documents").filter(F.col("doc_id") < 20).select(
        F.concat(F.lit("https://spamfarm.example/p/"),
                 F.col("doc_id").cast("string")).alias("url"),
        F.lit("$$$ @@@ ###").alias("text"),
    )
    return pages.unionByName(spam)


def _spamhost_pages_sql():
    return (
        "select url, text from (" + webpages_from_documents_sql() + ") "
        "union all select 'https://spamfarm.example/p/' || "
        "cast(doc_id as varchar) as url, '$$$ @@@ ###' as text "
        "from documents where doc_id < 20"
    )


def q_host_reputation(spark, sf):
    """Host/domain reputation dimension (round 5; CCNet per-domain
    stats / RefinedWeb URL-curation shape): one partial-agg'd
    groupBy(host) rollup of page count, duplicate fraction, mean
    length, heuristic-keep fraction. Ratios are single divisions of
    exact integer aggregates, so the cross-engine value hash is
    bit-stable (no float-sum ordering anywhere). Input plants an
    all-junk spamfarm host next to the 37 synthesized hosts."""
    from social_media_pii_scrubber_spark.operators import hosts as HO

    _pin_session(spark)
    return HO.host_stats(_spamhost_pages(spark, sf))


def q_host_filter(spark, sf):
    """Reputation filter-back: every page of a host failing the
    thresholds is dropped via a plain (never hint-broadcast) left_anti
    join on host — the planted spamfarm host vanishes, the organic
    hosts survive; both engines agree row-for-row."""
    from social_media_pii_scrubber_spark.operators import hosts as HO

    _pin_session(spark)
    pages = _spamhost_pages(spark, sf)
    return HO.host_reputation_filter(
        pages, HO.host_stats(pages)).select("url")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """Ordering is deliberate: the driver gate checks the FIRST 50 keys
    in insertion order, so the window is rotated each round to give
    every entry a fresh driver verdict. The EXACT-50 boundary marker
    below is enforced by tests/test_operators.py (ADVICE r03: the r03
    marker sat at position 61, silently dropping 11 documented entries
    out of the gate).

    Round-7 window (optimization round — no new entries, no changed
    oracle SQL): every entry whose OPERATOR IMPLEMENTATION this
    round's optimizations touched sits inside the first 50 so the
    driver re-verifies the rewritten paths on its own data —
    line_dedup/paragraph_dedup (slim-fingerprint rewrite),
    corpus_build (stage materialization), dedup_clusters/
    dedup_keep_list/dedup_keep_best/semdedup_keep/web_preprocess
    (connected-components rewrite), c4_line_filter (last-char terminal
    rule), quality_repetition/quality_heuristics/full_quality_gate +
    the flagship family (shared tokenization pass),
    host_reputation/host_filter (xxhash distinct fingerprint),
    quality_classifier/dsir_weights/dsir_topk (int-bucket explode),
    cosine_topk/ivf_topk/ann_amp_topk/embedding_dup_pairs_amp/
    ivf_trained_topk/kmeans_centroids (norm hoisting + parallelism).
    Rotated out to make room (all r06-driver-green on code this round
    did NOT touch): media_features, token_budget_mix, zip_ingest,
    a3_pivot_segments, a3_rollup, a4_dynamic_pivot, u2_interleaved,
    corpus_stats, pii_coverage_ext, fb_profile_updates,
    tt_user_videos."""
    return {
        # -- (a) new / operator code touched in round 6 --
        "pii_density_filter": q_pii_density_filter,  # NEW: drop policy
        "global_shuffle": q_global_shuffle,  # NEW: shuffle+shard prep
        "fix_mojibake": q_fix_mojibake,      # NEW: encoding repair
        "substring_remove": q_substring_remove,  # NEW: ExactSubstr removal
        "corpus_build": q_corpus_build,      # NEW: composed e2e job
        "bloom_incremental_dedup": q_bloom_incremental_dedup,  # NEW
        "paragraph_dedup": q_paragraph_dedup,  # NEW: "\n\n" granularity
        "line_dedup": q_line_dedup,
        "media_bmp_scrub": q_media_bmp_scrub,
        "media_scrub_hex": q_media_scrub_hex,
        "host_reputation": q_host_reputation,
        "host_filter": q_host_filter,
        "langid": q_langid,
        "langid_margin": q_langid_margin,
        "full_quality_gate": q_full_quality_gate,
        "keep_f1": q_keep_f1,
        "flagship_pipeline": q_flagship_pipeline,
        "flagship_from_html": q_flagship_from_html,
        "flagship_with_toxicity": q_flagship_with_toxicity,
        "streaming_scrub": q_streaming_scrub,
        # -- (b) remaining entries whose last verdict is r03 --
        "exact_dedup": q_exact_dedup,
        "media_scrub": q_media_scrub,  # rows-only (no_oracle) by design
        # -- (c) r07: entries whose OPERATOR CODE this optimization
        # round touched, pulled into the window so the driver verifies
        # the rewritten paths (CLAUDE.md window invariant): CC rewrite
        # → dedup_clusters / dedup_keep_list / dedup_keep_best /
        # semdedup_keep; repetition shared-lines → quality_repetition;
        # keep_expr shared-words → quality_heuristics; c4 last-char
        # rule → c4_line_filter; composition of several →
        # web_preprocess; score_exploded int-bucket explode →
        # quality_classifier / dsir_weights / dsir_topk; norm hoisting
        # → cosine_topk / ivf_topk / ann_amp_topk /
        # embedding_dup_pairs_amp / ivf_trained_topk /
        # kmeans_centroids / incremental_dedup(unchanged, kept from
        # r06 window) --
        "kmeans_centroids": q_kmeans_centroids,
        "dedup_keep_best": q_dedup_keep_best,
        "dedup_clusters": q_dedup_clusters,
        "dedup_keep_list": q_dedup_keep_list,
        "quality_repetition": q_quality_repetition,
        "quality_heuristics": q_quality_heuristics,
        "c4_line_filter": q_c4_line_filter,
        "web_preprocess": q_web_preprocess,
        "quality_classifier": q_quality_classifier,
        "cosine_topk": q_cosine_topk,
        "ivf_topk": q_ivf_topk,
        "ann_amp_topk": q_ann_amp_topk,
        "embedding_dup_pairs_amp": q_embedding_dup_pairs_amp,
        "ivf_trained_topk": q_ivf_trained_topk,
        "incremental_dedup": q_incremental_dedup,
        "dsir_weights": q_dsir_weights,
        "dsir_topk": q_dsir_topk,
        "ccnet_buckets": q_ccnet_buckets,
        "semdedup_keep": q_semdedup_keep,
        "nfc_normalize": q_nfc_normalize,
        "clean_text_udf": q_clean_text_udf,
        "ner_coverage": q_ner_coverage,
        "pii_coverage": q_pii_coverage,
        "scrub_bank": q_scrub_bank,
        "simhash": q_simhash,
        "tok_counts": q_tok_counts,
        "fingerprint": q_fingerprint,
        "rolling_fp": q_rolling_fp,
        # ---- driver-window boundary (EXACTLY 50 above; test-pinned) ----
        # everything below is r04/r05/r06-driver-green on code this
        # round did NOT touch; the r06-green entries rotated out to
        # make room for the rewritten-operator entries above:
        # media_features, token_budget_mix, zip_ingest,
        # a3_pivot_segments, a3_rollup, a4_dynamic_pivot,
        # u2_interleaved, corpus_stats*, pii_coverage_ext*,
        # fb_profile_updates*, tt_user_videos* (*r06-green; their
        # operator paths are untouched this round)
        "media_features": q_media_features,
        "corpus_stats": q_corpus_stats,
        "pii_coverage_ext": q_pii_coverage_ext,
        "fb_profile_updates": q_fb_profile_updates,
        "tt_user_videos": q_tt_user_videos,
        "token_budget_mix": q_token_budget_mix,
        "zip_ingest": q_zip_ingest,
        "a3_pivot_segments": q_a3_pivot_segments,
        "a3_rollup": q_a3_rollup,
        "a4_dynamic_pivot": q_a4_dynamic_pivot,
        "u2_interleaved": q_u2_interleaved,
        "p8_routing": q_p8_routing,
        "s2_from_json": q_s2_from_json,
        "s3_txt_kv": q_s3_txt_kv,
        "minhash_signature": q_minhash_signature,
        "lsh_pairs": q_lsh_pairs,
        "jaccard_pairs": q_jaccard_pairs,
        "contamination": q_contamination,
        "substring_dup": q_substring_dup,
        "chunk_text": q_chunk_text,
        "a2_groupby_count": q_a2_groupby_count,
        "a5_category_extract": q_a5_category_extract,
        "a6_distinct": q_a6_distinct,
        "bpe_merges": q_bpe_merges,
        "html_extract": q_html_extract,
        "explode_pos": q_explode_pos,
        "w1_photo_seq": q_w1_photo_seq,
        "p1_date_filter_events": q_p1_date_filter_events,
        "p2_orders_window": q_p2_orders_window,
        "p4_nonblank_documents": q_p4_nonblank_documents,
        "p6_anti_join": q_p6_anti_join,
        "j1_semi_flag": q_j1_semi_flag,
        "j4_zip_longest": q_j4_zip_longest,
        "a1_global_counts": q_a1_global_counts,
        "w2_week_bins": q_w2_week_bins,
        "w3_sort_limit": q_w3_sort_limit,
        "u1_union": q_u1_union,
        "f4_parse_when": q_f4_parse_when,
        "f5_time_string": q_f5_time_string,
        "f6_date_arith": q_f6_date_arith,
        "f7_split_kv": q_f7_split_kv,
        "f8_string_agg": q_f8_string_agg,
        "f9_contains": q_f9_contains,
        "f10_img_ext": q_f10_img_ext,
        "f11_ph_num": q_f11_ph_num,
        "f12_json_path": q_f12_json_path,
        "perplexity_udf": q_perplexity_udf,
        "ann_lsh_topk": q_ann_lsh_topk,
        "embedding_dup_pairs": q_embedding_dup_pairs,
        "url_canonicalize": q_url_canonicalize,
        "pack_sequences": q_pack_sequences,
        "tfidf": q_tfidf,
        "tfidf_similar_pairs": q_tfidf_similar_pairs,
        "sample_by_hash": q_sample_by_hash,
        "stratified_sample": q_stratified_sample,
        "split_by_hash": q_split_by_hash,
        "cap_per_key": q_cap_per_key,
        "train_char_lm": q_train_char_lm,
        "toxicity": q_toxicity,
    }


# ---------------------------------------------------------------------------
# oracles
# ---------------------------------------------------------------------------

def oracle_sql() -> dict[str, str]:
    pages_cte = webpages_from_documents_sql("documents")
    when_sql = (
        "case when event_id % 3 = 0 then cast(cast(floor(epoch(ts)) as bigint) as varchar) "
        "when event_id % 3 = 1 then strftime(ts, '%Y-%m-%d %H:%M:%S') || '+05:00' "
        "else 'not a date' end"
    )
    zip_side = (
        "select row_number() over (order by doc_id) as rn, cast(doc_id as varchar) as {n} "
        "from documents where lang = '{lang}'"
    )
    uri_sql = (
        "'media/img' || cast(p_partkey as varchar) || "
        "(case when p_partkey % 4 = 0 then '.jpg' when p_partkey % 4 = 1 then '.PNG' "
        "when p_partkey % 4 = 2 then '.txt' else '.TIF' end)"
    )
    return {
        "p1_date_filter_events": (
            "select event_id, ts, event_type from events where "
            + D.in_date_range_sql("ts", EVENTS_FIRST, EVENTS_LAST)
        ),
        "p2_orders_window": (
            "select o_orderkey, o_orderdate, o_totalprice from orders where "
            + D.in_date_range_sql("o_orderdate", ORDERS_FIRST, ORDERS_LAST)
        ),
        "p4_nonblank_documents": (
            "select doc_id from documents where trim(text) != ''"
        ),
        "p6_anti_join": (
            "select c_custkey, c_name from customer "
            "where c_custkey not in (select o_custkey from orders where o_totalprice > 150000)"
        ),
        "j1_semi_flag": (
            "select o_orderkey, o_custkey, "
            "o_custkey in (select c_custkey from customer where c_mktsegment = 'BUILDING')"
            " as is_building from orders"
        ),
        "j4_zip_longest": (
            "with a as (" + zip_side.format(n="a", lang="en") + "), "
            "b as (" + zip_side.format(n="b", lang="de") + "), "
            "c as (" + zip_side.format(n="c", lang="fr") + "), "
            "d as (" + zip_side.format(n="d", lang="es") + ") "
            "select coalesce(a.rn, b.rn, c.rn, d.rn) as rn, "
            "coalesce(a, '') as a, coalesce(b, '') as b, "
            "coalesce(c, '') as c, coalesce(d, '') as d "
            "from a full join b using (rn) full join c using (rn) full join d using (rn)"
        ),
        "a1_global_counts": (
            "select (select count(*) from customer) as total_customers, "
            "(select count(*) from supplier) as total_suppliers"
        ),
        "a2_groupby_count": (
            "select event_type, count(*) as cnt from events group by event_type"
        ),
        "a3_pivot_segments": P.pivot_count_sql(
            "customer", "c_nationkey", "c_mktsegment", SEGMENTS, total_name="total"
        ),
        "a4_dynamic_pivot": (
            "select user_id, "
            + ", ".join(
                f"count(case when event_type = '{t}' then 1 end) as \"{t}\""
                for t in EVENT_TYPES
            )
            + " from events group by user_id"
        ),
        "a5_category_extract": (
            f"select {P.extract_category_sql('lower(p_name)', PART_CATEGORIES)} as category, "
            "count(*) as cnt from part group by category"
        ),
        "a6_distinct": "select distinct c_mktsegment from customer",
        "w1_photo_seq": (
            "select l_orderkey, l_linenumber, "
            + T.ph_num_sql(
                "(row_number() over (partition by l_orderkey order by l_linenumber) - 1)"
            )
            + " as photo_seq from lineitem"
        ),
        "w2_week_bins": (
            f"select {D.week_bin_sql('ts', datetime(2024, 2, 1))} as week_bin, "
            "count(*) as cnt from events group by week_bin"
        ),
        "u1_union": (
            "select c_name as name, 'customer' as kind from customer "
            "union all select s_name as name, 'supplier' as kind from supplier"
        ),
        "f4_parse_when": (
            f"select event_id, {when_sql} as when_str, "
            + TP.parse_when_sql(f"({when_sql})")
            + " as parsed_ts from events"
        ),
        "f5_time_string": (
            "select event_id, strftime(ts, '%-I:%M %p') as time_str from events"
        ),
        "f7_split_kv": (
            "select event_id, "
            "split_part(event_type || ': ' || cast(value as varchar), ': ', 1) as k, "
            "split_part(event_type || ': ' || cast(value as varchar), ': ', 2) as v "
            "from events"
        ),
        "f8_string_agg": (
            "select user_id, string_agg(event_type, '; ' order by event_id) as type_seq "
            "from events group by user_id"
        ),
        "f9_contains": (
            "select p_partkey, p_name like '%red%' as has_red from part"
        ),
        "f10_img_ext": (
            f"select p_partkey, {T.img_ext_sql(f'({uri_sql})')} as ext from part"
        ),
        "f11_ph_num": (
            f"select l_orderkey, l_linenumber, {T.ph_num_sql('l_linenumber * 9')} as ph "
            "from lineitem"
        ),
        "f12_json_path": (
            "select event_id, json_extract_string(props, '$.k')::int as k_val from events"
        ),
        "scrub_bank": (
            f"with pages as ({pages_cte}) "
            f"select url, {S.scrub_bank_sql('text')} as scrubbed_text from pages"
        ),
        "pii_coverage": _pii_coverage_sql(),
        "pii_density_filter": _pii_density_filter_sql(),
        "pii_coverage_ext": _pii_coverage_ext_sql(),
        "web_preprocess": _web_preprocess_sql(),
        "substring_dup": _substring_dup_sql(),
        "substring_remove": _substring_remove_sql(),
        "incremental_dedup": _incremental_dedup_sql(),
        # same SQL on purpose: the bloom pre-filter must not change the
        # answer, and the shared oracle is the proof
        "bloom_incremental_dedup": _incremental_dedup_sql(),
        "ivf_topk": SIM.ivf_topk_sql(
            "embeddings", "vec_id < 3", "vec_id", "embedding",
            k=5, n_cells=8, probe=2,
        ),
        "ivf_trained_topk": _ivf_trained_topk_sql(),
        "zip_ingest": _zip_ingest_sql(),
        "ner_coverage": _ner_coverage_sql(),
        "corpus_stats": corpus_stats_sql("documents", "text", "lang"),
        "full_quality_gate": (
            "select doc_id, "
            f"{Q.keep_sql('text')} as keep_base, "
            f"{Q.repetition_keep_sql('text')} as keep_repetition, "
            f"{TX.toxicity_keep_sql('text')} as keep_toxicity, "
            f"({L.langid_margin_sql('text')} >= 1) as keep_lang_confident, "
            f"({Q.keep_sql('text')} and {Q.repetition_keep_sql('text')} "
            f"and {TX.toxicity_keep_sql('text')} "
            f"and {L.langid_margin_sql('text')} >= 1) as keep_full "
            "from documents"
        ),
        "quality_heuristics": (
            "select doc_id, "
            f"{Q.n_chars_sql('text')} as n_chars_calc, "
            f"{Q.n_words_sql('text')} as n_words, "
            f"{Q.mean_word_len_sql('text')} as mean_word_len, "
            f"{Q.symbol_ratio_sql('text')} as symbol_ratio, "
            f"{Q.distinct_ratio_sql('text')} as distinct_ratio, "
            f"{Q.stopword_fraction_sql('text')} as stopword_fraction, "
            f"{Q.keep_sql('text')} as keep "
            "from documents"
        ),
        "toxicity": (
            "with src as (select doc_id, case when doc_id % 9 = 0 "
            "then text || ' you stupid idiot full of hate' else text end as t "
            "from documents) "
            "select doc_id, "
            f"{TX.toxicity_score_sql('t')} as tox_score, "
            f"{TX.toxicity_keep_sql('t')} as tox_keep, "
            f"{TX.toxicity_scrub_sql('t')} as tox_scrubbed "
            "from src"
        ),
        "quality_repetition": (
            "with lined as (select doc_id, "
            "regexp_replace(text, ' the ', chr(10) || 'the ', 'g') as t "
            "from documents) "
            "select doc_id, "
            f"{Q.dup_line_fraction_sql('t')} as dup_line_frac, "
            f"{Q.top_bigram_fraction_sql('t')} as top_bigram_frac, "
            f"{Q.ellipsis_line_fraction_sql('t')} as ellipsis_frac, "
            f"{Q.bullet_line_fraction_sql('t')} as bullet_frac, "
            f"{Q.repetition_keep_sql('t')} as rep_keep "
            "from lined"
        ),
        "langid": (
            f"select doc_id, {L.langid_sql('text')} as pred_lang from documents"
        ),
        "langid_margin": (
            f"select doc_id, {L.langid_sql('text')} as pred_lang, "
            f"{L.langid_margin_sql('text')} as margin, "
            f"({L.langid_margin_sql('text')} >= 2) as confident from documents"
        ),
        "flagship_pipeline": pipeline_oracle_sql(pages_cte, CFG),
        "html_extract": (
            f"with pages as ({pages_cte}) select url, "
            f"{HT.html_text_sql('html')} as extracted_text, "
            f"({HT.html_text_sql('html')} = text) as byte_identical "
            f"from pages"
        ),
        "flagship_from_html": pipeline_oracle_sql(pages_cte, CFG, from_html=True),
        "keep_f1": EV.keep_confusion_sql(
            f"(select {Q.keep_sql('text')} as pred, "
            f"({Q.keep_sql('text')} and {Q.repetition_keep_sql('text')} "
            f"and {TX.toxicity_keep_sql('text')} "
            f"and ({L.langid_margin_sql('text')} >= 1)) as label "
            f"from documents)",
            "pred", "label"),
        # bounded stream through stateless stages == the batch result
        "streaming_scrub": pipeline_oracle_sql(pages_cte, CFG),
        "line_dedup": LN.line_dedup_sql(
            f"(select doc_id, {_LINES_SQL} as lined from documents)",
            "lined", "doc_id",
        ),
        "paragraph_dedup": LN.line_dedup_sql(
            f"(select doc_id, {_PARAS_SQL} as para from documents)",
            "para", "doc_id", sep_sql="(chr(10) || chr(10))",
        ),
        "corpus_build": _corpus_build_sql(),
        "c4_line_filter": (
            f"select doc_id, {LN.c4_line_filter_sql(f'({_LINES_SQL})')} "
            f"as text_c4 from documents"
        ),
        "flagship_with_toxicity": pipeline_oracle_sql(pages_cte, CFG, use_toxicity=True),
        "tok_counts": (
            "select doc_id, "
            f"{T.ws_token_count_sql('text')} as ws_tokens, "
            f"{T.bpe_ish_token_count_sql('text')} as bpe_tokens "
            "from documents"
        ),
        "fingerprint": (
            f"select doc_id, {T.fingerprint_sql('text')} as fp from documents"
        ),
        "a3_rollup": (
            "select coalesce(cast(c_nationkey as varchar), 'ALL') as nation, "
            "coalesce(c_mktsegment, 'ALL') as segment, count(*) as cnt "
            "from customer group by rollup(c_nationkey, c_mktsegment)"
        ),
        "f6_date_arith": (
            "select event_id, cast(event_id % 36 + 1 as int) as months_back, "
            "strftime(date '2024-12-31' - to_months(cast(event_id % 36 + 1 as int)), '%Y-%m-%d') as first_date, "
            "cast(floor(datediff('day', date '2024-12-31' - to_months(cast(event_id % 36 + 1 as int)), "
            "date '2024-12-31') / 7) + 2 as int) as num_weeks "
            "from events"
        ),
        "w3_sort_limit": (
            "select o_orderkey, o_totalprice from orders "
            "order by o_totalprice desc, o_orderkey limit 20"
        ),
        "s2_from_json": (
            "with raw as (select event_id, case when event_id % 10 = 0 "
            "then substr(props, 1, 3) else props end as r from events) "
            "select event_id, json_extract_string(r, '$.k')::int as k_val "
            "from raw where json_valid(r)"
        ),
        "s3_txt_kv": (
            "with recs as (select event_id, 'Type: ' || event_type || chr(10) || "
            "'Value: ' || cast(value as varchar) as rec from events) "
            "select event_id, regexp_extract(rec, 'Type: ([^\\n]*)', 1) as rec_type, "
            "regexp_extract(rec, 'Value: ([^\\n]*)', 1) as rec_value from recs"
        ),
        "explode_pos": (
            "select event_id, i as pos, ch from (select event_id, "
            "unnest(string_split(event_type, '')) as ch, "
            "generate_subscripts(string_split(event_type, ''), 1) as i from events)"
        ),
        "u2_interleaved": (
            "select o_orderkey as key, 'order' as kind, o_orderstatus as detail "
            "from orders where o_orderkey < 2000 "
            "union all "
            "select l_orderkey as key, 'line' as kind, cast(l_linenumber as varchar) as detail "
            "from lineitem where l_orderkey < 2000"
        ),
        "p8_routing": (
            "select event_id, case when event_type = 'error' then 'error_stream' "
            "else 'main_stream' end as route from events"
        ),
        "rolling_fp": (
            f"select doc_id, {T.rolling_hash_sql('text')} as rh from documents"
        ),
        "exact_dedup": DD.exact_dedup_sql(
            f"({_DOCS_WITH_DUPS_SQL})", "text", "doc_id", T.fingerprint_sql("text")
        ),
        "minhash_signature": DD.minhash_signature_sql("documents", "text", "doc_id"),
        "lsh_pairs": DD.lsh_candidate_pairs_sql(
            f"({_DOCS_WITH_DUPS_SQL})", "text", "doc_id"
        ),
        "jaccard_pairs": DD.jaccard_pairs_sql(
            f"({_DOCS_WITH_DUPS_SQL})", "text", "doc_id"
        ),
        "simhash": DD.simhash_signature_sql("documents", "text", "doc_id"),
        "cosine_topk": SIM.cosine_topk_sql("embeddings", "vec_id < 3", "vec_id", "embedding", k=5),
        "embedding_dup_pairs": SIM.embedding_dup_pairs_sql(
            "(select vec_id, embedding from embeddings "
            "union all select vec_id + 100000 as vec_id, embedding "
            "from embeddings where vec_id < 10)",
            "embedding", "vec_id", threshold=0.95, planes=SIM.COORD_PLANES,
        ),
        "ann_lsh_topk": SIM.lsh_topk_sql("embeddings", "vec_id < 3", "vec_id", "embedding", k=5,
                                         planes=SIM.COORD_PLANES),
        "url_canonicalize": (
            "with raw as (select doc_id, 'HTTPS://Host' || cast(doc_id % 37 as varchar) "
            "|| '.Example/Doc/' || cast(doc_id as varchar) || "
            f"({_URL_VARIANT}) as raw_url from documents) "
            f"select doc_id, raw_url, {U.url_canonicalize_sql('raw_url')} as canon_url "
            "from raw"
        ),
        "contamination": CT.contaminated_docs_sql(
            "(select doc_id, text from documents)",
            "(select doc_id, text from documents where doc_id < 5)",
            "text", "doc_id", min_shared=3,
        ),
        "chunk_text": PK.chunk_text_sql(
            "(select doc_id, text from documents)", "text", "doc_id",
            max_tokens=32, overlap=8,
        ),
        "pack_sequences": PK.pack_sequences_sql(
            f"(select doc_id, {T.ws_token_count_sql('text')} as n_tok from documents)",
            "doc_id", "n_tok", budget=512, n_buckets=16,
        ),
        "tfidf": TI.tf_idf_sql(_TFIDF_SRC_SQL, "text", "doc_id"),
        "tfidf_similar_pairs": TI.tfidf_similar_pairs_sql(
            _TFIDF_SRC_SQL, "text", "doc_id",
            threshold=0.85, max_df_fraction=1.0,
        ),
        "sample_by_hash": SA.sample_by_hash_sql(
            "(select doc_id, lang from documents)", "doc_id", rate=0.25
        ),
        "stratified_sample": SA.stratified_sample_by_hash_sql(
            "(select doc_id, lang from documents)", "doc_id", "lang",
            _STRATA_RATES, default_rate=0.1,
        ),
        "split_by_hash": SA.split_by_hash_sql(
            "(select doc_id from documents)", "doc_id", _SPLIT_WEIGHTS
        ),
        "cap_per_key": SA.cap_per_key_sql(
            "(select event_id, user_id from events)", "user_id", 3, "event_id"
        ),
        "global_shuffle": SA.global_shuffle_sql(
            "(select doc_id from documents)", "doc_id", n_shards=8
        ),
        "train_char_lm": SA.train_char_lm_sql("documents", "text"),
        "dedup_clusters": CC.connected_components_sql(
            DD.lsh_candidate_pairs_sql(f"({_DOCS_WITH_DUPS_SQL})", "text", "doc_id")
        ),
        "dedup_keep_list": CC.dedup_keep_list_sql(
            f"(select doc_id from ({_DOCS_WITH_DUPS_SQL}))",
            DD.lsh_candidate_pairs_sql(f"({_DOCS_WITH_DUPS_SQL})", "text", "doc_id"),
            "doc_id",
        ),
        "dedup_keep_best": CC.dedup_keep_best_sql(
            f"(select doc_id, cast(doc_id % 7 as double) as score "
            f"from ({_DOCS_WITH_DUPS_SQL}))",
            DD.lsh_candidate_pairs_sql(f"({_DOCS_WITH_DUPS_SQL})", "text", "doc_id"),
            "doc_id", "t.score",
        ),
        "token_budget_mix": SA.take_by_token_budget_sql(
            f"(select doc_id, lang, {T.ws_token_count_sql('text')} as n_tok "
            f"from documents)",
            "doc_id", "lang", "n_tok", _MIX_BUDGETS,
        ),
        "quality_classifier": (
            "select doc_id, cast(round(logit * 10000.0) as bigint) as "
            "logit_fp, cast(round(logit * 10000.0) as bigint) > 0 as keep "
            "from (" + CL.classifier_score_sql(
                "documents", "text", "doc_id", bias=-0.25) + ")"
        ),
        "dsir_weights": (
            f"select doc_id, cast(round(logw * 10000.0) as bigint) as "
            f"logw_fp from ({_dsir_weights_sql()})"
        ),
        "dsir_topk": (
            "select doc_id, cast(round(logw * 10000.0) as bigint) as logw_fp, "
            "cast(round(gumbel_key * 10000.0) as bigint) as key_fp from ("
            + DS.dsir_topk_sql(_dsir_weights_sql(), "doc_id", k=25) + ")"
        ),
        "nfc_normalize": (
            f"select doc_id, {T.nfc_normalize_sql('raw')} as normalized, "
            f"{T.nfc_normalize_sql('raw')} != raw as changed from "
            f"(select doc_id, text || {_NFD_SUFFIX_SQL} as raw "
            f"from documents)"
        ),
        "fix_mojibake": (
            f"select doc_id, {ENC.fix_mojibake_sql('raw')} as fixed, "
            f"cast(length(raw) - length({ENC.fix_mojibake_sql('raw')}) "
            f"as bigint) as chars_fixed from (select doc_id, text || "
            f"([{', '.join(ENC._sql_lit(p) for p in _MOJI_PLANTS)}])"
            f"[cast(doc_id % 4 as int) + 1] as raw from documents)"
        ),
        "semdedup_keep": SIM.semdedup_keep_sql(
            _EMB_WITH_DUPS_SQL, "embedding", "vec_id",
            SIM.make_centroids(8, 64), threshold=0.95,
        ),
        "embedding_dup_pairs_amp": SIM.embedding_dup_pairs_sql(
            _EMB_WITH_DUPS_SQL, "embedding", "vec_id", threshold=0.95,
            planes=SIM.hyperplanes(6, 2),
        ),
        "ann_amp_topk": SIM.lsh_topk_sql(
            "embeddings", "vec_id < 3", "vec_id", "embedding", k=5,
            planes=SIM.hyperplanes(4, 2),
        ),
        "fb_profile_updates": _fb_profile_updates_sql(),
        "tt_user_videos": _tt_user_videos_sql(),
        # perplexity_udf / clean_text_udf: model-shaped UDF stages with no
        # SQL rendering — value-checked against parquet fixtures built by
        # the INDEPENDENT plain-Python implementations (the pytest parity
        # logic promoted into the gate; functions/oracle_fixtures.py).
        # media_scrub stays rows-only (binary kernel, pytest-locked).
        "perplexity_udf": OF.fixture_sql(
            OF.ensure_perplexity_fixture, ORACLE_SF, "doc_id, perplexity"
        ),
        "bpe_merges": OF.fixture_sql(
            OF.ensure_bpe_fixture, ORACLE_SF,
            'cast(merge_idx as int) as merge_idx, "left", "right"',
        ),
        "ccnet_buckets": (
            "select doc_id, lang, bucket from ("
            + SA.score_buckets_sql(
                "(select d.doc_id, d.lang, p.perplexity as ppl "
                "from documents d join ("
                + OF.fixture_sql(OF.ensure_perplexity_fixture, ORACLE_SF,
                                 "doc_id, perplexity")
                + ") p using (doc_id))",
                "ppl", "doc_id", strata_col="lang",
            )
            + ")"
        ),
        "clean_text_udf": OF.fixture_sql(
            OF.ensure_clean_text_fixture, ORACLE_SF, "url, cleaned"
        ),
        "media_scrub_hex": OF.fixture_sql(
            OF.ensure_media_scrub_fixture, ORACLE_SF,
            "url, scrubbed_hex, width, height, status",
        ),
        "media_features": OF.fixture_sql(
            OF.ensure_media_features_fixture, ORACLE_SF, "url, features",
        ),
        "media_bmp_scrub": OF.fixture_sql(
            OF.ensure_media_bmp_fixture, ORACLE_SF,
            "url, scrubbed_hex, width, height, status",
        ),
        "host_reputation": HOSTS.host_stats_sql(
            "(" + _spamhost_pages_sql() + ")"),
        "host_filter": ("select url from ("
                        + HOSTS.host_reputation_filter_sql(
                            "(" + _spamhost_pages_sql() + ")")
                        + ")"),
        # the Spark side computes within_tol vs the fixture itself (the
        # epsilon comparison can't live in a hash), so the oracle pins
        # the expected shape: every cell within tolerance.
        "kmeans_centroids": OF.fixture_sql(
            OF.ensure_kmeans_fixture, ORACLE_SF,
            "cell, cast(len(centroid) as bigint) as dim, true as within_tol",
        ),
    }
