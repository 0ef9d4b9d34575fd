"""Flagship plan: langid → quality heuristics → scrub → keep/drop.

The end-to-end dataflow the reference runs per platform (scan → date
filter → scrub → aggregate → sink; /root/reference/SMParser/
smparsers.py:220-231) generalized to the web-page table:

    scan (url, warc_ts, html, text, lang)
      → predicted language        (column ops; UDF variant for bench)
      → heuristic quality columns (pure Catalyst)
      → perplexity                (pandas UDF, optional stage)
      → date-window filter        (pushed to the scan)
      → PII scrub                 (native regexp_replace bank)
      → keep/drop decision
      → audit metrics via observe()

Stage order matters for the physical plan: the date filter is expressed
BEFORE any UDF stage so Catalyst pushes it to the scan (PushedFilters)
— UDF projections are optimization barriers, filters must never sit
above them (the reference does the same by hand: date-skip before
clean_text, smparsers.py:87→90).
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F

from ..config import ScrubConfig
from ..functions import quality as Q
from ..functions.html import html_text_expr, html_text_sql
from ..functions.langid import langid_expr, langid_pandas_udf
from ..functions.perplexity import perplexity_pandas_udf
from ..functions.scrub import clean_text_pandas_udf, scrub_bank_expr
from ..operators.dates import in_date_range_expr

MAX_PERPLEXITY = 40.0  # junk gate; English text scores ~15-25 under the model


@dataclass
class PipelineResult:
    df: DataFrame
    observation: Observation | None


def quality_columns(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Attach ``n_chars`` and the ``Q.word_heuristics`` bank as pure
    column expressions.

    r07: the word array is computed ONCE into a temporary column and
    the token-based heuristics read it, instead of each re-rendering
    split(trim(lower(text))) — codegen CSE does not fully deduplicate
    the repeated split trees (same finding as quality.keep_expr). The
    two-step projection survives the optimizer because CollapseProject
    keeps a non-cheap alias that is referenced more than once."""
    t = F.col(text_col)
    return df.withColumn("_qwords", Q.words_expr(t)).withColumns({
        "n_chars": Q.n_chars_expr(t),
        **Q.word_heuristics(t, F.col("_qwords")),
    }).drop("_qwords")


def filter_scrub_pipeline(
    pages: DataFrame,
    cfg: ScrubConfig | None = None,
    use_model_udfs: bool = False,
    use_ner: bool = False,
    use_toxicity: bool = False,
    with_observe: bool = False,
    from_html: bool = False,
) -> PipelineResult:
    """The flagship filter+scrub plan over the web-page table.

    ``use_model_udfs=False`` keeps every stage a column expression →
    the whole plan is oracle-checkable SQL. ``True`` adds the
    fastText-shaped langid UDF and the KenLM-shaped perplexity UDF
    (bench configuration; pytest locks UDF↔expr agreement).

    ``from_html=True`` runs the crawl front door: ``text`` is replaced
    by the engine's own extraction from the ``html:binary`` column
    (functions/html.py) before any filter stage — the configuration the
    north rule describes, where the reference-extracted text column
    doesn't exist and extraction is the pipeline's first operator. Still
    pure codegen, so the whole plan stays oracle-checkable.
    """
    cfg = cfg or ScrubConfig()

    df = pages
    # date window first — Catalyst pushes this into the scan
    df = df.filter(in_date_range_expr(F.col("warc_ts"), cfg.first_date, cfg.last_date))

    if from_html:
        df = df.withColumn("text", html_text_expr(F.col("html")))

    # ALL heavy native work (heuristics, regex scrub, heuristic keep)
    # lives in one whole-stage-codegen span BELOW the Python barrier —
    # projections above ArrowEvalPython don't get codegen, so pushing
    # the regex bank up there would fall back to interpreted eval.
    df = quality_columns(df)
    df = df.withColumn(
        "keep", Q.keep_of({h: F.col(h) for h, _, _ in Q.KEEP_RULES}))
    df = df.withColumn("scrubbed_text", scrub_bank_expr(F.col("text")))

    if use_toxicity:
        # toxicity stage (opt-in): score column, keep conjunct, and
        # {{TOXIC}} scrub appended to the native regex chain — stays in
        # the same codegen span as the PII bank
        from ..functions import toxicity as TX
        df = df.withColumn("tox_score", TX.toxicity_score_expr(F.col("text")))
        df = df.withColumn("keep", F.col("keep") & (F.col("tox_score") <= TX.MAX_TOXICITY))
        df = df.withColumn("scrubbed_text", TX.toxicity_scrub_expr(F.col("scrubbed_text")))

    if use_model_udfs:
        # both UDFs in one withColumns → Spark fuses them into a single
        # ArrowEvalPython node (one Python round-trip, not two)
        df = df.withColumns({
            "pred_lang": langid_pandas_udf()(F.col("text")),
            "perplexity": perplexity_pandas_udf()(F.col("text")),
        })
        df = df.withColumn(
            "keep", F.col("keep") & (F.col("perplexity") <= MAX_PERPLEXITY)
        )
    else:
        df = df.withColumn("pred_lang", langid_expr(F.col("text")))

    if use_ner:
        df = df.withColumn(
            "scrubbed_text", clean_text_pandas_udf(cfg)(F.col("scrubbed_text"))
        )

    obs = None
    if with_observe:
        obs = Observation("audit")
        df = df.observe(
            obs,
            F.count(F.lit(1)).alias("rows_in_window"),
            F.sum(F.col("keep").cast("long")).alias("rows_kept"),
            F.sum((~F.col("keep")).cast("long")).alias("rows_dropped"),
        )

    out = df.select(
        "url", "warc_ts", "lang", "pred_lang",
        "n_chars", "n_words", "mean_word_len", "symbol_ratio",
        "distinct_ratio", "stopword_fraction",
        *(["perplexity"] if use_model_udfs else []),
        *(["tox_score"] if use_toxicity else []),
        "keep", "scrubbed_text",
    )
    return PipelineResult(df=out, observation=obs)


def pipeline_oracle_sql(pages_cte: str, cfg: ScrubConfig | None = None,
                        use_toxicity: bool = False,
                        from_html: bool = False) -> str:
    """DuckDB twin of the column-only pipeline (use_model_udfs=False)."""
    from ..functions import toxicity as TX
    from ..functions.langid import langid_sql
    from ..functions.scrub import scrub_bank_sql
    from ..operators.dates import in_date_range_sql

    cfg = cfg or ScrubConfig()
    if from_html:
        pages_cte = (
            f"select url, warc_ts, html, {html_text_sql('html')} as text, "
            f"lang from ({pages_cte})"
        )
    keep = Q.keep_sql("text")
    heuristics = "".join(
        f" {v} as {h}," for h, v in
        Q.word_heuristics_sql("text", Q.words_sql("text")).items())
    scrub = scrub_bank_sql("text")
    tox_cols = ""
    if use_toxicity:
        keep = f"({keep} and {TX.toxicity_keep_sql('text')})"
        scrub = TX.toxicity_scrub_sql(f"({scrub})")
        tox_cols = f" {TX.toxicity_score_sql('text')} as tox_score,"
    return (
        f"with pages as ({pages_cte}) "
        f"select url, warc_ts, lang,"
        f" {langid_sql('text')} as pred_lang,"
        f" {Q.n_chars_sql('text')} as n_chars,"
        f"{heuristics}"
        f"{tox_cols}"
        f" {keep} as keep,"
        f" {scrub} as scrubbed_text"
        f" from pages"
        f" where {in_date_range_sql('warc_ts', cfg.first_date, cfg.last_date)}"
    )
