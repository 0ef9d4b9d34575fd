"""End-to-end LLM corpus-build job: the composed pipeline.

Every training-pipeline operator in this repo passes its gate alone;
this module is the INTEGRATION artifact (VERDICT r05 item 3): one
composed DataFrame plan chaining the stages a RefinedWeb/C4/FineWeb
style corpus build actually runs, in their production order:

    url canonicalize + canonical-url dedup     (functions/urls.py)
      → corpus-global line dedup               (operators/lines.py)
      → exact content dedup                    (operators/dedup.py)
      → MinHash-LSH near-dup dedup             (operators/dedup.py,
                                                operators/components.py)
      → host/domain reputation filter          (operators/hosts.py)
      → quality + repetition + toxicity gate   (functions/quality.py,
                                                functions/toxicity.py)
      → hashed-ngram classifier selection      (operators/classifier.py)
      → per-language token-budget mix          (operators/sampling.py)
      → sequence packing assignment            (operators/packing.py)
      → PII scrub bank                         (functions/scrub.py)

The exact content dedup sits between line dedup and LSH on purpose:
web corpora carry huge classes of byte-identical documents (empty
boilerplate, mirrored stubs), and LSH band buckets over m identical
docs cost O(m²) candidate pairs — collapsing them first (one
fingerprint groupBy) bounds every LSH bucket by the DISTINCT-text
count, which is what production MinHash pipelines do.

Shuffle budget of the composed plan (tests/test_plan_shapes.py
test_corpus_build_final_stage_reads_checkpoints pins the final
stage): each stage contributes exactly its standalone exchanges,
none re-derived — canonical dedup (1 agg + the co-partitioned join),
line dedup (1 reused fingerprint exchange + doc reassembly), exact
dedup (1 agg + semi join), LSH chain (signature agg, reused band
exchange, verify joins, bounded CC iterations), host rollup (1 agg +
anti join), classifier (1 explode-agg + join-back), mix (1
per-stratum window sort), pack (1 window over the slim (id, n_tok)
projection + join-back). The quality gate and the final scrub are
pure codegen projections — no exchange.

Oracle parity: ``build_corpus_sql`` renders the SAME chain stage by
stage from each operator's DuckDB twin (CTE per stage, so the SQL
grows linearly); the ``corpus_build`` gate entry runs both at sf0.01
with planted url-dups, line-dups, near-dups and a bad host, value-
checked end to end. Floats never cross the engine boundary: the
classifier decision filters on the 4-dp fixed-point logit (repo
invariant), and every output column is int/string.
"""

from __future__ import annotations

import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from social_media_pii_scrubber_spark.functions import encoding as ENC
from social_media_pii_scrubber_spark.functions import quality as Q
from social_media_pii_scrubber_spark.functions import scrub as S
from social_media_pii_scrubber_spark.functions import text as T
from social_media_pii_scrubber_spark.functions import toxicity as TX
from social_media_pii_scrubber_spark.functions import urls as U
from social_media_pii_scrubber_spark.operators import classifier as CL
from social_media_pii_scrubber_spark.operators import dedup as DD
from social_media_pii_scrubber_spark.operators import hosts as HST
from social_media_pii_scrubber_spark.operators import lines as LN
from social_media_pii_scrubber_spark.operators import packing as PK
from social_media_pii_scrubber_spark.operators import sampling as SA
from social_media_pii_scrubber_spark.operators import components as CC
from social_media_pii_scrubber_spark.operators.components import dedup_keep_list_sql
from social_media_pii_scrubber_spark.operators.lineage import _cut_lineage
from social_media_pii_scrubber_spark.operators.hashing import XXHASH64, HashFamily

DEFAULT_BUDGETS = {"en": 50_000, "de": 20_000, "fr": 20_000, "es": 15_000}
CLASSIFIER_BIAS = -0.25
PACK_BUDGET = 2048
PACK_BUCKETS = 64


def build_corpus(pages: DataFrame, *,
                 id_col: str = "doc_id",
                 family: HashFamily = XXHASH64,
                 fix_encoding: bool = False,
                 pii_max_bp: int | None = None,
                 classifier_model: tuple | None = None,
                 classifier_buckets: int | None = None,
                 classifier_bias: float = CLASSIFIER_BIAS,
                 budgets: dict[str, int] | None = None,
                 pack_budget: int = PACK_BUDGET,
                 pack_buckets: int = PACK_BUCKETS,
                 checkpoint: str | None = "local") -> DataFrame:
    """pages(id, url, text, lang) → curated, scrubbed, pack-assigned
    training corpus.

    ``checkpoint`` materializes each stage boundary whose output is
    consumed by MORE THAN ONE downstream subtree ('local' =
    localCheckpoint, the single-box default; 'reliable' = durable
    checkpoint dir, mandatory for multi-hour cluster runs — same
    contract as operators/lineage.py; None = lazy stage
    boundaries, the pre-r07 behavior). The mode reaches s3's candidate
    list too (components.near_dup_dedup). Without
    stage cuts, Spark re-derives the whole upstream chain once per
    branch: every stage self-joins its input (dedup keep-join, host
    filter-back, classifier join-back, pack join-back), so the
    composed lazy plan grew to 558 Exchange nodes with ZERO
    reuse (the branches' column pruning makes subtrees non-identical,
    defeating ReusedExchange) and the 100k-page bench paid the
    canonicalize→line-dedup→LSH chain up to 8 times over. Measured
    r07: 169.5 s lazy → see OPTIMIZATION_r07.md for the materialized
    number. Materializing is exactly the guide-§8 'decide with small
    rows' discipline applied at stage granularity, and at 100 TB the
    stage artifacts are what you would write to durable storage anyway
    (checkpoint='reliable').

    ``id_col`` must be numeric and unique (the dedup representative,
    mix tie-break and pack bucketing all key on it). Output columns —
    all int/string, hash-stable: (id, canonical_url, lang, n_tok,
    cum_tokens, logit_fp, bucket, bin, offset, clean_text).

    ``family`` is the hash family of s2's exact dedup and s3's near-dup
    chain. ``family=MD5`` is the oracle profile, so ``build_corpus_sql``
    is an exact twin (with ``classifier_model=None``, whose
    hash-derived weights the twin renders). The default ``XXHASH64`` is
    the at-scale production profile, usually with
    ``classifier_model=(weights_dict, bias)`` inference.

    ``pii_max_bp`` (opt-in) extends the s5 gate with the PII-density
    DROP policy (functions/scrub.py): pages past ``pii_max_bp`` basis
    points of PII hits per word are contact data, not prose — dropped
    here rather than scrubbed into token soup at s9. Pure codegen,
    counts the same bank s9 applies.

    ``fix_encoding=True`` (opt-in, like the flagship's toxicity stage)
    prepends the mojibake repair chain (functions/encoding.py) to s0 —
    the production position: encoding damage corrupts every downstream
    signal (langid stopwords, dedup fingerprints, quality ratios), so
    CCNet/FineWeb repair before scoring. Pure guarded codegen; clean
    rows pay six ``contains`` scans.
    """
    i = F.col(id_col)
    budgets = DEFAULT_BUDGETS if budgets is None else budgets

    def mat(df: DataFrame) -> DataFrame:
        """Materialize a multi-consumer stage boundary (see docstring)."""
        return _cut_lineage(df, checkpoint) if checkpoint else df

    # s0: (opt-in) encoding repair, canonicalize + canonical-url dedup
    # (keep min id per canon)
    t0 = F.col("text")
    if fix_encoding:
        t0 = ENC.fix_mojibake_expr(t0)
    c = pages.select(
        i.alias(id_col),
        U.url_canonicalize_expr(F.col("url")).alias("canonical_url"),
        t0.alias("text"),
        F.col("lang"),
    )
    first = c.groupBy("canonical_url").agg(F.min(id_col).alias(id_col))
    c = mat(c.join(first, on=["canonical_url", id_col]))

    # s1: corpus-global line dedup, then re-attach the slim payload
    ld = LN.line_dedup(c, "text", id_col)
    d = mat(
        c.drop("text")
        .join(ld, on=id_col)
        .withColumnRenamed("text_deduped", "text")
    )

    # s2: exact content dedup (collapse identical texts BEFORE LSH —
    # bounds band buckets by distinct-text count; see module doc)
    keep_exact = DD.exact_dedup(d, "text", id_col, family=family)
    d = mat(d.join(keep_exact.select(id_col), on=id_col, how="left_semi"))

    # s3: near-dup dedup (pairs → components → min-id keep flag)
    d = mat(CC.near_dup_dedup(d, "text", id_col, family=family,
                              checkpoint=checkpoint)
            .filter("keep_dedup").drop("keep_dedup"))

    # s4: host/domain reputation rollup + filter-back
    stats = HST.host_stats(d, "canonical_url", "text")
    d = HST.host_reputation_filter(d, stats, "canonical_url")

    # s5: heuristic quality + repetition + toxicity gate (pure codegen)
    t = F.col("text")
    gate = (Q.keep_expr(t) & Q.repetition_keep_expr(t)
            & TX.toxicity_keep_expr(t))
    if pii_max_bp is not None:
        # opt-in PII-density DROP (functions/scrub.py): past a density
        # the page IS contact data — drop it here instead of letting
        # s9 scrub it into token soup. Counts the same scrub bank s9
        # applies, still pure codegen, no extra stage.
        hits = S.pii_token_count_expr(S.scrub_bank_expr(t))
        gate = gate & S.pii_density_keep_expr(
            hits, Q.n_words_expr(t), pii_max_bp)
    d = mat(d.filter(gate))

    # s6: classifier selection on the 4-dp fixed-point logit (floats
    # never decide a row cross-engine — repo invariant)
    if classifier_model is not None:
        kw = ({"n_buckets": classifier_buckets}
              if classifier_buckets is not None else {})
        scored = CL.score_with_model(d, "text", id_col, classifier_model, **kw)
    else:
        scored = CL.classifier_score(
            d, "text", id_col,
            CL.hash_weights_table(d.sparkSession), bias=classifier_bias)
    logit_fp = F.round(F.col("logit") * 10000.0).cast("bigint")
    d = (
        d.join(scored.select(id_col, logit_fp.alias("logit_fp")), on=id_col)
        .filter(F.col("logit_fp") > 0)
    )

    # s7: per-language token-budget mix
    d = d.withColumn("n_tok", T.ws_token_count_expr(F.col("text")))
    d = mat(SA.take_by_token_budget(d, id_col, "lang", "n_tok", budgets)
            .filter("keep_mix").drop("keep_mix"))

    # s8: sequence-packing assignment over the slim (id, n_tok) frame
    pk = PK.pack_sequences(d.select(id_col, "n_tok"), id_col, "n_tok",
                           budget=pack_budget, n_buckets=pack_buckets)
    d = d.join(pk, on=id_col)

    # s9: PII scrub bank (codegen regexp chain — the whole scrub cost)
    return d.select(
        id_col, "canonical_url", "lang", "n_tok", "cum_tokens",
        "logit_fp", "bucket", "bin", "offset",
        S.scrub_bank_expr(F.col("text")).alias("clean_text"),
    )


def build_corpus_sql(pages_sql: str, *,
                     id_col: str = "doc_id",
                     fix_encoding: bool = False,
                     pii_max_bp: int | None = None,
                     classifier_bias: float = CLASSIFIER_BIAS,
                     budgets: dict[str, int] | None = None,
                     pack_budget: int = PACK_BUDGET,
                     pack_buckets: int = PACK_BUCKETS) -> str:
    """DuckDB twin of ``build_corpus(family=MD5)``: the same
    chain rendered stage by stage from each operator's SQL twin, one
    CTE per stage (nested WITH in a CTE body is fine in DuckDB — the
    dedup_keep_list oracle already relies on it).

    Stage CTEs that downstream stages reference more than once are
    ``as materialized``: DuckDB 1.0 INLINES plain CTEs, and with ~2-3
    references per stage the ten-stage chain would recompute the base
    stages combinatorially (measured: minutes at 500 docs vs ~2 s
    materialized)."""
    budgets = DEFAULT_BUDGETS if budgets is None else budgets
    t0 = ENC.fix_mojibake_sql("text") if fix_encoding else "text"
    canon = U.url_canonicalize_sql("url")
    pairs = ("select id_a, id_b from ("
             + DD.jaccard_pairs_sql("d", "text", id_col) + ")")
    gate = (f"{Q.keep_sql('text')} and {Q.repetition_keep_sql('text')} "
            f"and {TX.toxicity_keep_sql('text')}")
    if pii_max_bp is not None:
        hits = S.pii_token_count_sql(S.scrub_bank_sql("text"))
        gate += (" and " + S.pii_density_keep_sql(
            hits, Q.n_words_sql("text"), pii_max_bp))
    return (
        f"with p as ({pages_sql}), "
        # s0: canonicalize + canonical-url dedup
        f"c0 as materialized (select {id_col}, {canon} as canonical_url, "
        f"  {t0} as text, lang from p), "
        f"cf as (select canonical_url, min({id_col}) as {id_col} "
        f"  from c0 group by canonical_url), "
        f"c as materialized "
        f"  (select c0.* from c0 join cf using (canonical_url, {id_col})), "
        # s1: line dedup + payload re-attach
        f"ldo as ({LN.line_dedup_sql('c', 'text', id_col)}), "
        f"ld as materialized (select c.{id_col}, c.canonical_url, c.lang, "
        f"  ldo.text_deduped as text from c join ldo using ({id_col})), "
        # s2: exact content dedup
        f"ex as ({DD.exact_dedup_sql('ld', 'text', id_col, T.fingerprint_sql('text'))}), "
        f"d as materialized (select ld.* from ld "
        f"  join (select {id_col} from ex) e using ({id_col})), "
        # s3: near-dup dedup
        f"ndo as ({dedup_keep_list_sql('d', pairs, id_col)}), "
        f"nd as materialized (select {id_col}, canonical_url, lang, text "
        f"  from ndo where keep_dedup), "
        # s4: host reputation filter
        f"hf as ({HST.host_reputation_filter_sql('nd', 'canonical_url')}), "
        # s5: heuristic gate
        f"g as materialized (select * from hf where {gate}), "
        # s6: classifier selection, 4-dp fixed point
        f"cl as ({CL.classifier_score_sql('g', 'text', id_col, bias=classifier_bias)}), "
        f"sel as (select g.*, cast(round(cl.logit * 10000.0) as bigint) as logit_fp "
        f"  from g join cl using ({id_col}) "
        f"  where cast(round(cl.logit * 10000.0) as bigint) > 0), "
        # s7: token-budget mix
        f"tk as (select *, {T.ws_token_count_sql('text')} as n_tok from sel), "
        f"mx0 as ({SA.take_by_token_budget_sql('tk', id_col, 'lang', 'n_tok', budgets)}), "
        f"mx as materialized (select * from mx0 where keep_mix), "
        # s8: packing assignment
        f"pk as ({PK.pack_sequences_sql('mx', id_col, 'n_tok', pack_budget, pack_buckets)}) "
        # s9: scrub + final projection
        f"select mx.{id_col}, mx.canonical_url, mx.lang, mx.n_tok, "
        f"mx.cum_tokens, mx.logit_fp, pk.bucket, pk.bin, pk.offset, "
        f"{S.scrub_bank_sql('mx.text')} as clean_text "
        f"from mx join pk using ({id_col})"
    )


def run_build_corpus(spark, pages: DataFrame, output_dir: str,
                     run_id: str = "run0", audit_path: str | None = None,
                     n_buckets: int = 16, buckets_per_batch: int | None = None,
                     **kw) -> dict:
    """Driver wrapper: composed build + checkpointed bucket-wise write
    (one file per bucket, batches packed up to the writer's row budget,
    ``buckets_per_batch`` an optional cap on buckets per batch; resume
    skips done buckets) + per-bucket lineage audit rows keyed by run_id
    (idempotent via dynamic partition overwrite)."""
    from social_media_pii_scrubber_spark.plans.audit import write_audit
    from social_media_pii_scrubber_spark.plans.checkpoint import (
        write_with_checkpoints,
    )

    out = build_corpus(pages, **kw)
    result = write_with_checkpoints(
        out, output_dir, n_buckets=n_buckets, url_col="canonical_url",
        buckets_per_batch=buckets_per_batch,
    )
    if audit_path:
        lineage = (
            spark.read.parquet(f"{output_dir}/data")
            .groupBy("bucket")
            .agg(F.count(F.lit(1)).alias("rows_kept"),
                 F.sum("n_tok").alias("tokens_kept"))
            .withColumn("run_id", F.lit(run_id))
        )
        write_audit(lineage, audit_path)
    return result
