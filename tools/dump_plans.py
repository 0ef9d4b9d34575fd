"""Dump physical plans, for the committed audit or a before/after diff.

The plan IS the scale contract — this makes the per-round plan audit a
committed, diffable artifact.

    python tools/dump_plans.py                  # rewrites PLANS.md
    python tools/dump_plans.py OUT_DIR [NAME…]  # formatted plans → OUT_DIR

Without arguments: each PLANS.md section records the properties the
plan-shape tests pin (fused Python barrier, pushdown, ReusedExchange,
partial aggregation, no forced broadcast) next to the finalized
(AQE) plan of that ``queries()`` entry at sf0.01.

With OUT_DIR: ``explain('formatted')`` of the bench-shaped queries —
built the way bench.py builds them, over a 10 000-row generated web
corpus and the ``$SPARK_GRAFT_SF_DIR`` tables (plan shape does not
depend on row count) — plus the ``queries()`` entries NAME… at sf0.01,
one ``OUT_DIR/<name>.txt`` each. The q16 corpus build and q4c's pair
stage are also dumped with ``checkpoint=None``, so every stage shows
in one plan instead of only the last stage over checkpointed inputs. Run it on two checkouts and
``diff -r`` the directories: volatile ids (``#N``, ``plan_id=N``,
lambda variables ``x_N``, RDD ids) are normalized, so only plan shape
differs.
"""
import io
import os
import re
import sys
from contextlib import redirect_stdout
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))

from pyspark.sql import functions as F  # noqa: E402

import __spark_entry__ as E  # noqa: E402
from social_media_pii_scrubber_spark.config import ScrubConfig  # noqa: E402
from social_media_pii_scrubber_spark.session import get_spark  # noqa: E402

# (queries() key, what to look for in the plan)
SECTIONS = [
    ("flagship_pipeline",
     "date filter reaches PushedFilters; heuristics + scrub in one "
     "WholeStageCodegen span; zero Python (column-only rendering); "
     "langid is ONE-PASS (r06): the word split and the four "
     "per-language marker counts are let_expr-bound — each "
     "size(filter(...)) appears exactly once in the projection "
     "instead of re-stated per CASE branch"),
    ("line_dedup",
     "r07 slim-fingerprint topology: only QUALIFYING lines explode, as "
     "(id, pos, h1, h2) rows — line TEXT never crosses an exchange; "
     "the single 128-bit-fingerprint Exchange is REUSED by the "
     "first-occurrence aggregate (partial_min map-side) and the join "
     "probe; non-first occurrences collapse to sparse per-doc removal "
     "lists and only docs that lose lines are rebuilt"),
    ("host_reputation",
     "one partial-agg'd groupBy(host) rollup (two HashAggregates "
     "around one exchange); ratios are projections of exact integer "
     "aggregates"),
    ("host_filter",
     "reputation filter-back via LeftAnti equi-join on host with NO "
     "forced broadcast hint (AQE decides; the host dimension grows "
     "with the corpus)"),
    ("lsh_pairs",
     "minhash subtree computed once (ReusedExchange on the band key); "
     "signature partial-aggregates map-side"),
    ("dedup_keep_list",
     "drop-list join carries NO broadcast hint (AQE decides at runtime)"),
    ("web_preprocess",
     "the full preprocess chain composes without a cartesian product or "
     "duplicated scrub evaluation"),
    ("substring_dup",
     "window-occurrence count partial-aggregates before its exchange"),
    ("substring_remove",
     "ONE exchange keyed on the 128-bit xxhash64-pair window "
     "fingerprint, REUSED by the first-occurrence aggregate and the "
     "join probe (line_dedup's topology); partial_min map-side; "
     "removal lists only for docs that lose spans; rebuild is a pure "
     "codegen projection (let-bound split, indexed filter HOF)"),
    ("ivf_topk",
     "cell assignment is a codegen argmax projection (no shuffle); the "
     "probe join broadcasts the small query side"),
    ("incremental_dedup",
     "snapshot anti-join carries no broadcast hint (AQE decides)"),
    ("dsir_weights",
     "construction-bounded ratio dimension broadcast into the scoring "
     "join (forced — static stats mis-estimate it); per-doc logw sum "
     "partial-aggregates map-side"),
    ("quality_classifier",
     "bounded weight dimension broadcast into the scoring join; per-doc "
     "logit sum partial-aggregates map-side (DSIR's topology)"),
    ("ccnet_buckets",
     "one partitioned sort window per language (oracle profile; the "
     "production path tags by sampled thresholds with no sort)"),
    ("paragraph_dedup",
     "line_dedup's exact topology at blank-line granularity "
     "(r07 slim-fingerprint shape, see line_dedup); sep is a "
     "regex-escaped literal so split and rejoin agree"),
    ("fix_mojibake",
     "the 123-pair repair chain is ONE codegen projection: a CASE "
     "guarded by six contains scans, the nested replace chain "
     "evaluated only on marker-bearing rows; no exchange, no Python, "
     "no per-pair expression re-evaluation"),
    ("global_shuffle",
     "shard assignment is a pure codegen md5-mod projection; the "
     "dense in-shard pos costs exactly ONE exchange "
     "(hashpartitioning on shard) + a per-shard sort for the window "
     "— the minimum any engine pays to materialize a shuffled order; "
     "no global sort, no driver collect"),
    ("corpus_build",
     "the composed end-to-end job, r07 STAGE-MATERIALIZED: every "
     "multi-consumer stage boundary is localCheckpointed (lazy "
     "composition re-derived the upstream chain once per self-joining "
     "stage — 558 Exchanges, zero reuse, see plans/r07), so the "
     "dumped plan is the FINAL stage (pack join-back + scrub codegen "
     "projection) over checkpointed inputs; per-stage plans equal the "
     "standalone operators' committed shapes; no forced broadcast on "
     "any corpus-growing side"),
]


def normalize(plan: str) -> str:
    """Strip the ids that change between runs of the same plan."""
    plan = re.sub(r"#\d+L?", "#_", plan)
    plan = re.sub(r"plan_id=\d+", "plan_id=_", plan)
    plan = re.sub(r"\b([xyz])_\d+\b", r"\1_", plan)
    plan = re.sub(r"RDD\[\d+\]", "RDD[_]", plan)
    return re.sub(r"InMemoryFileIndex\([^)]*\)\[[^\]]*\]",
                  "InMemoryFileIndex[...]", plan)


def finalized_plan(df) -> str:
    df.collect()  # let AQE finalize
    return df._jdf.queryExecution().executedPlan().toString()


def formatted_plan(df) -> str:
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def bench_frames(spark):
    """(name, DataFrame) for the bench-shaped queries, as bench.py
    builds them."""
    from jobs.build_corpus import build_corpus
    from social_media_pii_scrubber_spark.operators import classifier as CLF
    from social_media_pii_scrubber_spark.operators import dedup as DD
    from social_media_pii_scrubber_spark.operators import dsir as DSR
    from social_media_pii_scrubber_spark.operators import hosts as HST
    from social_media_pii_scrubber_spark.operators import similarity as SIM
    from social_media_pii_scrubber_spark.operators.components import (
        near_dup_dedup, near_dup_pairs_fast,
    )
    from social_media_pii_scrubber_spark.operators.hashing import XXHASH64
    from social_media_pii_scrubber_spark.operators.lines import (
        c4_line_filter_expr, line_dedup,
    )
    from social_media_pii_scrubber_spark.plans.pipeline import filter_scrub_pipeline
    from social_media_pii_scrubber_spark.sources.webpages import generate_webpages

    cfg = ScrubConfig()
    sf = os.environ.get("SPARK_GRAFT_SF_DIR", E.ORACLE_SF)
    pages = generate_webpages(spark, 10_000)
    docs = spark.read.parquet(f"{sf}/documents.parquet")
    emb = spark.read.parquet(f"{sf}/embeddings.parquet")
    wmap = {b: ((b * 2654435761) % 1000) / 1000.0 - 0.5 for b in range(4096)}

    yield "q1_flagship", filter_scrub_pipeline(
        pages, cfg, use_model_udfs=True).df.filter("keep")
    yield "q2_column_only", filter_scrub_pipeline(
        pages, cfg, use_model_udfs=False).df.filter("keep")
    yield "q3_exact_dedup", DD.exact_dedup(pages, "text", "url",
                                           family=XXHASH64)
    yield "q4_minhash_lsh", DD.lsh_candidate_pairs(docs, "text", "doc_id")
    yield "q4b_minhash_lsh_wide", DD.lsh_candidate_pairs(
        docs, "text", "doc_id", family=XXHASH64)
    yield "q4c_near_dup_dedup", near_dup_dedup(
        docs, "text", "doc_id").filter("keep_dedup")
    yield "q4c_near_dup_pairs", near_dup_pairs_fast(
        docs, "text", "doc_id", checkpoint=None)
    lined = pages.select(
        "url", F.regexp_replace("text", r" the ", "\nthe ").alias("lined"))
    yield "q8_c4_line_filter", lined.select(
        c4_line_filter_expr(F.col("lined")).alias("c")).filter("c != ''")
    yield "q8b_line_dedup", line_dedup(lined, "lined", "url")
    tgt = pages.filter(F.pmod(F.xxhash64("url"), F.lit(100)) < 1)
    src_fit = pages.filter(F.pmod(F.xxhash64("url"), F.lit(10)) < 1)
    ratio = DSR.log_ratio(
        DSR.bucket_distribution(tgt, "text", family=XXHASH64),
        DSR.bucket_distribution(src_fit, "text", family=XXHASH64))
    yield "q10_dsir_weights", DSR.dsir_weights(
        pages, "text", "url", ratio, family=XXHASH64)
    yield "q11_classifier", CLF.score_with_model(
        pages, "text", "url", (wmap, -0.1), n_buckets=4096)
    yield "q12_semdedup_pairs", SIM.semdedup_pairs(
        emb, "embedding", "vec_id", SIM.make_centroids(8, 64), threshold=0.95)
    yield "q6c_ivf_topk", SIM.ivf_topk(
        emb, emb.filter(F.col("vec_id") < 10), "vec_id", "embedding",
        k=10, n_cells=8, probe=2)
    stats = HST.host_stats(pages, "url", "text")
    yield "q15_host_reputation", HST.host_reputation_filter(pages, stats, "url")
    bpages = pages.limit(2000).withColumn(
        "page_id", F.regexp_extract("url", "/p/([0-9]+)$", 1).cast("bigint"))
    yield "q16_build_corpus", build_corpus(
        bpages, id_col="page_id",
        classifier_model=(wmap, -0.1), classifier_buckets=4096,
        budgets={"en": 2_000_000, "de": 600_000, "fr": 600_000, "es": 600_000},
        checkpoint=None)


def dump_dir(spark, out: Path, names: list[str]) -> None:
    out.mkdir(parents=True, exist_ok=True)
    # print every field: the default cut (25) hides most of a wide
    # minhash aggregate
    spark.conf.set("spark.sql.debug.maxToStringFields", 100_000)
    qs = E.queries()
    frames = list(bench_frames(spark))
    frames += [(n, qs[n](spark, E.ORACLE_SF)) for n in names]
    for name, df in frames:
        (out / f"{name}.txt").write_text(normalize(formatted_plan(df)))
    print(f"{len(frames)} plans written to {out}")


def dump_plans_md(spark) -> None:
    qs = E.queries()
    out = [
        "# PLANS — finalized physical plans of the headline queries",
        "",
        f"Generated by `python tools/dump_plans.py` at sf0.01, local[8], "
        f"AQE on. The pinned properties are asserted by "
        f"`tests/test_plan_shapes.py`; this file is the human-readable "
        f"audit trail.",
        "",
    ]
    for name, props in SECTIONS:
        plan = normalize(finalized_plan(qs[name](spark, E.ORACLE_SF)))
        out += [f"## {name}", "", f"**Pinned:** {props}", "",
                "```", plan.rstrip(), "```", ""]
    (REPO / "PLANS.md").write_text("\n".join(out))
    print(f"PLANS.md written ({len(SECTIONS)} sections)")


def main() -> None:
    spark = get_spark(master="local[8]", shuffle_partitions=8)
    if len(sys.argv) > 1:
        dump_dir(spark, Path(sys.argv[1]), sys.argv[2:])
    else:
        dump_plans_md(spark)
    spark.stop()


if __name__ == "__main__":
    main()
