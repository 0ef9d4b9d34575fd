"""Dump formatted physical plans for a before/after diff.

    python tools/dump_plans.py OUT_DIR [NAME…]

Writes ``explain('formatted')`` of the bench-shaped queries — built the
way bench.py builds them, over a 10 000-row generated web corpus and
the ``$SPARK_GRAFT_SF_DIR`` tables (plan shape does not depend on row
count) — plus the ``queries()`` entries NAME… at sf0.01, one
``OUT_DIR/<name>.txt`` each. The q16 corpus build and q4c's pair stage
are also dumped with ``checkpoint=None``, so every stage shows in one
plan instead of only the last stage over checkpointed inputs; the pair
stage is dumped as its ``(id_a, id_b)`` projection, the columns q4c's
components stage reads. Run it on two checkouts and ``diff -r`` the
directories: volatile ids (``#N``, ``plan_id=N``, lambda variables
``x_N``, RDD ids, the session-global ``_common_expr_N`` counter) are
normalized, so only plan shape differs.

The plan properties performance depends on are asserted by
``tests/test_plan_shapes.py``; this tool is for reviewing a change.
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


def normalize(plan: str) -> str:
    """Strip the ids that change between runs of the same plan."""
    plan = re.sub(r"#\d+L?", "#_", plan)
    plan = re.sub(r"plan_id=\d+", "plan_id=_", plan)
    plan = re.sub(r"\b([xyz])_\d+\b", r"\1_", plan)
    plan = re.sub(r"RDD\[\d+\]", "RDD[_]", plan)
    plan = re.sub(r"_common_expr_\d+", "_common_expr__", plan)
    return re.sub(r"InMemoryFileIndex\([^)]*\)\[[^\]]*\]",
                  "InMemoryFileIndex[...]", plan)


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
    from social_media_pii_scrubber_spark.operators.components import near_dup_dedup
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
    yield "q4c_near_dup_pairs", DD.jaccard_pairs(
        docs, "text", "doc_id", family=XXHASH64, checkpoint=None
    ).select("id_a", "id_b")
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


def main() -> None:
    if len(sys.argv) < 2:
        raise SystemExit(__doc__)
    spark = get_spark(master="local[8]", shuffle_partitions=8)
    dump_dir(spark, Path(sys.argv[1]), sys.argv[2:])
    spark.stop()


if __name__ == "__main__":
    main()
