"""Extra (non-frozen) benchmarks: the heavy queries timed one by one.
bench.py is the frozen measurement harness; this file exists so
optimization work can localize cost to a query and prove before/after
deltas. Per-stage times of the corpus
build come from the traced benchmark run
(``perfbench/run.py --workload corpus_build --trace 1``:
``build_corpus.stage_pct.*`` / ``stage_rows.*``).

Usage:
  python bench_extra.py queries  # heavy queries, one count each
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from pyspark.sql import functions as F

from social_media_pii_scrubber_spark.session import get_spark
from social_media_pii_scrubber_spark.sources.webpages import generate_webpages

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
WEB_ROWS = int(os.environ.get("BENCH_WEB_ROWS", "1000000"))


def _steal():
    with open("/proc/stat") as f:
        vals = [int(x) for x in f.readline().split()[1:]]
    return (vals[7] if len(vals) > 7 else 0), sum(vals)


def timeit(name, fn, out):
    s0, j0 = _steal()
    t0 = time.time()
    fn()
    dt = time.time() - t0
    s1, j1 = _steal()
    st = round(100.0 * (s1 - s0) / max(j1 - j0, 1), 2)
    out[name] = {"time": round(dt, 3), "steal_pct": st}
    print(f"  {name}: {dt:.3f}s steal={st}%", flush=True)


def _corpus(spark):
    pages = generate_webpages(spark, WEB_ROWS).cache()
    n = pages.count()
    return pages, n


def run_queries(spark):
    pages, n = _corpus(spark)
    out = {}
    from social_media_pii_scrubber_spark.operators import dedup as DD
    from social_media_pii_scrubber_spark.operators import similarity as SIM
    from social_media_pii_scrubber_spark.operators import hosts as HST
    from social_media_pii_scrubber_spark.operators import classifier as CLF
    from social_media_pii_scrubber_spark.operators import dsir as DSR
    from social_media_pii_scrubber_spark.operators.components import near_dup_dedup
    from social_media_pii_scrubber_spark.operators.hashing import XXHASH64
    from social_media_pii_scrubber_spark.operators.lines import line_dedup

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    docs.count(); emb.count()
    wmap = {b: ((b * 2654435761) % 1000) / 1000.0 - 0.5 for b in range(4096)}

    timeit("q12_semdedup", lambda: SIM.semdedup_keep(
        emb, "embedding", "vec_id", SIM.make_centroids(8, 64),
        threshold=0.95).filter("keep_dedup").count(), out)
    timeit("q12_pairs_only", lambda: SIM.semdedup_pairs(
        emb, "embedding", "vec_id", SIM.make_centroids(8, 64),
        threshold=0.95).count(), out)
    timeit("q4c_near_dup_e2e", lambda: near_dup_dedup(
        docs, "text", "doc_id").filter("keep_dedup").count(), out)
    timeit("q4b_lsh_wide", lambda: DD.lsh_candidate_pairs(
        docs, "text", "doc_id", family=XXHASH64).count(), out)

    def _q15():
        stats = HST.host_stats(pages, "url", "text")
        HST.host_reputation_filter(pages, stats, "url").count()
    timeit("q15_host_reputation", _q15, out)
    timeit("q11_classifier", lambda: CLF.score_with_model(
        pages, "text", "url", (wmap, -0.1), n_buckets=4096).count(), out)

    def _q10():
        tgt = pages.filter(F.pmod(F.xxhash64("url"), F.lit(100)) < 1)
        src_fit = pages.filter(F.pmod(F.xxhash64("url"), F.lit(10)) < 1)
        ratio = DSR.log_ratio(
            DSR.bucket_distribution(tgt, "text", family=XXHASH64),
            DSR.bucket_distribution(src_fit, "text", family=XXHASH64))
        DSR.dsir_weights(pages, "text", "url", ratio,
                         family=XXHASH64).count()
    timeit("q10_dsir", _q10, out)

    lined = pages.select(
        "url", F.regexp_replace("text", r" the ", "\nthe ").alias("lined"),
    ).cache()
    lined.count()
    timeit("q8b_line_dedup", lambda: line_dedup(lined, "lined", "url").count(), out)
    lined.unpersist()
    print(json.dumps({"mode": "queries", "web_rows": n, "queries": out}))


def main():
    mode = sys.argv[1] if len(sys.argv) > 1 else "queries"
    if mode != "queries":
        raise SystemExit(f"unknown mode {mode}")
    spark = get_spark(app_name=f"bench_extra_{mode}",
                      master=f"local[{CPUS}]", shuffle_partitions=CPUS)
    run_queries(spark)
    spark.stop()


if __name__ == "__main__":
    main()
