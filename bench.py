"""Benchmark harness: headline queries at $SPARK_GRAFT_SF_DIR.

Prints ONE JSON line:
  {"metric": "...", "value": <total_sec>, "unit": "sec",
   "queries": {...}, "sf": ..., "docs_per_sec": ..., "attempts": [...],
   "query_steal": {...}, "query_attempts": {...}}

The headline metric is the flagship filter+scrub pipeline's wall time
over a generated Common-Crawl-style corpus (BASELINE.json metric =
docs/sec end-to-end filter+scrub throughput); the per-query map also
times the major operator families at the testdata SF.

STEAL-GATED PROTOCOL (VERDICT r04 item 1 + r05 items 1-2): this
sandbox is a shared host with bursty CPU steal AND with degradation
epochs that are invisible to steal% (65-80% sys-time page-fault
storms — CLAUDE.md host quirks). Two defenses, both self-proving in
the emitted artifact:

- EVERY timed query runs inside its own _StealWindow and is retried
  (up to BENCH_QUERY_MAX_ATTEMPTS, sleeping between tries) while its
  window's steal%% exceeds the gate. The artifact records each
  query's every attempt ("query_attempts") and the chosen attempt's
  steal%% ("query_steal") — no recorded number is a single unlucky
  shot anymore (r05's q8b recorded 37 s from a degraded window vs the
  repo's own gated 5 s; that class of artifact entry is now
  impossible without the artifact itself proving the host never
  offered a fair window).
- The headline block (q1 flagship best-of-3 + the q2 column-only
  control) is additionally CONTROL-NORMALIZED: acceptance requires
  both the attempt's steal%% under the gate AND its q2 within
  BENCH_Q2_TOL (default 1.25x) of the q2 baseline: min(best q2
  observed in-process, BENCH_Q2_REF). The absolute reference matters
  — an in-process-only minimum lets a WHOLE-RUN degraded epoch
  self-certify (every attempt equally slow, ratio 1.0; VERDICT r05
  item 2's failure mode through the back door). BENCH_Q2_REF
  defaults to 2.0 s, the recorded clean-window q2 across rounds
  (BENCH.md: 2.00/2.01/2.04/2.06 s on r05-r06 code); a LEGITIMATE
  q2 change (the column-only pipeline's code changes) must update
  the knob — the artifact records q2_ref so a stale value is
  visible. q2 is pure JVM and code-stable across rounds, so a slow
  q2 at low steal is exactly the sys-time degradation signature —
  such attempts RETRY instead of silently becoming the round's
  recorded throughput.

Env knobs:
  SPARK_GRAFT_SF_DIR        testdata dir (default /root/testdata/sf0.1)
  SPARK_GRAFT_CPUS          cores for local[] master (default 32)
  BENCH_WEB_ROWS            generated web-corpus size (default 1_000_000)
  BENCH_STEAL_GATE          steal%% gate (default 2.0)
  BENCH_MAX_ATTEMPTS        headline attempts (default 5)
  BENCH_RETRY_SLEEP         seconds between headline attempts (default 30)
  BENCH_Q2_TOL              headline q2-control tolerance (default 1.25)
  BENCH_Q2_REF              absolute q2 baseline cap, seconds (default 2.0)
  BENCH_QUERY_MAX_ATTEMPTS  per-query attempts (default 3)
  BENCH_QUERY_RETRY_SLEEP   seconds between per-query attempts (default 15)
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from pyspark.sql import functions as F

from social_media_pii_scrubber_spark.config import ScrubConfig
from social_media_pii_scrubber_spark.operators import dedup as DD
from social_media_pii_scrubber_spark.operators.hashing import XXHASH64
from social_media_pii_scrubber_spark.operators import similarity as SIM
from social_media_pii_scrubber_spark.plans.pipeline import filter_scrub_pipeline
from social_media_pii_scrubber_spark.session import get_spark
from social_media_pii_scrubber_spark.sources.webpages import generate_webpages

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
WEB_ROWS = int(os.environ.get("BENCH_WEB_ROWS", "1000000"))
STEAL_GATE_PCT = float(os.environ.get("BENCH_STEAL_GATE", "2.0"))
MAX_ATTEMPTS = int(os.environ.get("BENCH_MAX_ATTEMPTS", "5"))
RETRY_SLEEP = float(os.environ.get("BENCH_RETRY_SLEEP", "30"))
Q2_TOL = float(os.environ.get("BENCH_Q2_TOL", "1.25"))
# the 2.0 s default is calibrated for the default 1M-row/32-core
# config; at any other corpus size or core count the absolute cap is
# meaningless, so it disables itself unless explicitly set
_Q2_REF_ENV = os.environ.get("BENCH_Q2_REF")
Q2_REF = (float(_Q2_REF_ENV) if _Q2_REF_ENV
          else (2.0 if (WEB_ROWS == 1_000_000 and CPUS == 32)
                else float("inf")))
QUERY_MAX_ATTEMPTS = int(os.environ.get("BENCH_QUERY_MAX_ATTEMPTS", "3"))
QUERY_RETRY_SLEEP = float(os.environ.get("BENCH_QUERY_RETRY_SLEEP", "15"))
CFG = ScrubConfig()


def _count(df) -> int:
    return df.count()


def _cpu_steal() -> tuple[int, int]:
    """(steal_jiffies, total_jiffies) from /proc/stat — sampled around
    each measured window so the emitted steal_pct says how much of THAT
    window the shared host stole (VERDICT r03 item 8 / r04 item 1)."""
    try:
        with open("/proc/stat") as f:
            vals = [int(x) for x in f.readline().split()[1:]]
        return (vals[7] if len(vals) > 7 else 0), sum(vals)
    except OSError:
        return 0, 0


class _StealWindow:
    def __enter__(self):
        self.s0, self.j0 = _cpu_steal()
        return self

    def __exit__(self, *exc):
        s1, j1 = _cpu_steal()
        self.pct = round(100.0 * (s1 - self.s0) / max(j1 - self.j0, 1), 2)
        return False


timings: dict[str, float] = {}
query_meta: dict[str, dict] = {}


def timed(name: str, fn) -> None:
    """Steal-gated per-query measurement (VERDICT r05 item 1): run fn
    inside a _StealWindow; if the window's steal%% exceeds the gate,
    sleep and retry (the query work is idempotent — counts/collects
    over deterministic inputs). Record EVERY attempt; the chosen one
    is the first under the gate, else the min-steal attempt."""
    attempts: list[dict] = []
    for k in range(QUERY_MAX_ATTEMPTS):
        with _StealWindow() as w:
            t0 = time.time()
            fn()
            dt = time.time() - t0
        attempts.append({"time": round(dt, 3), "steal_pct": w.pct})
        if w.pct <= STEAL_GATE_PCT:
            break
        if k < QUERY_MAX_ATTEMPTS - 1:
            time.sleep(QUERY_RETRY_SLEEP)
    chosen = next(
        (i for i, a in enumerate(attempts) if a["steal_pct"] <= STEAL_GATE_PCT),
        min(range(len(attempts)), key=lambda i: attempts[i]["steal_pct"]),
    )
    timings[name] = attempts[chosen]["time"]
    query_meta[name] = {
        "attempts": attempts,
        "chosen": chosen,
        "steal_pct": attempts[chosen]["steal_pct"],
    }


def run_headline(pages, n_pages: int) -> dict:
    """One gated attempt: q1 flagship best-of-3 + q2 column-only
    control, with the attempt's own steal window."""
    with _StealWindow() as w:
        best, rows_out = None, 0
        for _ in range(3):
            t0 = time.time()
            out = filter_scrub_pipeline(pages, CFG, use_model_udfs=True).df
            rows_out = out.filter("keep").count()
            dt = time.time() - t0
            best = dt if best is None or dt < best else best
        t0 = time.time()
        _count(filter_scrub_pipeline(
            pages, CFG, use_model_udfs=False).df.filter("keep"))
        q2 = time.time() - t0
    return {
        "q1_filter_scrub_pipeline": round(best, 3),
        "q2_pipeline_column_only": round(q2, 3),
        "docs_per_sec": round(n_pages / best, 1),
        "kept_rows": rows_out,
        "steal_pct": w.pct,
    }


def main() -> None:
    spark = get_spark(
        app_name="bench", master=f"local[{CPUS}]",
        shuffle_partitions=CPUS,
    )
    steal0, jiff0 = _cpu_steal()

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    lineitem = spark.read.parquet(f"{SF_DIR}/lineitem.parquet")
    orders = spark.read.parquet(f"{SF_DIR}/orders.parquet")
    customer = spark.read.parquet(f"{SF_DIR}/customer.parquet")

    # warm the JVM/scan paths once
    _count(docs)

    # q1+q2 headline, steal-gated: the generated corpus is cached and
    # the Python UDF workers warmed ONCE (fork + module import is a
    # one-time cluster cost; steady-state docs/sec is the 100TB number)
    pages = generate_webpages(spark, WEB_ROWS).cache()
    n_pages = _count(pages)
    filter_scrub_pipeline(pages.limit(2000), CFG, use_model_udfs=True).df.count()
    # warmup q2 run: warms the column-only codegen path AND, when its
    # own window is clean, seeds the q2 control baseline so attempt 1
    # can't self-certify a degraded epoch (VERDICT r05 item 2)
    with _StealWindow() as w_seed:
        t0 = time.time()
        _count(filter_scrub_pipeline(
            pages, CFG, use_model_udfs=False).df.filter("keep"))
        q2_seed = round(time.time() - t0, 3)
    # baseline CAPPED by the absolute cross-round reference: a clean
    # seed can only lower it — a degraded whole-run epoch (every q2
    # equally slow, in-process ratio 1.0) can no longer self-certify
    q2_best = (min(q2_seed, Q2_REF)
               if w_seed.pct <= STEAL_GATE_PCT else Q2_REF)

    attempts: list[dict] = []
    for k in range(MAX_ATTEMPTS):
        a = run_headline(pages, n_pages)
        q2 = a["q2_pipeline_column_only"]
        q2_best = min(q2_best, q2)
        a["q2_ratio_vs_best"] = round(q2 / q2_best, 3)
        a["accepted"] = (a["steal_pct"] <= STEAL_GATE_PCT
                         and q2 <= Q2_TOL * q2_best)
        attempts.append(a)
        if a["accepted"]:
            break
        if k < MAX_ATTEMPTS - 1:
            time.sleep(RETRY_SLEEP)
    # choose with the FINAL q2_best (an early attempt may be vindicated
    # retroactively once a later attempt proves the host was degraded
    # the whole time): first attempt passing both gates, else the one
    # with the best (steal, q2) evidence.
    ok = [i for i, a in enumerate(attempts)
          if a["steal_pct"] <= STEAL_GATE_PCT
          and a["q2_pipeline_column_only"] <= Q2_TOL * q2_best]
    chosen = ok[0] if ok else min(
        range(len(attempts)),
        key=lambda i: (attempts[i]["steal_pct"],
                       attempts[i]["q2_pipeline_column_only"]))
    head = attempts[chosen]
    timings["q1_filter_scrub_pipeline"] = head["q1_filter_scrub_pipeline"]
    timings["q2_pipeline_column_only"] = head["q2_pipeline_column_only"]

    # q9: html→text extraction at corpus scale (the crawl front door —
    # pure codegen regexp chain, no shuffle, no Python)
    from social_media_pii_scrubber_spark.functions.html import html_text_expr
    timed("q9_html_extract", lambda: _count(
        pages.select(html_text_expr(F.col("html")).alias("et"))
        .filter(F.length("et") > 0)))

    # q9b: flagship in the crawl configuration — extraction as stage 0
    # over html:binary, then the full column-only filter+scrub
    timed("q9b_flagship_from_html", lambda: _count(
        filter_scrub_pipeline(pages.drop("text"), CFG,
                              from_html=True).df.filter("keep")))

    # q3: exact dedup at corpus scale
    timed("q3_exact_dedup", lambda: _count(
        DD.exact_dedup(pages, "text", "url", family=XXHASH64)))

    # q4: minhash LSH candidate pairs over the testdata documents
    timed("q4_minhash_lsh", lambda: _count(
        DD.lsh_candidate_pairs(docs, "text", "doc_id")))

    # q4b: PRODUCTION minhash profile — xxhash64, 128 hashes / 16 bands
    # (the config the recall test validates; no hex-string shuffles)
    timed("q4b_minhash_lsh_wide", lambda: _count(
        DD.lsh_candidate_pairs(docs, "text", "doc_id", family=XXHASH64)))

    # q4c: the full production near-dup chain (wide LSH → jaccard verify
    # → connected components → keep flags)
    from social_media_pii_scrubber_spark.operators.components import near_dup_dedup
    timed("q4c_near_dup_dedup_e2e", lambda: _count(
        near_dup_dedup(docs, "text", "doc_id").filter("keep_dedup")))

    # q5: simhash signatures (md5 oracle profile)
    timed("q5_simhash", lambda: _count(
        DD.simhash_signature(docs, "text", "doc_id")))

    # q5b: production 64-bit simhash (xxhash64, one bigint signature)
    timed("q5b_simhash64", lambda: _count(
        DD.simhash_signature_fast(docs, "text", "doc_id")))

    # q6: brute-force cosine top-k (10 queries x corpus)
    timed("q6_cosine_topk", lambda: _count(
        SIM.cosine_topk(emb, emb.filter(F.col("vec_id") < 10),
                        "vec_id", "embedding", k=10)))

    # q6b: OR-amplified embedding near-dup (numpy-matmul bucket UDF,
    # 4 tables x 256 buckets — the at-scale ANN/dedup path)
    timed("q6b_embedding_lsh", lambda: _count(
        SIM.embedding_dup_pairs(
            emb, "embedding", "vec_id", planes=SIM.hyperplanes(8, 4))))

    # q6c: IVF-Flat ANN, trained-shaped quantizer topology at probe=2/8
    # (cell assignment is codegen'd per-row argmax — no shuffle; the
    # probe join touches ~probe/n_cells of the corpus)
    timed("q6c_ivf_topk_probe2", lambda: _count(
        SIM.ivf_topk(emb, emb.filter(F.col("vec_id") < 10),
                     "vec_id", "embedding", k=10, n_cells=8, probe=2)))

    # q6d: k-means quantizer training (2 Lloyd iterations, 8 cells) —
    # the model-fit cost amortized over every IVF query that follows
    timed("q6d_kmeans_train", lambda: SIM.kmeans_train(
        emb, "embedding", n_cells=8, dim=64, iters=2))

    # q8: line-level cleaning at corpus scale — C4 line filter (pure
    # codegen, no shuffle) then corpus-global line dedup (one
    # fingerprint-keyed line shuffle + per-doc reassembly) over the
    # 1M-page web corpus
    from social_media_pii_scrubber_spark.operators.lines import (
        c4_line_filter_expr, line_dedup, paragraph_dedup,
    )
    # lined is cached: it feeds q8, q8b, q14 and q14b, and leaving the
    # regexp_replace lazy would re-run it map-side in all four — in
    # q14 that balanced pre-shuffle work dilutes the skew contrast the
    # query exists to show (the materialization itself is untimed)
    lined = pages.select(
        "url", F.regexp_replace("text", r" the ", "\nthe ").alias("lined"),
    ).cache()
    _count(lined)
    timed("q8_c4_line_filter", lambda: _count(
        lined.select(c4_line_filter_expr(F.col("lined")).alias("c"))
        .filter("c != ''")))
    timed("q8b_line_dedup", lambda: _count(line_dedup(lined, "lined", "url")))

    # q8c: RefinedWeb-style corpus-global PARAGRAPH dedup (same reused-
    # exchange plan as q8b at "\n\n" granularity). The paragraph-marked
    # corpus is cached untimed, like lined, so the timing is the dedup
    # itself, comparable with q8b.
    paras = pages.select(
        "url", F.regexp_replace("text", r" and ", "\n\nand ").alias("para"),
    ).cache()
    _count(paras)
    timed("q8c_paragraph_dedup", lambda: _count(
        paragraph_dedup(paras, "para", "url")))
    paras.unpersist()

    # q8d: exact-substring REMOVAL over the 1M-page corpus (Lee et al.
    # ExactSubstr) — strided 10-token windows, ~15-40 window rows/doc
    # through ONE reused fingerprint exchange, removal spans cut from
    # non-first occurrences, rebuild joined back. Uses the raw cached
    # corpus (window detection tokenizes on whitespace; no line
    # marking needed).
    timed("q8d_substring_remove", lambda: _count(
        DD.substring_remove(pages.select("url", "text"), "text", "url")))

    # q10: DSIR importance weights over the 1M-page web corpus at the
    # production bucket width (65536 xxhash64 buckets). The source
    # distribution is FIT ON A 10% HASH SAMPLE — the at-scale estimator
    # shape (65536 bucket frequencies don't need the full corpus; DSIR
    # fits its n-gram models on a subsample) — so the job is ~1.1
    # corpus explode-passes (0.1 dist + 0.01 target + 1.0 scoring)
    # instead of 2.1; ratio dimension force-broadcast (bounded by
    # construction), per-doc sum partial-agg'd
    from social_media_pii_scrubber_spark.operators import dsir as DSR

    def _q10():
        tgt = pages.filter(F.pmod(F.xxhash64("url"), F.lit(100)) < 1)
        src_fit = pages.filter(F.pmod(F.xxhash64("url"), F.lit(10)) < 1)
        ratio = DSR.log_ratio(
            DSR.bucket_distribution(tgt, "text", family=XXHASH64),
            DSR.bucket_distribution(src_fit, "text", family=XXHASH64),
        )
        _count(DSR.dsir_weights(pages, "text", "url", ratio, family=XXHASH64))
    timed("q10_dsir_weights", _q10)

    # q11: supervised quality-classifier inference over the 1M-page
    # corpus at the production width (65536 xxhash64 buckets, weights
    # from the deterministic hash family): one explode pass +
    # force-broadcast weight join + partial-agg'd logit sum — DSIR's
    # scoring topology with a model dimension instead of a ratio
    from social_media_pii_scrubber_spark.operators import classifier as CLF
    wmap = {b: ((b * 2654435761) % 1000) / 1000.0 - 0.5
            for b in range(4096)}
    timed("q11_classifier_score", lambda: _count(
        CLF.score_with_model(pages, "text", "url", (wmap, -0.1),
                             n_buckets=4096)))

    # q12: SemDeDup over the embeddings table (coarse cells → within-
    # cell exact cosine → components keep flags)
    timed("q12_semdedup", lambda: _count(
        SIM.semdedup_keep(emb, "embedding", "vec_id",
                          SIM.make_centroids(8, 64), threshold=0.95)
        .filter("keep_dedup")))

    # q13: BPE tokenizer training, 64 merges — one corpus-collapse pass
    # to the weighted type vocab, then the driver-side incremental merge
    # loop (one Spark job total; was one job per merge)
    from social_media_pii_scrubber_spark.operators.bpe import train_bpe
    timed("q13_bpe_train64", lambda: (
        len(train_bpe(docs, "text", 64)) == 64
        or (_ for _ in ()).throw(AssertionError("bpe merges != 64"))))

    # q14: skewed-host repartition, salted vs naive — host0 carries
    # ~30% of the 1M generated pages (the north-star skew case). Both
    # runs shuffle onto host partitions and then do identical per-row
    # line-filter work + a partial-agg'd sum; unsalted, host0's 300k
    # rows serialize through ONE post-shuffle task (the visible 63+1
    # straggler), while repartition_by_url's url-derived salt caps any
    # task at ~1/16 of the hot host. Measured 2.4x at equal steal.
    from social_media_pii_scrubber_spark.plans.partitioning import (
        repartition_by_url, url_host_expr,
    )
    skew_work = F.sum(F.length(c4_line_filter_expr(F.col("lined")))).alias("s")
    timed("q14_skew_repart_unsalted", lambda: lined.repartition(
        64, url_host_expr(F.col("url"))).select(skew_work).collect())
    timed("q14b_skew_repart_salted", lambda: repartition_by_url(
        lined, "url", n_partitions=64, n_salts=16).select(skew_work).collect())
    lined.unpersist()

    # q15: host/domain reputation rollup + filter-back over the 1M-page
    # corpus (one partial-agg'd groupBy(host) — host0 is the 30% hot
    # key, exercising the skewed partial-agg — then a plain left_anti
    # filter-back that AQE sizes; never hint-broadcast)
    from social_media_pii_scrubber_spark.operators import hosts as HST

    def _q15():
        stats = HST.host_stats(pages, "url", "text")
        _count(HST.host_reputation_filter(pages, stats, "url"))
    timed("q15_host_reputation_filter", _q15)

    # q17: mojibake repair over the 1M-page corpus with a realistic 5%
    # damage rate (hash-planted damaged suffix). The marker guard is
    # the point: 95% of rows short-circuit after six contains scans and
    # never run the 123-replace chain — this prices the repair stage a
    # web pipeline prepends to every quality signal.
    from social_media_pii_scrubber_spark.functions import encoding as ENC
    dmg = F.lit(ENC.damage(" It’s a “damaged” suffix — café, naïve… €5"))
    moji_raw = F.when(F.pmod(F.xxhash64("url"), F.lit(20)) < 1,
                      F.concat(F.col("text"), dmg)).otherwise(F.col("text"))
    timed("q17_fix_mojibake_5pct", lambda: pages.select(
        F.sum(F.length(ENC.fix_mojibake_expr(moji_raw))).alias("s")
    ).collect())

    # q18: deterministic global shuffle + shard assignment (32 shards)
    # over the 1M-page corpus — one exchange on the md5-derived shard
    # plus the per-shard external sort that materializing a shuffled
    # training order costs anywhere; max(pos) forces the window.
    from social_media_pii_scrubber_spark.operators import sampling as SA
    timed("q18_global_shuffle", lambda: SA.global_shuffle(
        pages.select("url"), "url", n_shards=32)
        .agg(F.max("pos").alias("m")).collect())

    # q16: the composed end-to-end corpus-build job (url canonicalize →
    # line dedup → exact dedup → near-dup dedup → host filter →
    # quality+toxicity gate → classifier selection → token-budget mix →
    # pack → scrub; jobs/build_corpus.py) — the integration artifact,
    # one number for the whole production-profile chain over a
    # hash-sampled 100k-page slice (the near-dup stage is the
    # quadratic-risk component; its cost is bounded by the exact-dedup
    # collapse, see the module doc)
    from jobs.build_corpus import build_corpus
    bc_rows = int(os.environ.get("BENCH_CORPUS_BUILD_ROWS", "100000"))
    mod = max(round(n_pages / bc_rows), 1)
    bpages = pages.filter(F.pmod(F.xxhash64("url"), F.lit(mod)) < 1) \
        .withColumn("page_id",
                    F.regexp_extract("url", "/p/([0-9]+)$", 1).cast("bigint"))
    timed("q16_build_corpus_e2e", lambda: _count(build_corpus(
        bpages, id_col="page_id",
        classifier_model=(wmap, -0.1), classifier_buckets=4096,
        budgets={"en": 2_000_000, "de": 600_000,
                 "fr": 600_000, "es": 600_000})))

    # q7: relational mix — join + agg + window over tpch-ish tables
    def _q7():
        j = (
            orders.join(F.broadcast(customer),
                        orders.o_custkey == customer.c_custkey)
            .groupBy("c_mktsegment")
            .agg(F.sum("o_totalprice").alias("rev"), F.count("*").alias("n"))
        )
        _count(j)
        li = lineitem.groupBy("l_orderkey").agg(F.sum("l_quantity").alias("q"))
        _count(li)
    timed("q7_relational_mix", _q7)

    pages.unpersist()
    steal1, jiff1 = _cpu_steal()
    steal_pct = round(
        100.0 * (steal1 - steal0) / max(jiff1 - jiff0, 1), 2)
    total = sum(timings.values())
    print(json.dumps({
        "metric": "end-to-end filter+scrub throughput (docs/sec) + operator timings",
        "value": round(total, 3),
        "unit": "sec",
        "queries": {k: round(v, 3) for k, v in timings.items()},
        "sf": SF_DIR,
        "web_rows": n_pages,
        "kept_rows": head["kept_rows"],
        "docs_per_sec": head["docs_per_sec"],
        "cpus": CPUS,
        "steal_pct": steal_pct,
        "steal_gate_pct": STEAL_GATE_PCT,
        "attempts": attempts,
        "chosen_attempt": chosen,
        "headline_steal_pct": head["steal_pct"],
        "q2_control_seed": {"time": q2_seed, "steal_pct": w_seed.pct},
        "q2_best": q2_best,
        # None when the absolute cap is disabled (non-calibrated
        # config) — float('inf') would emit non-strict JSON
        "q2_ref": (Q2_REF if Q2_REF != float("inf") else None),
        "q2_tolerance": Q2_TOL,
        "query_steal": {k: m["steal_pct"] for k, m in query_meta.items()},
        "query_attempts": {k: m["attempts"] for k, m in query_meta.items()
                           if len(m["attempts"]) > 1},
    }))
    spark.stop()


if __name__ == "__main__":
    main()
