"""Scaling-efficiency measurement: N vs 4N cores on identical input.

Sandbox stand-in for the north rule's two-cluster-size criterion
(N vs 4N executors): the SAME flagship filter+scrub job over the SAME
parquet input at local[N] and local[4N]. Reports throughput at both
plus efficiency = (T4N/TN)/4 into stdout (and is summarized in
BENCH.md / BASELINE.md).

Each level runs in its own subprocess → fresh JVM, no warm-cache bias
toward the second run; the corpus is written once beforehand so both
levels read identical bytes.

Usage: python tools/bench_scaling.py [rows] [N] [4N] [job]
(default pair 1/4, which fits a 4-core box; on a larger box pass e.g.
`2 8` or `8 32`)

``job`` picks the measured plan (VERDICT r05 item 8 — the flagship is
scan+UDF bound, so the N→4N claim also needs a shuffle-dominated
witness):
- ``flagship`` (default): full filter+scrub pipeline;
- ``line_dedup``: corpus-global line dedup (q8b's plan — one reused
  fingerprint-keyed exchange + per-doc reassembly shuffle).
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import tempfile

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

RUNNER = r"""
import json, os, sys, time
sys.path.insert(0, {repo!r})
from social_media_pii_scrubber_spark.session import get_spark
from social_media_pii_scrubber_spark.plans.pipeline import filter_scrub_pipeline
from social_media_pii_scrubber_spark.config import ScrubConfig

cores = int(sys.argv[1]); src = sys.argv[2]
job = sys.argv[3] if len(sys.argv) > 3 else "flagship"
# split sizing: the corpus is ~3 MB/file; the default 128 MB split +
# 4 MB open-cost would coalesce the whole scan into ~5 input splits and
# cap parallelism below even 8 cores. 4 MB splits -> ~1 split per file,
# several task waves per core at both levels (fair scaling comparison).
extra = {{
    "spark.sql.files.maxPartitionBytes": "4m",
    "spark.sql.files.openCostInBytes": "1m",
}}
# SCALING_LOCAL_DIR points shuffle spill at another device (e.g. a
# tmpfs under /dev/shm) to separate CPU scaling from shuffle-disk
# saturation — on this sandbox the default /tmp device stops scaling
# before the cores do for shuffle-heavy jobs.
if os.environ.get("SCALING_LOCAL_DIR"):
    extra["spark.local.dir"] = os.environ["SCALING_LOCAL_DIR"]
# Shuffle layout: a real two-cluster-size comparison holds the DATA
# layout fixed and varies only the executor count — AQE sizes reduce
# partitions to the bytes, not the cores, so the same input produces
# the same shuffle partitioning on both clusters. Coupling partitions
# to cores (the old default) gives the 2-core leg two giant reduce
# partitions (hash tables + spill pressure the 8-core leg never sees)
# and is a harness artifact, not a scaling property of the plan.
# SCALING_SHUFFLE_PARTITIONS overrides; default stays data-sized (32,
# matching bench.py's production layout for this corpus).
shuf = int(os.environ.get("SCALING_SHUFFLE_PARTITIONS", "32"))
spark = get_spark(app_name=f"scaling-{{cores}}", master=f"local[{{cores}}]",
                  shuffle_partitions=shuf,
                  extra_conf=extra)
pages = spark.read.parquet(src)
n = pages.count()  # warm scan metadata; not part of the timed job
if job == "flagship":
    # warm Python UDF workers (fork+import is a one-time cluster cost)
    filter_scrub_pipeline(pages.limit(2000), ScrubConfig(), use_model_udfs=True).df.count()
    def run_job():
        out = filter_scrub_pipeline(pages, ScrubConfig(), use_model_udfs=True).df
        return out.filter("keep").count()
else:
    from pyspark.sql import functions as F
    from social_media_pii_scrubber_spark.operators.lines import line_dedup
    lined = pages.select(
        "url", F.regexp_replace("text", r" the ", chr(10) + "the ").alias("lined"))
    line_dedup(lined.limit(2000), "lined", "url").count()  # warm codegen
    def run_job():
        return line_dedup(lined, "lined", "url").count()
# SCALING_TRIALS trials (default 3), report the min: the sandbox host
# shows heavy CPU steal (~46% historical) AND a per-process delivered-
# compute ramp (trial sequences like 90->39->33 s at ~0%% steal on the
# low-core leg), so single-shot wall clock is throttle-noise;
# best-of-N approximates the unthrottled steady state at each level.
# The low-core leg converges SLOWER (the ramp is amortized over fewer
# parallel tasks), so raise SCALING_TRIALS until its trial list
# plateaus — an unconverged low leg inflates efficiency past 1.0,
# which the emitted trial list makes visible rather than hiding.
# Each trial carries its own /proc/stat steal window so the emitted
# artifact proves (or disproves) comparable host conditions across the
# two legs — a leg measured through a degraded epoch is visible in its
# trial list, not silently folded into a bogus efficiency number.
def _steal():
    try:
        v = [int(x) for x in open("/proc/stat").readline().split()[1:]]
        return (v[7] if len(v) > 7 else 0), sum(v)
    except OSError:
        return 0, 0
best, kept, trials = None, None, []
for _ in range(int(os.environ.get("SCALING_TRIALS", "3"))):
    s0, j0 = _steal()
    t0 = time.time()
    kept = run_job()
    dt = time.time() - t0
    s1, j1 = _steal()
    trials.append({{"sec": round(dt, 3),
                    "steal_pct": round(100.0 * (s1 - s0) / max(j1 - j0, 1), 2)}})
    print(json.dumps({{"cores": cores, "trial": trials[-1]}}), file=sys.stderr)
    best = dt if best is None or dt < best else best
print(json.dumps({{"cores": cores, "rows": n, "kept": kept, "job": job,
                   "sec": round(best, 3), "docs_per_sec": round(n / best, 1),
                   "trials": trials}}))
spark.stop()
"""


def main() -> None:
    rows = int(sys.argv[1]) if len(sys.argv) > 1 else 1_500_000
    lo = int(sys.argv[2]) if len(sys.argv) > 2 else 1
    hi = int(sys.argv[3]) if len(sys.argv) > 3 else 4
    job = sys.argv[4] if len(sys.argv) > 4 else "flagship"
    assert hi == 4 * lo, "pair must be N and 4N"
    assert job in ("flagship", "line_dedup"), f"unknown job {job!r}"
    # SCALING_CORPUS_DIR reuses an existing generated corpus (retrying
    # a steal-hit run shouldn't pay the generation pass again); the
    # row count must match or the corpus is regenerated in place.
    reuse = os.environ.get("SCALING_CORPUS_DIR")
    workdir = reuse or tempfile.mkdtemp(prefix="scaling_corpus_")
    src = os.path.join(workdir, f"pages_{rows}")

    if not os.path.exists(os.path.join(src, "_SUCCESS")):
        gen = (
            "import sys; sys.path.insert(0, {repo!r})\n"
            "from social_media_pii_scrubber_spark.session import get_spark\n"
            "from social_media_pii_scrubber_spark.sources.webpages import generate_webpages\n"
            f"spark = get_spark(master='local[{hi}]', shuffle_partitions=32)\n"
            f"generate_webpages(spark, {rows}, partitions=128).write.mode('overwrite').parquet({src!r})\n"
            "spark.stop()\n"
        ).format(repo=REPO)
        print(f"generating {rows} rows -> {src}", file=sys.stderr)
        subprocess.run([sys.executable, "-c", gen], check=True,
                       stderr=subprocess.DEVNULL)
    else:
        print(f"reusing corpus at {src}", file=sys.stderr)

    results = {}
    # Same heap both legs: the session's (8g unless SPARK_DRIVER_MEMORY
    # says otherwise). SCALING_HEAP overrides it for a job that needs
    # more; the heap is pre-touched, so size it to the box.
    env = dict(os.environ)
    if "SCALING_HEAP" in os.environ:
        env["SPARK_DRIVER_MEMORY"] = os.environ["SCALING_HEAP"]
    for cores in (lo, hi):
        print(f"running {job} at local[{cores}]...", file=sys.stderr)
        proc = subprocess.run(
            [sys.executable, "-c", RUNNER.format(repo=REPO),
             str(cores), src, job],
            check=True, capture_output=True, text=True, env=env,
        )
        line = [l for l in proc.stdout.splitlines() if l.startswith("{")][-1]
        results[cores] = json.loads(line)
        print(proc.stderr.strip().splitlines()[-4:], file=sys.stderr)
        print(line, file=sys.stderr)

    tlo, thi = results[lo]["docs_per_sec"], results[hi]["docs_per_sec"]
    efficiency = (thi / tlo) / 4
    print(json.dumps({
        "rows": rows,
        "job": job,
        f"local{lo}_docs_per_sec": tlo,
        f"local{lo}_sec": results[lo]["sec"],
        f"local{lo}_trials": results[lo]["trials"],
        f"local{hi}_docs_per_sec": thi,
        f"local{hi}_sec": results[hi]["sec"],
        f"local{hi}_trials": results[hi]["trials"],
        f"speedup_{lo}_to_{hi}": round(thi / tlo, 3),
        "scaling_efficiency": round(efficiency, 3),
        "target": 0.8,
    }))


if __name__ == "__main__":
    main()
