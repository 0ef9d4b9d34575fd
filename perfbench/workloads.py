"""The benchmark's workloads: seeded input, the job call, its output
checks, and the spans a traced run records around it.

Every workload reads one parquet input written during set-up; the job
never sees the seed. Jobs are called through their public entry
points: ``jobs.run_scrub.main(argv)`` and
``jobs.build_corpus.run_build_corpus``.
"""

from __future__ import annotations

from contextlib import nullcontext
from dataclasses import dataclass, field
from pathlib import Path

from pyspark.sql import functions as F

import jobs.build_corpus as BC
import jobs.run_scrub as RS
from social_media_pii_scrubber_spark import session as SES
from social_media_pii_scrubber_spark.config import ScrubConfig
from social_media_pii_scrubber_spark.operators.dates import in_date_range_expr
from social_media_pii_scrubber_spark.operators.evaluation import keep_confusion_sql
from social_media_pii_scrubber_spark.plans import checkpoint as CKPT
from social_media_pii_scrubber_spark.plans.pipeline import pipeline_oracle_sql
from social_media_pii_scrubber_spark.sources.webpages import generate_webpages

RUN_ID = "bench"
INPUT_PAGES = 2000      # every workload: job cost is mostly per-pass, not per-row
OVERSAMPLE = 4          # the input is a hash sample of 1/4 of the generated range
ORACLE_SAMPLE_MOD = 10  # DuckDB twin check covers page_id % 10 == seed % 10
EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"

# bench.py q16's classifier and budgets
CLASSIFIER = ({b: ((b * 2654435761) % 1000) / 1000.0 - 0.5 for b in range(4096)}, -0.1)
BUDGETS = {"en": 2_000_000, "de": 600_000, "fr": 600_000, "es": 600_000}
# the mat() boundaries of build_corpus, in call order (s4 closes inside
# s5's boundary, s6 inside s7's)
MAT_STAGES = ("s0", "s1", "s2", "s3", "s5", "s7")

# columns of the scrub output that the DuckDB twin reproduces
TWIN_COLS = ("warc_ts", "lang", "n_chars", "n_words", "mean_word_len",
             "symbol_ratio", "distinct_ratio", "stopword_fraction",
             "scrubbed_text")


@dataclass(frozen=True)
class Workload:
    name: str
    kind: str                 # "scrub" | "corpus"
    buckets: int
    flags: tuple = ()
    twin_cols: tuple = TWIN_COLS
    exact_keep: bool = False  # keep has a twin (no model UDF in it)
    oracle_kw: dict = field(default_factory=dict)


WORKLOADS = {
    w.name: w for w in (
        Workload("scrub_job", "scrub", 32),
        Workload("crawl_job", "scrub", 32,
                 flags=("--from-html", "--no-model-udfs", "--toxicity"),
                 twin_cols=TWIN_COLS + ("pred_lang", "tox_score"),
                 exact_keep=True,
                 oracle_kw={"use_toxicity": True, "from_html": True}),
        Workload("corpus_build", "corpus", 16),
    )
}


# ---------------------------------------------------------------------------
# set-up: seeded input
# ---------------------------------------------------------------------------

def write_input(spark, path: Path, seed: int) -> None:
    """A seed-keyed hash sample of exactly ``INPUT_PAGES`` rows from a larger
    generated range, with the generator's planted ``ref_keep`` labels
    and a numeric ``page_id``. The sample is a filter under a hash
    cutoff, so the generator's partitioning (one file per core) stays."""
    df = generate_webpages(spark, INPUT_PAGES * OVERSAMPLE, with_labels=True)
    h = F.xxhash64(F.col("url"), F.lit(seed))
    cutoff = (df.select(h.alias("h")).orderBy("h").limit(INPUT_PAGES)
              .agg(F.max("h")).first()[0])
    (df.filter(h <= cutoff)
       .withColumn("page_id", F.regexp_extract("url", "/p/([0-9]+)$", 1).cast("bigint"))
       .write.mode("overwrite").parquet(str(path)))


def input_stats(spark, path: Path) -> dict:
    cfg = ScrubConfig()
    r = spark.read.parquet(str(path)).agg(
        F.count(F.lit(1)).alias("rows"),
        F.sum(in_date_range_expr(F.col("warc_ts"), cfg.first_date, cfg.last_date)
              .cast("long")).alias("in_window"),
        F.sum(F.col("url").startswith("https://host0.").cast("long")).alias("host0"),
    ).first()
    return {"input_rows": r["rows"], "rows_in_window": r["in_window"],
            "window_share": round(r["in_window"] / max(r["rows"], 1), 4),
            "host0_share": round(r["host0"] / max(r["rows"], 1), 4)}


# ---------------------------------------------------------------------------
# the jobs
# ---------------------------------------------------------------------------

def run_job(w: Workload, inp: Path, out: Path, tracer=None) -> None:
    if w.kind == "scrub":
        RS.main(["--input", str(inp), "--output", str(out),
                 "--buckets", str(w.buckets), "--run-id", RUN_ID, *w.flags])
        return
    spark = SES.get_spark(app_name=f"corpus-{RUN_ID}")
    with tracer.span("sources") if tracer else nullcontext():
        pages = spark.read.parquet(str(inp))
    BC.run_build_corpus(
        spark, pages, str(out), run_id=RUN_ID, audit_path=str(out / "audit"),
        n_buckets=w.buckets, buckets_per_batch=4, id_col="page_id",
        classifier_model=CLASSIFIER, classifier_buckets=4096, budgets=BUDGETS)


def _noop_pass(tracer, df) -> None:
    """One noop-sink pass of the frame the writer batches re-run."""
    with tracer.span("pipeline.pass", probe=True):
        df.write.format("noop").mode("overwrite").save()


def instrument(w: Workload, tracer) -> None:
    """Install the traced run's spans (undone by ``tracer.restore``)."""
    if w.kind == "scrub":
        tracer.wrap(RS, "get_spark", "session")
        tracer.wrap(RS, "load_iceberg_or_parquet", "sources")
        tracer.wrap(RS, "filter_scrub_pipeline", "pipeline")
        tracer.wrap(RS, "write_with_checkpoints", "checkpoint")
        # the audit is the job's last action on the scored frame; the
        # probe pass runs after it, while the session is still up
        tracer.wrap(RS, "append_audit", "audit",
                    after=lambda _, args: _noop_pass(tracer, args[0]))
        return
    captured = {}
    stage_names = iter(MAT_STAGES)

    def count_stage(df, _args):
        stage = tracer.spans[-1]
        with tracer.span("stage_rows", probe=True):
            stage.rows = df.count()

    tracer.wrap(SES, "get_spark", "session")
    tracer.wrap(BC, "run_build_corpus", "build_corpus.run",
                after=lambda *_: _noop_pass(tracer, captured["df"]))
    tracer.wrap(BC, "build_corpus", "build_corpus")
    tracer.wrap(BC, "_cut_lineage",
                lambda: "build_corpus." + next(stage_names, "extra"),
                after=count_stage)
    tracer.wrap(CKPT, "write_with_checkpoints", "checkpoint",
                after=lambda _, args: captured.setdefault("df", args[0]))


# ---------------------------------------------------------------------------
# output checks
# ---------------------------------------------------------------------------

def _parquet_files(d: Path) -> list[Path]:
    return sorted(d.rglob("*.parquet"))


def output_size(out: Path) -> tuple[int, float]:
    data = _parquet_files(out / "data")
    audit = _parquet_files(out / "audit")
    return len(data), sum(p.stat().st_size for p in data + audit) / 2**20


def check_output(w: Workload, duck, inp: Path, out: Path, seed: int) -> dict:
    """Run every output check in DuckDB; returns {failures, keep_f1,
    digest, rows_written}."""
    fails: list[str] = []
    glob = f"{out}/data/*/*.parquet"
    data = f"read_parquet('{glob}', hive_partitioning = true)"
    audit = (f"read_parquet('{out}/audit/*/*.parquet', hive_partitioning = true) "
             f"where run_id = '{RUN_ID}'")
    pages = f"read_parquet('{inp}/*.parquet')"

    def one(sql: str):
        return duck.sql(sql).fetchone()[0]

    n = one(f"select count(*) from {data}")
    if n == 0:
        fails.append("no rows written")
    done = CKPT.CheckpointManifest(str(out)).done_buckets()
    if done != set(range(w.buckets)):
        fails.append(f"manifest holds {len(done)} of {w.buckets} buckets")

    if w.kind == "scrub":
        expect = one(f"select sum(rows_in) from {audit}")
        keys, text = ("url",), "scrubbed_text"
        scored = (f"(select d.keep as pred, p.ref_keep from {data} d "
                  f"join {pages} p using (url))")
    else:
        expect = one(f"select sum(rows_kept) from {audit}")
        keys, text = ("page_id", "canonical_url"), "clean_text"
        scored = (f"(select d.page_id is not null as pred, p.ref_keep from {pages} p "
                  f"left join {data} d using (page_id))")
    if expect != n:
        fails.append(f"rows written {n} != audit {expect}")
    for k in keys:
        dups = one(f"select count(*) from (select {k} from {data} "
                   f"group by {k} having count(*) > 1)")
        if dups:
            fails.append(f"{dups} duplicate {k}")
    emails = one(f"select count(*) from {data} where regexp_matches({text}, '{EMAIL_RE}')")
    if emails:
        fails.append(f"{emails} email-pattern hits in {text}")
    f1 = duck.sql(keep_confusion_sql(scored, "pred", "ref_keep")).df()["f1"][0]
    # order-independent digest of every written row
    digest = one(f"select bit_xor(hash(t)) from {data} t")
    if w.kind == "scrub":
        fails += _twin_check(w, duck, inp, glob, seed)
    return {"failures": fails, "keep_f1": float(f1), "rows_written": n,
            "digest": f"{n}:{digest:016x}"}


def _twin_check(w: Workload, duck, inp: Path, glob: str, seed: int) -> list[str]:
    """Seed-keyed sample of the output vs the pipeline's DuckDB twin
    over the same input rows, column by column."""
    pages = (f"select url, warc_ts, html, text, lang "
             f"from read_parquet('{inp}/*.parquet') "
             f"where page_id % {ORACLE_SAMPLE_MOD} = {seed % ORACLE_SAMPLE_MOD}")
    oracle = pipeline_oracle_sql(pages, ScrubConfig(), **w.oracle_kw)
    diff = ", ".join(f"count(*) filter (where o.{c} is distinct from w.{c}) as {c}"
                     for c in w.twin_cols)
    keep = ("o.keep is distinct from w.keep" if w.exact_keep
            else "w.keep and not o.keep")  # the model UDFs only ever drop more
    sql = (
        f"with o as ({oracle}), "
        f"w as (select * from read_parquet('{glob}') where url in "
        f"  (select url from ({pages}))) "
        f"select count(*) filter (where o.url is null) as extra_rows, "
        f"count(*) filter (where w.url is null) as missing_rows, "
        f"count(*) filter (where {keep}) as keep, "
        f"count(*) as sampled, {diff} "
        f"from o full outer join w on o.url = w.url")
    rel = duck.sql(sql)
    vals = dict(zip(rel.columns, rel.fetchone()))
    fails = [f"twin mismatch on {c}: {v} rows" for c, v in vals.items()
             if c != "sampled" and v]
    if not vals["sampled"]:
        fails.append("twin sample is empty")
    return fails
