"""spark-submit entrypoint for the filter+scrub pipeline.

Production invocation (north-star packaging requirement):

    zip -r pkg.zip social_media_pii_scrubber_spark
    spark-submit --py-files pkg.zip jobs/run_scrub.py \\
        --input  <iceberg table or parquet path> \\
        --output <output dir> \\
        --audit  <audit table path> \\
        --run-id r42 --buckets 256 --months-back 24 --last-date 2024-12-31

Sandbox smoke (generates its own corpus):

    python jobs/run_scrub.py --generate 100000 --output /tmp/scrub_out

The job is resumable: re-running with the same --output skips buckets
already marked done in the checkpoint manifest (idempotent via dynamic
partition overwrite).
"""

from __future__ import annotations

import argparse
import sys
from datetime import datetime
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from social_media_pii_scrubber_spark.config import ScrubConfig
from social_media_pii_scrubber_spark.plans.audit import append_audit
from social_media_pii_scrubber_spark.plans.checkpoint import write_with_checkpoints
from social_media_pii_scrubber_spark.plans.pipeline import filter_scrub_pipeline
from social_media_pii_scrubber_spark.session import get_spark, stop_session
from social_media_pii_scrubber_spark.sources.tables import load_iceberg_or_parquet
from social_media_pii_scrubber_spark.sources.webpages import generate_webpages


def parse_args(argv=None):
    p = argparse.ArgumentParser(description="filter+scrub a web-page table")
    src = p.add_mutually_exclusive_group(required=True)
    src.add_argument("--input", help="Iceberg table name or parquet path")
    src.add_argument("--generate", type=int, metavar="N",
                     help="generate a deterministic N-row corpus instead")
    p.add_argument("--output", required=True)
    p.add_argument("--audit", help="audit table path (default <output>/audit)")
    p.add_argument("--run-id", default="r0")
    p.add_argument("--buckets", type=int, default=256)
    p.add_argument("--months-back", type=int, default=24)
    p.add_argument("--last-date", default="2024-12-31")
    p.add_argument("--no-model-udfs", dest="use_model_udfs", action="store_false",
                   help="skip the langid/perplexity model UDFs")
    p.add_argument("--from-html", action="store_true",
                   help="extract text from the html:binary column as "
                        "stage 0 (crawl front door; ignores any "
                        "pre-extracted text column)")
    p.add_argument("--ner", action="store_true",
                   help="apply the NER scrub stage (pandas UDF)")
    p.add_argument("--toxicity", action="store_true",
                   help="apply the toxicity score/keep/scrub stage")
    return p.parse_args(argv)


def main(argv=None) -> None:
    args = parse_args(argv)
    spark = get_spark(app_name=f"scrub-{args.run_id}")
    cfg = ScrubConfig(
        months_back=args.months_back,
        last_date=datetime.fromisoformat(args.last_date),
    )

    if args.generate is not None:
        pages = generate_webpages(spark, args.generate)
    else:
        pages = load_iceberg_or_parquet(spark, args.input)

    result = filter_scrub_pipeline(
        pages, cfg, use_model_udfs=args.use_model_udfs, use_ner=args.ner,
        use_toxicity=args.toxicity, with_observe=True,
        from_html=args.from_html,
    )
    stats = write_with_checkpoints(
        result.df, args.output, n_buckets=args.buckets
    )
    # The audit aggregates the written output (a scan of the sink, not
    # another pipeline pass); overwrite-per-run_id keeps it idempotent.
    # The schema is given because an empty corpus writes no data file.
    audit_path = args.audit or f"{args.output}/audit"
    output = spark.read.schema(result.df.schema).parquet(f"{args.output}/data")
    append_audit(output, audit_path, args.run_id, n_buckets=args.buckets)
    print(f"run {args.run_id}: wrote buckets {len(stats['written_buckets'])}, "
          f"resumed past {len(stats['skipped_buckets'])}")
    # Observation.get BLOCKS until an action runs on the observed frame;
    # the writer runs one (its single materialization) only when it had
    # buckets to write.
    if result.observation is not None and stats["written_buckets"]:
        print(f"audit metrics: {result.observation.get}")
    stop_session(spark)


if __name__ == "__main__":
    main()
