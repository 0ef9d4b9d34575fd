"""Audit / lineage table: per-partition row counts + filter-stage metrics.

North-star requirement: "writes per-partition lineage and filter-stage
metrics to an Iceberg audit table". Two complementary channels:

- job-level stage metrics via ``Observation`` (zero extra passes — the
  metrics ride along the action that writes the output; reference
  analogue: the log-and-count completion lines,
  /root/reference/SMParser/smparserbase.py:168-170);
- per-bucket lineage rows via one aggregation over the written output
  (a scan of the sink, not another pipeline pass): rows
  in/kept/dropped per url-hash bucket, appended to a parquet (Iceberg
  in production) audit table keyed by run_id.

Both are deterministic and idempotent per (run_id, bucket).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions import quality as Q
from .partitioning import url_bucket_expr

AUDIT_COLUMNS = [
    "run_id", "bucket", "rows_in", "rows_kept", "rows_dropped",
    *(f"drop_{h}" for h, _, _ in Q.KEEP_RULES),
]


def bucket_lineage(scored: DataFrame, run_id: str, n_buckets: int = 256,
                   url_col: str = "url") -> DataFrame:
    """Per-bucket lineage + per-rule drop attribution in ONE shuffle.

    Expects the flagship pipeline output (quality columns + keep).
    Rule attribution (``drop_<heuristic>``, one per ``Q.KEEP_RULES``
    row) counts how often each rule would have dropped the row on its
    own — the debugging signal quality pipelines need when a filter
    change shifts keep rates.
    """
    b = url_bucket_expr(F.col(url_col), n_buckets)
    return (
        scored.withColumn("bucket", b)
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).alias("rows_in"),
            F.sum(F.col("keep").cast("long")).alias("rows_kept"),
            F.sum((~F.col("keep")).cast("long")).alias("rows_dropped"),
            *(F.sum((~Q.passes(F.col(h), lo, hi)).cast("long"))
              .alias(f"drop_{h}") for h, lo, hi in Q.KEEP_RULES),
        )
        .withColumn("run_id", F.lit(run_id))
        .select(AUDIT_COLUMNS)
    )


def append_audit(scored: DataFrame, audit_path: str, run_id: str,
                 n_buckets: int = 256) -> None:
    """Write this run's lineage rows (``bucket_lineage`` of ``scored``,
    normally the job's written output read back)."""
    write_audit(bucket_lineage(scored, run_id, n_buckets), audit_path)


def write_audit(rows: DataFrame, audit_path: str) -> None:
    """Write audit rows carrying a ``run_id`` column, idempotent per run_id.

    Dynamic partition overwrite on run_id: re-running the same run_id
    (checkpoint resume, retry) REPLACES that run's audit rows instead of
    appending duplicates; other run_ids are untouched.
    """
    (
        rows.repartition(1)  # audit rows are tiny: one file per run partition
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("run_id")
        .parquet(audit_path)
    )
