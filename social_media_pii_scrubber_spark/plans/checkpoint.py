"""Per-partition checkpoint manifest + resume (batch-level).

North-star requirement: "resumes from per-partition checkpoints after
failure". This is BATCH resume (not Structured Streaming): the output
is written in batches of url-hash buckets packed up to a row budget,
one parquet file per bucket; each completed bucket gets a manifest
entry; a restarted job anti-joins the pending bucket list and only
recomputes what's missing.

On a real cluster the manifest lives next to the Iceberg table (or IS
the Iceberg snapshot log); here it is a directory of
``bucket=<id>.done`` marker files — atomic enough for single-writer
batch jobs, trivially portable to an object store.
"""

from __future__ import annotations

from pathlib import Path

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..operators.lineage import _cut_lineage
from .partitioning import url_bucket_expr


class CheckpointManifest:
    def __init__(self, output_dir: str):
        self.output_dir = Path(output_dir)
        self.manifest_dir = self.output_dir / "_manifest"
        self.manifest_dir.mkdir(parents=True, exist_ok=True)

    def done_buckets(self) -> set[int]:
        return {
            int(p.stem.split("=")[1])
            for p in self.manifest_dir.glob("bucket=*.done")
        }

    def mark_done(self, bucket: int) -> None:
        (self.manifest_dir / f"bucket={bucket}.done").touch()

    def reset(self) -> None:
        for p in self.manifest_dir.glob("bucket=*.done"):
            p.unlink()


# Rows per write job: 1 000 000 rows is ~0.7 GB at the ~700 B/doc that
# ``session.py`` sizes its Arrow batches by. One job per ~0.7 GB keeps
# the rewrite after a crash small at corpus scale, while a sandbox or
# benchmark run (thousands of rows) writes all its buckets in one job
# instead of paying a Spark job's fixed cost per few hundred rows.
BATCH_ROWS = 1_000_000


def _pack_batches(pending: list[int], rows: dict[int, int],
                  max_buckets: int | None = None) -> list[list[int]]:
    """Pack ``pending`` buckets, in order, into batches of at most
    ``BATCH_ROWS`` rows (and ``max_buckets`` buckets, if given). A
    bucket over the budget gets a batch of its own."""
    batches: list[list[int]] = []
    batch: list[int] = []
    batch_rows = 0
    for b in pending:
        n = rows.get(b, 0)
        if batch and (batch_rows + n > BATCH_ROWS
                      or len(batch) == max_buckets):
            batches.append(batch)
            batch, batch_rows = [], 0
        batch.append(b)
        batch_rows += n
    if batch:
        batches.append(batch)
    return batches


def write_with_checkpoints(
    df: DataFrame,
    output_dir: str,
    n_buckets: int = 16,
    url_col: str = "url",
    buckets_per_batch: int | None = None,
) -> dict:
    """Write df partitioned by url-hash bucket, checkpointing progress.

    The pending buckets of ``df`` are computed in ONE pass, rebalanced
    on ``bucket`` (one file per bucket; AQE splits a bucket larger than
    the advisory partition size) and materialized (localCheckpoint).
    One small aggregate over that materialized frame counts the rows of
    each bucket, and the pending buckets are packed, in bucket order,
    into batches of at most ``BATCH_ROWS`` rows, one write job per
    batch: small runs write once, and at scale a crash rewrites at most
    one batch. ``buckets_per_batch`` optionally caps the buckets per
    batch. Cutting the batches from ``df`` itself would re-run its
    whole plan per batch: a bucket filter above ``observe()`` does not
    push down to the scan. The manifest stays the recovery path if the
    materialized blocks are lost.

    Returns {written_buckets, skipped_buckets}.
    """
    manifest = CheckpointManifest(output_dir)
    done = manifest.done_buckets()
    pending = [b for b in range(n_buckets) if b not in done]
    if not pending:
        return {"written_buckets": [], "skipped_buckets": sorted(done)}
    bucketed = df.withColumn("bucket", url_bucket_expr(F.col(url_col), n_buckets))
    if done:
        bucketed = bucketed.filter(F.col("bucket").isin(pending))
    bucketed = _cut_lineage(bucketed.hint("rebalance", "bucket"), "local")
    rows = {r["bucket"]: r["count"]
            for r in bucketed.groupBy("bucket").count().collect()}

    written: list[int] = []
    for batch in _pack_batches(pending, rows, buckets_per_batch):
        # dynamic partition overwrite → re-running a half-written bucket
        # replaces it instead of duplicating rows: resume is idempotent.
        (
            bucketed.filter(F.col("bucket").isin(batch))
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("bucket")
            .parquet(str(Path(output_dir) / "data"))
        )
        for b in batch:
            manifest.mark_done(b)
            written.append(b)
    return {"written_buckets": written, "skipped_buckets": sorted(done)}
