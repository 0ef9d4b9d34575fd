"""Lineage cuts for iterative and fanned-out plans.

One helper shared by the operators that materialize an intermediate
(connected components, the Jaccard candidate list), the checkpointed
writer and the corpus build's per-stage ``mat()``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def _cut_lineage(df: DataFrame, mode: str) -> DataFrame:
    """Cut the iterative plan's lineage. ``local`` = executor-disk
    localCheckpoint (fast, NOT fault-tolerant: a lost executor kills the
    job past the cut). ``reliable`` = checkpoint to the configured
    checkpoint dir (HDFS/S3 at cluster scale) — survives executor loss,
    which is mandatory for a multi-hour 100-TB run."""
    if mode == "reliable":
        sc = df.sparkSession.sparkContext
        if sc.getCheckpointDir() is None:
            raise ValueError(
                "checkpoint='reliable' requires "
                "spark.sparkContext.setCheckpointDir(<durable path>) — "
                "refusing to default silently (a local tmp dir would not "
                "survive executor loss, defeating the mode's purpose)")
        return df.checkpoint(eager=True)
    if mode != "local":
        raise ValueError(f"checkpoint mode must be 'local' or 'reliable', got {mode!r}")
    return df.localCheckpoint(eager=True)
