"""SparkSession factory tuned for the filter+scrub pipeline.

Design notes (scale-first):
- Arrow enabled for every Python-visible boundary (pandas UDFs,
  ``toPandas``): ``spark.sql.execution.arrow.pyspark.enabled``.
- AQE on, including skew-join handling, so runtime re-planning fixes
  skewed url-host partitions the static planner can't see.
- ``spark.sql.session.timeZone=UTC`` so timestamp semantics are stable
  across drivers, executors, and the DuckDB oracle.
- shuffle partitions default to the local core count; on a real cluster
  this is overridden by spark-submit conf (set ~2-3x total cores).
"""

from __future__ import annotations

import os
import threading
import time

from py4j.protocol import Py4JError
from pyspark.sql import SparkSession

# ~35 MB Arrow batches at ~700 B/doc: measured marginally faster than
# 10k-row batches on the flagship (fewer JVM↔Python handoffs) and far
# fewer per-batch Python dispatch overheads on cold workers
ARROW_BATCH_ROWS = 50_000


def get_spark(
    app_name: str = "pii-scrub-engine",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the SparkSession with engine defaults.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` in the sandbox; on a
    real cluster pass ``None`` and let spark-submit decide.
    """
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS")
        shuffle_partitions = int(cpus) if cpus and cpus.isdigit() else 32

    driver_mem = os.environ.get("SPARK_DRIVER_MEMORY", "8g")
    # Fixed, pre-touched heap + ParallelGC: G1's incremental heap
    # commit/uncommit page-faults through the kernel on every expansion;
    # at 32 allocation-heavy threads the mmap path serializes and system
    # time hits ~70%. Pre-touching moves that cost to JVM startup
    # (measured: string-heavy stage at local[32] went 32.4s → 4.5s).
    jvm_opts = f"-Xms{driver_mem} -XX:+AlwaysPreTouch -XX:+UseParallelGC"

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.driver.extraJavaOptions", jvm_opts)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", str(ARROW_BATCH_ROWS))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.driver.memory", driver_mem)
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


def stop_session(spark: SparkSession) -> None:
    """``spark.stop()`` without pyspark's idle accumulator-server wait.

    ``SparkContext.stop()`` ends by shutting down the Python server that
    receives accumulator updates from the JVM, and that server's handler
    only looks for the shutdown between 1 s ``select()`` polls on the
    JVM's connection. So a plain stop idles for 0-1 s, set by how long
    ago the last Python task reported: dead time at the end of a job and
    run-to-run noise in its wall time. Here the shutdown is requested
    first and one empty update from the JVM wakes the handler at once.
    """
    sc = spark.sparkContext
    server, jacc = sc._accumulatorServer, sc._javaAccumulator
    closer = threading.Thread(target=server.shutdown)
    closer.start()
    while closer.is_alive() and not server.server_shutdown:
        time.sleep(0.001)
    try:
        # the handler reads this empty update, sees the shutdown, returns
        jacc.merge(jacc.copyAndReset())
    except Py4JError:
        pass  # the handler had already returned, or never connected
    closer.join()
    spark.stop()
