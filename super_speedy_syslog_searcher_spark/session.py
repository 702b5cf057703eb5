"""SparkSession factory + per-query session hygiene.

Local-mode defaults are sized from the host (cores from the scheduler
affinity mask, driver heap from physical memory or the cgroup limit);
on a real cluster the same code runs unchanged — only master/memory
change.  All timestamp semantics are pinned to UTC so results are
engine-portable (DuckDB oracle timestamps are UTC-naive).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def default_driver_memory() -> str:
    """Half of the tighter of physical memory and the cgroup memory
    limit, clamped to [1g, 8g]: a heap the host can actually commit,
    since a JVM that grows past the host's memory dies mid-run."""
    limit = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    for path in (
        "/sys/fs/cgroup/memory.max",  # cgroup v2 ("max" = unlimited)
        "/sys/fs/cgroup/memory/memory.limit_in_bytes",  # cgroup v1
    ):
        try:
            with open(path) as f:
                raw = f.read().strip()
        except OSError:
            continue
        if raw.isdigit():
            limit = min(limit, int(raw))
    mb = limit // 2 // 2**20
    return f"{max(1024, min(8192, mb))}m"


def get_spark(
    master: str | None = None,
    app_name: str = "s4spark",
    shuffle_partitions: str | int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    """Build (or get) a SparkSession with pipeline defaults.

    Cores default to the scheduler affinity mask and the driver heap
    to ``default_driver_memory()``; ``$SPARK_GRAFT_CPUS`` and
    ``$S4SPARK_DRIVER_MEM`` override them.  AQE is on (runtime
    coalesce + skew-split), Arrow is on (all our UDFs are
    pandas/Arrow-vectorized), session tz is UTC.
    """
    cpus = os.environ.get(
        "SPARK_GRAFT_CPUS", str(len(os.sched_getaffinity(0)))
    )
    builder = (
        SparkSession.builder.master(master or f"local[{cpus}]")
        .appName(app_name)
        .config(
            "spark.sql.shuffle.partitions",
            str(shuffle_partitions or cpus),
        )
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # 256k-row Arrow batches (was 128k, round 6): the parse UDF's
        # per-batch sub-linear cost (mask pass, 58 masked extract
        # calls, frame construction) amortizes best when a whole task
        # partition is ONE batch — at 5M turns / 32 tasks each task
        # holds 156k rows, which the 128k cap split into a 131k + a
        # 25k batch (measured 0.93 s + 0.24 s vs 1.00 s unsplit =
        # −14% UDF compute; kernel µs/row keeps falling through 200k).
        # Memory per batch stays tiny for this corpus (~60 B/row text)
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "262144")
        .config(
            "spark.driver.memory",
            os.environ.get("S4SPARK_DRIVER_MEM", default_driver_memory()),
        )
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.driver.extraJavaOptions", "-XX:+UseG1GC")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def prep(spark: SparkSession) -> SparkSession:
    """Pin runtime-mutable confs on a session we did not create.

    The correctness driver hands us its own SparkSession; timestamps
    must be interpreted in UTC to agree with the DuckDB oracle, and
    Arrow must be on for the pandas-UDF parse stage.
    """
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    spark.conf.set("spark.sql.execution.arrow.pyspark.enabled", "true")
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "262144")
    spark.conf.set("spark.sql.adaptive.enabled", "true")
    return spark
