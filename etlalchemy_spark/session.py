"""SparkSession factory with scale-ready defaults.

The defaults below are the engine's documented configuration surface
(SURVEY.md §4 "100 TB notes"): AQE on (skew-join splitting + dynamic
coalescing), UTC session timezone for oracle parity, Arrow enabled for
every Pandas-UDF exchange, and shuffle parallelism sized from the
environment rather than Spark's legacy default of 200.

On a real cluster the same builder is used; only ``master`` and the
memory/executor settings differ (supplied by spark-submit).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


# Confs the engine REQUIRES for correctness (not tuning), all
# runtime-settable — applied defensively to externally-supplied
# sessions (the driver harness builds its own SparkSession, which e.g.
# cannot read the events table's TIMESTAMP(NANOS) without the legacy
# nanos flag, and hash-compares timestamps assuming UTC).
REQUIRED_RUNTIME_CONFS: dict[str, str] = {
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # size(NULL) must be NULL, not the legacy -1: with ANSI off (common
    # in prod clusters) the legacy default turns every token/size count
    # over NULL text into -1 — negative counts feeding quality scores.
    # Pinning makes the semantics config-independent.
    "spark.sql.legacy.sizeOfNull": "false",
}


def ensure_session_confs(spark: SparkSession) -> SparkSession:
    """Apply the engine's correctness-critical runtime confs to an
    externally-created session (idempotent)."""
    for k, v in REQUIRED_RUNTIME_CONFS.items():
        try:
            if spark.conf.get(k, None) != v:
                spark.conf.set(k, v)
        except Exception:
            pass  # non-settable in this deployment — leave as-is
    return spark


def get_spark(
    app_name: str = "etlalchemy_spark",
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the engine's SparkSession.

    ``SPARK_GRAFT_CPUS`` (driver contract) sizes local parallelism;
    shuffle partitions default to the core count locally — at cluster
    scale AQE coalesces from a deliberately-high initial number instead.
    """
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))
    if shuffle_partitions is None:
        shuffle_partitions = cpus

    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.filterPushdown", "true")
        # Fixture `events.ts` is parquet TIMESTAMP(NANOS), which Spark
        # cannot represent; read as long and convert in the catalog
        # (integer ns→µs floor-division — matches DuckDB's scan-time
        # truncation of nanos).
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.sql.legacy.sizeOfNull", "false")
        # Let the planner choose shuffled-hash join where the build side
        # fits its size conditions, and let AQE rewrite leftover
        # sort-merge joins whose post-shuffle partitions are small —
        # both skip the per-partition sorts. Size-guarded (falls back to
        # sort-merge for oversized builds), so valid at any scale; the
        # 64 MB threshold bounds per-task build memory (clusters with
        # different task memory pass their own through extra_conf).
        .config("spark.sql.join.preferSortMergeJoin", "false")
        .config("spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold", "64m")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
    )
    if extra_conf:
        for k, v in extra_conf.items():
            builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
