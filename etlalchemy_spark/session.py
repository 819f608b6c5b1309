"""SparkSession factory with scale-ready defaults.

The defaults below are the engine's documented configuration surface
(SURVEY.md §4 "100 TB notes"): AQE on (skew-join splitting + dynamic
coalescing), UTC session timezone for oracle parity, Arrow enabled for
every Pandas-UDF exchange, and shuffle parallelism sized from the
environment rather than Spark's legacy default of 200.

Spark's Python daemon is the engine's own ``etlalchemy_spark.pyworker``:
``pyspark.daemon`` plus one fix for CPython < 3.12, whose
``importlib.invalidate_caches()`` at the start of every Python task
re-reads ``pyspark.zip``, the py4j zip and the Spark jar (about 75 ms per
task on a 4-CPU VM). A session built with another
``spark.python.daemon.module`` loses only that saving.

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
    externally-created session (idempotent).

    It cannot give such a session the engine's Python daemon:
    ``spark.python.daemon.module`` is a static conf, so a session built
    outside ``get_spark`` keeps the stock ``pyspark.daemon`` and its
    Python tasks pay the per-task zip re-reads. Set
    ``spark.python.daemon.module`` to ``etlalchemy_spark.pyworker`` on
    the builder, before the session starts, to get it."""
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

    Python workers are forked by the engine's daemon module
    (:mod:`etlalchemy_spark.pyworker`), which keeps CPython < 3.12 from
    re-reading every zip archive on the worker path at the start of each
    task (about 75 ms per task on a 4-CPU VM). An ``extra_conf`` value for
    ``spark.python.daemon.module`` overrides it, and every Python task then
    pays that cost again.
    """
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))
    if shuffle_partitions is None:
        shuffle_partitions = cpus

    builder = SparkSession.builder.master(f"local[{cpus}]").appName(app_name)
    for k, v in session_conf(shuffle_partitions, extra_conf).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def session_conf(
    shuffle_partitions: int, extra_conf: dict[str, str] | None = None
) -> dict[str, str]:
    """The confs ``get_spark`` builds its session with; ``extra_conf``
    entries override the defaults."""
    conf = {
        "spark.sql.shuffle.partitions": str(shuffle_partitions),
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.coalescePartitions.enabled": "true",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.session.timeZone": "UTC",
        "spark.sql.execution.arrow.pyspark.enabled": "true",
        "spark.sql.parquet.filterPushdown": "true",
        # Fixture `events.ts` is parquet TIMESTAMP(NANOS), which Spark
        # cannot represent; read as long and convert in the catalog
        # (integer ns→µs floor-division — matches DuckDB's scan-time
        # truncation of nanos).
        "spark.sql.legacy.parquet.nanosAsLong": "true",
        "spark.sql.legacy.sizeOfNull": "false",
        # Let the planner choose shuffled-hash join where the build side
        # fits its size conditions, and let AQE rewrite leftover
        # sort-merge joins whose post-shuffle partitions are small —
        # both skip the per-partition sorts. Size-guarded (falls back to
        # sort-merge for oversized builds), so valid at any scale; the
        # 64 MB threshold bounds per-task build memory (clusters with
        # different task memory pass their own through extra_conf).
        "spark.sql.join.preferSortMergeJoin": "false",
        "spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold": "64m",
        "spark.ui.enabled": "false",
        "spark.driver.memory": os.environ.get("SPARK_DRIVER_MEMORY", "8g"),
        # see get_spark's docstring and etlalchemy_spark/pyworker.py
        "spark.python.daemon.module": "etlalchemy_spark.pyworker",
    }
    conf.update(extra_conf or {})
    return conf
