"""SparkSession factory.

Defaults target the driver's harness (local[N], 128 GiB, single JVM) but
every knob is chosen to survive a 1000-executor cluster unchanged:
AQE on (runtime coalescing + skew-join splitting), Arrow on (all
pandas-UDF exchange is vectorized), shuffle partitions sized to cores
locally and overridable via env for cluster runs.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

_PACKAGE_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def apply_runtime_conf(spark: SparkSession) -> SparkSession:
    """Session-level confs that must hold even on an externally-built
    session (the correctness driver builds its own SparkSession and then
    calls our ``queries()``; these are all runtime-settable).

    ``nanosAsLong`` is load-bearing: the testdata ``events`` table
    carries parquet TIMESTAMP(NANOS) which Spark's vectorized reader
    rejects outright (PARQUET_TYPE_ILLEGAL).  Reading ns as epoch-ns
    int64 is also the parity-safe choice versus the DuckDB oracle
    (``epoch_ns(ts)``) — no sub-microsecond truncation on either side.
    """
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.adaptive.enabled", "true")
    spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "true")
    spark.conf.set("spark.sql.adaptive.skewJoin.enabled", "true")
    spark.conf.set("spark.sql.execution.arrow.pyspark.enabled", "true")
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    return spark


def get_spark(app_name: str = "spark-graft", cpus: int | None = None) -> SparkSession:
    if cpus is None:
        cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "0") or 0) or os.cpu_count() or 4
    builder = (
        SparkSession.builder.appName(app_name)
        .master(f"local[{cpus}]")
        .config("spark.sql.shuffle.partitions", str(max(cpus, 8)))
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.parquet.compression.codec", "snappy")
        # Python workers skip the per-task re-read of every zip on their
        # path (pyworker_daemon docstring); the package root goes on
        # the worker path so the daemon imports from any working dir.
        .config("spark.python.daemon.module", f"{__package__}.pyworker_daemon")
        .config("spark.executorEnv.PYTHONPATH", _PACKAGE_ROOT)
    )
    return apply_runtime_conf(builder.getOrCreate())
