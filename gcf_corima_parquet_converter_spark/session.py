"""SparkSession factory.

Defaults target the driver's harness (local[N], 128 GiB, single JVM) but
every knob is chosen to survive a 1000-executor cluster unchanged:
AQE on (runtime coalescing + skew-join splitting), Arrow on (all
pandas-UDF exchange is vectorized), shuffle partitions sized to cores
locally and overridable via env for cluster runs.

Spark keeps each compiled generated class (whole-stage code, projections,
predicates) in a bounded LRU, ``spark.sql.codegen.cache.maxEntries``.
That bound is static: Spark reads it once per JVM, when ``CodeGenerator``
first initializes, so it is set in ``get_spark``'s builder and cannot
be changed on a running session.  A session built elsewhere keeps
Spark's default of 100 (see ``apply_runtime_conf``).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

_PACKAGE_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# Generated classes one JVM keeps compiled.  Measured working sets: the 10
# query_mix queries need ~121 distinct classes, the 50 graded queries
# ~1,430 at sf0.01.  Spark's default of 100, split by Guava across 4
# segments, made every warm query_mix pass recompile 86-88 of them; 2000
# leaves room for the graded set in each segment.
CODEGEN_CACHE_ENTRIES = 2000


def apply_runtime_conf(spark: SparkSession) -> SparkSession:
    """Session-level confs that must hold even on an externally-built
    session (the correctness driver builds its own SparkSession and then
    calls our ``queries()``; these are all runtime-settable).

    Static confs are out of reach here.  A driver-built session keeps
    Spark's codegen cache bound of 100, so unlike a ``get_spark``
    session it recompiles generated classes on every warm pass over a
    working set larger than that (``CODEGEN_CACHE_ENTRIES``).

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
        .config("spark.sql.codegen.cache.maxEntries", str(CODEGEN_CACHE_ENTRIES))
        # Python workers skip the per-task re-read of every zip on their
        # path (pyworker_daemon docstring); the package root goes on
        # the worker path so the daemon imports from any working dir.
        .config("spark.python.daemon.module", f"{__package__}.pyworker_daemon")
        .config("spark.executorEnv.PYTHONPATH", _PACKAGE_ROOT)
    )
    return apply_runtime_conf(builder.getOrCreate())
