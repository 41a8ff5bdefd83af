import os
import time
import zipfile
import zipimport

from pyspark.sql import functions as F

from gcf_corima_parquet_converter_spark import pyworker_daemon as W
from gcf_corima_parquet_converter_spark import queries as Q
from gcf_corima_parquet_converter_spark.session import CODEGEN_CACHE_ENTRIES

# The query_mix benchmark workload's queries: the paper's two RMS shapes
# plus one query per operator family.
QUERY_MIX = (
    "q00_flagship_daily_rms",
    "q01_pricing_summary",
    "q03_region_revenue",
    "q14_hourly_rms",
    "q15_user_sessions",
    "q21_dedup_exact_stats",
    "q23_text_quality",
    "q25_cosine_topk",
    "q52_contamination",
    "q94_interval_join_binned",
)


def _zip(path, names):
    with zipfile.ZipFile(path, "w") as z:
        for n in names:
            z.writestr(n, "x = 1\n")


def test_zip_directory_reread_only_when_archive_changes(
    tmp_path, monkeypatch
):
    """An unchanged archive keeps its directory across invalidations;
    a rewritten one is re-read, so a module added to it is found."""
    reads, original = [], W._reread

    def counting_reread(imp):
        reads.append(imp.archive)
        original(imp)

    monkeypatch.setattr(W, "_reread", counting_reread)
    arch = str(tmp_path / "lib.zip")
    _zip(arch, ["a.py"])
    imp = zipimport.zipimporter(arch)
    for _ in range(3):
        W._invalidate_if_changed(imp)
    assert len(reads) == 1
    assert imp.find_spec("b") is None
    _zip(arch, ["a.py", "b.py"])
    st = os.stat(arch)
    os.utime(arch, ns=(st.st_atime_ns, st.st_mtime_ns + 10**9))
    W._invalidate_if_changed(imp)
    assert len(reads) == 2
    assert imp.find_spec("b") is not None


def test_session_python_workers_run_the_patched_daemon(spark):
    """Python tasks of a ``get_spark`` session run in workers forked
    from ``pyworker_daemon``."""

    def probe(it):
        import zipimport as z

        list(it)
        yield z.zipimporter.invalidate_caches.__name__

    got = spark.sparkContext.parallelize([1], 1).mapPartitions(probe).collect()
    assert got == ["_invalidate_if_changed"]


def _compilations(spark, frames):
    """Generated classes compiled while ``frames`` run, each forced by a
    noop write."""
    metrics = spark.sparkContext._jvm.org.apache.spark.metrics.source.CodegenMetrics
    before = metrics.METRIC_COMPILATION_TIME().getCount()
    for df in frames:
        df.write.format("noop").mode("overwrite").save()
    return metrics.METRIC_COMPILATION_TIME().getCount() - before


def test_session_compiles_each_generated_class_once(spark, sf_dir):
    """A warm pass over the query_mix queries finds every generated
    class in the codegen cache; at Spark's default bound of 100 it
    recompiled 103 of the 122 on this fixture (86-88 on sf0.01 at 4
    cores)."""
    conf = spark.sparkContext.getConf().get("spark.sql.codegen.cache.maxEntries")
    assert conf == str(CODEGEN_CACHE_ENTRIES)
    # an inlined literal never seen before compiles a new class
    assert _compilations(spark, [spark.range(1).select(F.col("id") + time.time_ns())]) > 0
    for _ in range(2):
        compiled = _compilations(spark, (Q.QUERIES[n](spark, sf_dir) for n in QUERY_MIX))
    assert compiled == 0
