import os
import zipfile
import zipimport

from gcf_corima_parquet_converter_spark import pyworker_daemon as W


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
