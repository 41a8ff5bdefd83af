"""Python worker daemon for the local sessions ``session.get_spark``
builds (``spark.python.daemon.module``).

PySpark's worker calls ``importlib.invalidate_caches()`` before every
task.  On CPython before 3.13 each ``zipimporter`` answers that by
re-reading its archive's whole central directory, and the worker path
holds ``pyspark.zip`` (one importer per imported subpackage) and the
``spark-core`` jar: about 27,000 directory entries, ~0.2 s of CPU per
Python task however small the task.  A pandas UDF stage, or one
evaluation of a ``createDataFrame`` built from a Python list, pays it
once per partition.

This daemon re-reads an archive only when its size or mtime changed
since that importer last read it — a changed or new archive is still
picked up — and then runs PySpark's own daemon, whose forked workers
inherit the patch.
"""

from __future__ import annotations

import os
import zipimport

_reread = zipimport.zipimporter.invalidate_caches


def _stamp(path: str) -> tuple[int, int] | None:
    try:
        st = os.stat(path)
    except OSError:
        return None
    return st.st_size, st.st_mtime_ns


def _invalidate_if_changed(self) -> None:
    stamp = _stamp(self.archive)
    if stamp is None or stamp != getattr(self, "_read_stamp", None):
        _reread(self)
        self._read_stamp = stamp


def main() -> None:
    from pyspark import daemon

    zipimport.zipimporter.invalidate_caches = _invalidate_if_changed
    daemon.manager()


if __name__ == "__main__":
    main()
