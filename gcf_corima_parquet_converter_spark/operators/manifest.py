"""Manifest-versioned artifact layout — object-store-atomic commits
for every persisted artifact that a one-shot build lands, a streaming
maintenance loop grows, or a compaction job folds: the IVF and IVF-PQ
assignments (``similarity.ivf_save`` / ``ivfpq_save``), the inverted
index's postings and stats (``retrieval.write_inverted_index`` /
``index_append``), the fuzzy vocabulary (``retrieval.write_fuzzy_vocab``),
bloom filters (``membership.bloom_save`` / ``bloom_artifact_init``),
the dedup digest and band indexes, and the sketch shards.  Build
parameters (``n_buckets``, ``max_edits``, ``m_bits``/``n_hashes``,
``residual``) live in the manifest, never in a sidecar table.

Layout under an artifact root::

    <root>/_manifests/manifest-v<N>.json   immutable; highest N wins
    <root>/base/v<N>/epoch=-1/...          folded base for version N
    <root>/epochs/epoch=<B>/...            streaming appends (shared
                                           across versions)

The manifest layout is the only artifact layout: a one-shot build
lands through :func:`write_base`; reading or compacting a root without
``_manifests/`` raises ``ValueError`` asking for a rebuild, and
:func:`write_epoch` refuses such a root unless it does not exist yet
(then it initializes it).

Why a manifest instead of swapping a rewritten directory in by rename:
rename on object stores (GCS/S3) is copy+delete — non-atomic AND
O(artifact bytes).  A manifest commit is ONE small-object PUT (atomic
on every store), and the fold writes a NEW ``base/v<N+1>`` directory
instead of touching live data, so

* readers resolve the manifest once and see old-or-new, never a mix;
* the maintenance stream keeps appending DURING compaction — epoch
  directories are version-independent;
* the stream resumes with its EXISTING checkpoint afterwards: nothing
  it wrote was moved, and nothing it replays can double-count (below).

Exactly-once around the fold: :func:`compact_artifact` snapshots the
epoch set ``E`` at start, folds ``base(v<N>) ∪ E`` into
``base(v<N+1>)``, and commits a manifest whose ``folded_epochs``
records ``E`` plus any still-materialized previously-folded ids.
Readers take ``base(v) ∪ {epochs ∉ folded_epochs}``:

* an epoch appended while the fold ran is NOT in ``E`` → stays visible
  through the epochs union (nothing lost, no pause);
* a foreachBatch replay that re-materializes an already-folded epoch
  directory is filtered out (nothing doubled) — by the
  ``folded_epochs`` list while its directory survives, and FOREVER by
  the ``folded_watermark``: batch ids are monotonic per stream and
  foreachBatch executes serially, so every epoch a fold consumed has
  id <= max(E), and readers drop live epochs <= watermark — O(1)
  state that outlives the GC of the id list, so even a pathologically
  late replay (an epoch folded many compactions ago) cannot
  double-count.  A FRESH checkpoint would restart batch ids at 0 and
  collide below the watermark — resume with the existing checkpoint,
  which is also what avoids re-reading the whole source.

GC after the commit is ONE CYCLE DEFERRED for epochs — a compaction
deletes the epochs folded by the *previous* compaction, never its own
(a reader pinned on the previous manifest still lazily unions exactly
this cycle's folds) — and deletes base versions older than
``keep_versions`` (clamped >= 2), so in-flight readers of the previous
version keep working until their job ends.  The ``folded_epochs``
list stays bounded: ids leave it at the next compaction once their
directories are gone.

Manifest files are never overwritten — each commit creates a new
``manifest-v<N>.json`` and resolution takes the highest parseable one,
so there is no window where the pointer is missing or truncated.

All filesystem access goes through the session's Hadoop FileSystem:
the layout round-trips through any store Spark can reach.
"""

from __future__ import annotations

import json
from typing import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

_MANIFEST_DIR = "_manifests"
_KEEP_MANIFESTS = 3  # current + history for debugging/rollback
# Per-epoch commit marker: a Spark write materializes an epoch's task
# files one rename at a time at job commit, so "the directory exists"
# is NOT "the epoch is complete".  write_epoch PUTs this zero-byte
# file AFTER the data write succeeds; list_epochs counts only marked
# epochs, so neither a reader nor a concurrent compaction can consume
# (and then mask via folded_epochs/watermark) a half-committed epoch.
_EPOCH_MARKER = "_EPOCH_COMMITTED"


def _hadoop(spark: SparkSession, path: str):
    jvm = spark._jvm
    hpath = jvm.org.apache.hadoop.fs.Path
    fs = hpath(path).getFileSystem(spark._jsc.hadoopConfiguration())
    return fs, hpath


def _exists(spark: SparkSession, path: str) -> bool:
    fs, hpath = _hadoop(spark, path)
    return fs.exists(hpath(path))


def _delete(spark: SparkSession, path: str) -> None:
    fs, hpath = _hadoop(spark, path)
    fs.delete(hpath(path), True)


def _not_versioned(root: str) -> ValueError:
    return ValueError(
        f"no manifest-versioned artifact at {root!r} (missing, or a "
        "pre-manifest layout); rebuild it"
    )


def base_dir(root: str, version: int) -> str:
    return f"{root.rstrip('/')}/base/v{int(version)}"


def epochs_dir(root: str) -> str:
    return root.rstrip("/") + "/epochs"


def manifest_resolve(spark: SparkSession, root: str) -> dict | None:
    """Return the artifact's current manifest, or ``None`` when the
    root has none.  Resolution lists ``_manifests/`` and takes the
    highest version that parses — a half-written newer file (crash
    mid-PUT on a store without atomic create) falls back to the
    previous commit instead of failing the reader."""
    mdir = f"{root.rstrip('/')}/{_MANIFEST_DIR}"
    fs, hpath = _hadoop(spark, mdir)
    if not fs.exists(hpath(mdir)):
        return None
    names = []
    for st in fs.listStatus(hpath(mdir)):
        name = st.getPath().getName()
        if name.startswith("manifest-v") and name.endswith(".json"):
            try:
                names.append((int(name[len("manifest-v"):-len(".json")]), name))
            except ValueError:
                continue
    for _, name in sorted(names, reverse=True):
        stream = fs.open(hpath(f"{mdir}/{name}"))
        try:
            raw = spark._jvm.org.apache.commons.io.IOUtils.toString(
                stream, "UTF-8"
            )
        finally:
            stream.close()
        try:
            m = json.loads(raw)
        except ValueError:
            continue  # torn write: fall back to the previous commit
        if isinstance(m, dict) and "version" in m:
            m["folded_epochs"] = list(m.get("folded_epochs", []))
            m["folded_watermark"] = int(m.get("folded_watermark", -1))
            return m
    return None


def manifest_commit(
    spark: SparkSession,
    root: str,
    version: int,
    folded_epochs: list[int],
    extra: dict | None = None,
    folded_watermark: int = -1,
) -> dict:
    """Commit a new manifest version: ONE new small-file create —
    atomic visibility on object stores (PUT) and a single write+close
    on filesystems.  Old manifests beyond a short history are pruned
    (never the one just written)."""
    mdir = f"{root.rstrip('/')}/{_MANIFEST_DIR}"
    fs, hpath = _hadoop(spark, mdir)
    meta = dict(extra or {})
    meta["version"] = int(version)
    meta["folded_epochs"] = sorted(int(e) for e in folded_epochs)
    meta["folded_watermark"] = int(folded_watermark)
    out = fs.create(hpath(f"{mdir}/manifest-v{int(version):08d}.json"), True)
    try:
        out.write(bytearray(json.dumps(meta).encode("utf-8")))
    finally:
        out.close()
    # prune old manifest files (keep a short history below the new one)
    versions = []
    for st in fs.listStatus(hpath(mdir)):
        name = st.getPath().getName()
        if name.startswith("manifest-v") and name.endswith(".json"):
            try:
                versions.append(int(name[len("manifest-v"):-len(".json")]))
            except ValueError:
                continue
    for v in sorted(versions)[:-_KEEP_MANIFESTS]:
        fs.delete(hpath(f"{mdir}/manifest-v{v:08d}.json"), False)
    return meta


def init_artifact(spark: SparkSession, root: str, extra: dict | None = None) -> dict:
    """Create an EMPTY versioned artifact (version 0, no base): the
    birth point for append-only artifacts that a maintenance stream
    grows from nothing.  Readers serve the epochs union until the
    first compaction writes ``base/v1``."""
    return manifest_commit(spark, root, 0, [], extra)


def write_base(
    df: DataFrame,
    root: str,
    partition_cols: tuple[str, ...] = (),
    extra: dict | None = None,
) -> dict:
    """Land a one-shot build as version 1: delete ``root`` (a rebuild
    resets every version and epoch), write ``df`` as
    ``base/v1/epoch=-1`` partitioned by ``partition_cols`` below the
    epoch level, then commit ``manifest-v1`` carrying ``extra`` (the
    build parameters readers and appenders take back).  The caller
    shapes the partitioning (e.g. ``repartition`` on the partition
    column, one file per directory).  Returns the committed
    manifest."""
    spark = df.sparkSession
    _delete(spark, root)
    (
        df.withColumn("epoch", F.lit(-1))
        .write.mode("overwrite")
        .partitionBy("epoch", *partition_cols)
        .parquet(base_dir(root, 1))
    )
    return manifest_commit(spark, root, 1, [], extra)


def list_epochs(
    spark: SparkSession, root: str, committed_only: bool = True
) -> list[int]:
    """Epoch ids materialized under ``<root>/epochs``.  By default only
    COMMITTED epochs (``_EPOCH_COMMITTED`` marker present) are
    returned — a directory mid-write is invisible to readers and, more
    importantly, to ``compact_artifact``'s snapshot, which would
    otherwise fold a partial epoch and mask its late-landing files
    forever.  ``committed_only=False`` lists every directory
    (diagnostics)."""
    edir = epochs_dir(root)
    fs, hpath = _hadoop(spark, edir)
    if not fs.exists(hpath(edir)):
        return []
    out = []
    for st in fs.listStatus(hpath(edir)):
        name = st.getPath().getName()
        if st.isDirectory() and name.startswith("epoch="):
            try:
                e = int(name[len("epoch="):])
            except ValueError:
                continue
            if committed_only and not fs.exists(
                hpath(f"{edir}/{name}/{_EPOCH_MARKER}")
            ):
                continue
            out.append(e)
    return sorted(out)


def _read_epochs(
    spark: SparkSession, root: str, epoch_ids: list[int]
) -> DataFrame:
    edir = epochs_dir(root)
    paths = [f"{edir}/epoch={e}" for e in epoch_ids]
    return spark.read.option("basePath", edir).parquet(*paths)


def read_artifact(
    spark: SparkSession,
    root: str,
    manifest: dict | None = None,
    drop_epoch: bool = False,
    live_epochs: list[int] | None = None,
) -> DataFrame:
    """Read an artifact through its manifest: ``base/v<N>`` UNION the
    epochs not yet folded — lazy, partition-prunable on every partition
    column (a probe's ``centroid_id`` filter prunes both branches).
    Pass ``manifest`` to pin a snapshot already resolved; otherwise the
    current manifest is resolved (one small-file read + one listing);
    a root without one raises ``ValueError``.  ``drop_epoch=True``
    removes the ``epoch`` bookkeeping column when present — the shared
    idiom of every row-consuming loader (``dedup.load_dedup_index``,
    ``sketches.load_sketch_shards``).

    ``live_epochs`` pins the live-epoch SET instead of listing it here:
    a caller coordinating two sibling artifacts (an index's postings
    and its stats rows) lists the epochs ONCE and passes the same set
    to both reads, so an epoch committing between two internal
    listings can never appear in one sibling's view and not the
    other's.  The caller's list is trusted verbatim (it already
    excludes folded/watermarked ids)."""
    root = root.rstrip("/")
    m = manifest if manifest is not None else manifest_resolve(spark, root)
    if m is None:
        raise _not_versioned(root)
    folded = set(m["folded_epochs"])
    watermark = int(m.get("folded_watermark", -1))
    parts = []
    bdir = base_dir(root, m["version"])
    if _exists(spark, bdir):
        parts.append(spark.read.parquet(bdir))
    if live_epochs is not None:
        live = sorted(int(e) for e in live_epochs)
    else:
        live = [
            e for e in list_epochs(spark, root)
            if e not in folded and e > watermark
        ]
    if live:
        parts.append(_read_epochs(spark, root, live))
    if not parts:
        raise ValueError(f"versioned artifact at {root!r} has no data")
    df = parts[0]
    for p in parts[1:]:
        df = df.unionByName(p)
    if drop_epoch and "epoch" in df.columns:
        df = df.drop("epoch")
    return df


def write_epoch(
    df: DataFrame,
    root: str,
    epoch_id: int,
    partition_cols: tuple[str, ...] = (),
    append: bool = False,
) -> None:
    """Land one micro-batch under ``<root>/epochs/epoch=<id>``.

    Default is epoch-OWNED dynamic overwrite — a foreachBatch replay
    rewrites exactly its own epoch directory, the exactly-once contract
    SUM-semantics artifacts (sketch shards) and index rows need.
    ``append=True`` is for set-semantics artifacts (dedup indexes)
    where replay duplicates are harmless by construction.

    Invariant kept here: every versioned artifact has a manifest
    BEFORE epochs land.  A fresh root is auto-initialized (version 0,
    no base — the maintenance-from-nothing birth path); a root that
    already holds data without a manifest refuses the write.

    Epoch-level commit: the ``_EPOCH_COMMITTED`` marker is PUT only
    after the data write succeeds, and on the overwrite (replay) path
    the stale marker is EXPLICITLY deleted before the rewrite starts.
    The explicit delete matters for partitioned epochs: with
    ``partition_cols`` non-empty, dynamic partition overwrite replaces
    only the LEAF dirs (``epoch=N/centroid_id=.../``) and leaves a
    marker sitting at ``epoch=N/`` untouched — relying on the
    overwrite to clear it (as the flat ``partitionBy('epoch')`` case
    happens to) would let a concurrent ``compact_artifact`` snapshot a
    half-rewritten epoch as "committed" and mask the rest of the
    replay behind the folded watermark forever.  With the delete, the
    epoch is unmarked for the whole rewrite window, so readers and
    compactions — which only trust marked epochs — can never consume a
    half-written one."""
    spark = df.sparkSession
    if manifest_resolve(spark, root) is None:
        if _exists(spark, root):
            raise _not_versioned(root)
        init_artifact(spark, root)
    marker = f"{epochs_dir(root)}/epoch={int(epoch_id)}/{_EPOCH_MARKER}"
    fs, hpath = _hadoop(spark, marker)
    w = df.withColumn("epoch", F.lit(int(epoch_id))).write
    if append:
        w.mode("append").partitionBy("epoch", *partition_cols).parquet(
            epochs_dir(root)
        )
    else:
        # un-commit the epoch BEFORE the rewrite (see docstring): the
        # dynamic overwrite does not reliably remove a marker above
        # partition_cols leaves, and the epoch must read as
        # uncommitted for the whole rewrite window
        fs.delete(hpath(marker), False)
        (
            w.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("epoch", *partition_cols)
            .parquet(epochs_dir(root))
        )
    fs.create(hpath(marker), True).close()


def compact_artifact(
    spark: SparkSession,
    root: str,
    fold_fn: Callable[[DataFrame], DataFrame],
    partition_cols: tuple[str, ...] = (),
    keep_versions: int = 2,
    count_rows: bool = True,
    align_manifest: dict | None = None,
    _pre_commit_hook: Callable[[], None] | None = None,
) -> dict:
    """Fold an artifact's streamed epochs into the next base version
    and commit via the manifest — pause-free, object-store-atomic.

    1. Snapshot: resolve the manifest, list epoch dirs, take the set
       ``E`` not yet folded.
    2. Fold: ``fold_fn(base(v<N>) ∪ E without the epoch column)`` is
       written as ``base/v<N+1>/epoch=-1/...`` (``partition_cols``
       after the epoch level, e.g. ``("centroid_id",)`` for IVF).
    3. Commit: one manifest PUT — ``version = N+1``,
       ``folded_epochs = E ∪ still-materialized prior folds``.
    4. GC — one cycle deferred, mirroring base retention: the epochs
       folded THIS cycle (``E``) stay on disk (masked for new readers
       by ``folded_epochs``, still served to readers pinned on the
       previous manifest); the epochs folded LAST cycle are deleted
       now.  Base versions older than ``keep_versions`` (clamped to
       >= 2, so the just-committed version and its predecessor always
       survive) are deleted.

    Epochs appended between 1 and 3 are simply not in ``E`` — readers
    of the new manifest still see them via the epochs union; the
    maintenance stream never pauses and resumes with its EXISTING
    checkpoint.  A root without a manifest raises ``ValueError``.

    ``align_manifest`` pins the fold to a SIBLING artifact's committed
    compaction: two artifacts that share epoch ids (an index's postings
    and its stats rows, written together per batch) must mask the SAME
    epoch set, or an epoch landing between their two compactions is
    double-counted in one and live in the other.  With it set, this
    fold consumes only epochs the sibling's commit already masks
    (``folded_epochs`` ∪ ids ≤ its watermark) and commits the
    sibling's mask verbatim — an epoch is folded here iff it is folded
    there, by construction, however appends interleave.

    ``_pre_commit_hook`` is a test seam: called after the fold write,
    before the manifest commit (lets a test inject a concurrent append
    or a crash into the commit window).

    Returns ``{"version", "epochs_folded", "rows", "manifest"}``
    (``rows`` is -1 when ``count_rows=False`` — the count is a second
    full scan of the fold output, telemetry worth skipping at 100 TB;
    ``manifest`` is the committed manifest dict, the snapshot to pass
    as a sibling's ``align_manifest``).
    """
    root = root.rstrip("/")
    keep_versions = max(2, int(keep_versions))
    m = manifest_resolve(spark, root)
    if m is None:
        raise _not_versioned(root)
    version = int(m["version"])
    folded_prev = set(m["folded_epochs"])
    present = set(list_epochs(spark, root))
    if align_manifest is not None:
        align_folded = set(align_manifest["folded_epochs"])
        align_wm = int(align_manifest.get("folded_watermark", -1))
        to_fold = sorted(
            e for e in present - folded_prev
            if e in align_folded or e <= align_wm
        )
    else:
        to_fold = sorted(present - folded_prev)
    parts = []
    bdir = base_dir(root, version)
    if _exists(spark, bdir):
        parts.append(spark.read.parquet(bdir))
    if to_fold:
        parts.append(_read_epochs(spark, root, to_fold))
    if not parts:
        raise ValueError(f"nothing to compact under {root!r}")
    df = parts[0]
    for p in parts[1:]:
        df = df.unionByName(p)
    folded = fold_fn(df.drop("epoch"))
    new_version = version + 1
    new_base = base_dir(root, new_version)
    (
        folded.withColumn("epoch", F.lit(-1))
        .write.mode("overwrite")
        .partitionBy("epoch", *partition_cols)
        .parquet(new_base)
    )
    rows = spark.read.parquet(new_base).count() if count_rows else -1
    if _pre_commit_hook is not None:
        _pre_commit_hook()
    new_folded = sorted((folded_prev & present) | set(to_fold))
    # the watermark only moves forward: everything this fold consumed
    # has id <= max(to_fold) (batch ids are monotonic, foreachBatch is
    # serial), so any later re-materialization below it is a replay.
    # Aligned folds take the SIBLING's watermark instead: an epoch the
    # sibling folded whose row here lands late (mid-append crash
    # window) is already accounted for in this fold's output — the
    # aligned fold_fn derives from the sibling's folded data — so its
    # late row must read as a replay, not as live.
    if align_manifest is not None:
        new_wm = max(int(m.get("folded_watermark", -1)), align_wm)
    else:
        new_wm = max(
            int(m.get("folded_watermark", -1)),
            max(to_fold, default=-1),
        )
    # artifact-level metadata (anything init_artifact/manifest_commit
    # recorded beyond the protocol fields) survives every fold — e.g.
    # a bloom artifact's pinned (m_bits, n_hashes) geometry
    extra = {
        k: v for k, v in m.items()
        if k not in ("version", "folded_epochs", "folded_watermark")
    }
    committed = manifest_commit(
        spark, root, new_version, new_folded, extra=extra,
        folded_watermark=new_wm,
    )
    # GC — best-effort; anything that survives is masked by the
    # manifest (folded filter / version pointer) and retried next run.
    # Epoch deletion is deferred one cycle: only LAST cycle's folds go
    # now — a reader pinned on manifest v<N> still lazily unions this
    # cycle's ``to_fold`` dirs, so they must outlive the commit.
    for e in sorted(folded_prev & present):
        _delete(spark, f"{epochs_dir(root)}/epoch={e}")
    for v in range(0, new_version - keep_versions + 1):
        _delete(spark, base_dir(root, v))
    return {
        "version": new_version,
        "epochs_folded": len(to_fold),
        "rows": rows,
        "manifest": committed,
    }

