"""operators.manifest — the versioned-artifact commit protocol.

Unit tests: manifest resolution (incl. torn newest file), epoch
round-trip, folded-epoch replay filtering, deferred GC /
``keep_versions`` clamping, the rebuild error for a root without a
manifest, pinned-snapshot reads across a compaction.  Integration
test: a maintenance stream keeps appending WHILE ``compact_artifact``
runs (injected through the ``_pre_commit_hook`` seam) and then resumes
on its EXISTING checkpoint — nothing lost, nothing doubled.
"""
import glob
import os
import shutil

import pytest

from pyspark.sql import functions as F

from gcf_corima_parquet_converter_spark.operators import manifest as M


def _rows(spark, ids):
    return spark.createDataFrame(
        [(int(i), f"v{i}") for i in ids], "k long, v string"
    )


def _fold_distinct(df):
    # set-semantics fold: one row per key, deterministic tie-break
    return df.groupBy("k").agg(F.min("v").alias("v"))


def _ids(df):
    return sorted(r["k"] for r in df.select("k").collect())


def test_epoch_roundtrip_compact_and_versioning(spark, tmp_path):
    """write_epoch → read_artifact unions base+epochs; compact folds
    into base/v<N+1>; a second compact with no new epochs still
    commits a clean next version."""
    root = str(tmp_path / "art")
    M.init_artifact(spark, root)
    assert M.manifest_resolve(spark, root)["version"] == 0
    M.write_epoch(_rows(spark, range(0, 5)), root, 0)
    M.write_epoch(_rows(spark, range(5, 8)), root, 1)
    assert M.list_epochs(spark, root) == [0, 1]
    assert _ids(M.read_artifact(spark, root)) == list(range(8))

    out = M.compact_artifact(spark, root, _fold_distinct)
    assert {k: v for k, v in out.items() if k != "manifest"} == {
        "version": 1, "epochs_folded": 2, "rows": 8}
    # the committed manifest rides along (the align_manifest handle)
    assert out["manifest"]["version"] == 1
    assert out["manifest"]["folded_epochs"] == [0, 1]
    assert _ids(M.read_artifact(spark, root)) == list(range(8))
    # fold landed under base/v1, epoch column pinned to -1
    assert glob.glob(M.base_dir(root, 1) + "/epoch=-1/*.parquet")
    # new epoch after the fold is visible immediately
    M.write_epoch(_rows(spark, range(8, 10)), root, 2)
    assert _ids(M.read_artifact(spark, root)) == list(range(10))
    out2 = M.compact_artifact(spark, root, _fold_distinct)
    assert out2["version"] == 2 and out2["rows"] == 10
    assert _ids(M.read_artifact(spark, root)) == list(range(10))


def test_replayed_folded_epoch_is_filtered(spark, tmp_path):
    """A foreachBatch replay that re-materializes an already-folded
    epoch directory must not double-count: the manifest's
    folded_epochs filter masks it for every reader."""
    root = str(tmp_path / "art")
    M.init_artifact(spark, root)
    M.write_epoch(_rows(spark, range(0, 6)), root, 0)
    M.compact_artifact(spark, root, _fold_distinct)
    m = M.manifest_resolve(spark, root)
    assert m["folded_epochs"] == [0]
    # replay: the last uncommitted micro-batch rewrites its own epoch
    M.write_epoch(_rows(spark, range(0, 6)), root, 0)
    assert M.list_epochs(spark, root) == [0]
    df = M.read_artifact(spark, root)
    assert df.count() == 6  # not 12
    assert _ids(df) == list(range(6))


def test_write_epoch_replay_rewrites_own_partitions(spark, tmp_path):
    """Dynamic-overwrite epoch ownership: rewriting epoch 0 with a
    smaller batch leaves exactly the new content (its old partitions
    are replaced, other epochs untouched)."""
    root = str(tmp_path / "art")
    M.init_artifact(spark, root)
    M.write_epoch(_rows(spark, range(0, 4)), root, 0)
    M.write_epoch(_rows(spark, range(10, 12)), root, 1)
    M.write_epoch(_rows(spark, range(0, 4)), root, 0)  # replay
    df = M.read_artifact(spark, root)
    assert _ids(df) == [0, 1, 2, 3, 10, 11]


def test_torn_manifest_falls_back_to_previous(spark, tmp_path):
    """A half-written newest manifest (crash mid-PUT) must not fail
    readers: resolution takes the highest version that parses."""
    root = str(tmp_path / "art")
    M.init_artifact(spark, root)
    M.write_epoch(_rows(spark, range(0, 3)), root, 0)
    M.compact_artifact(spark, root, _fold_distinct)
    good = M.manifest_resolve(spark, root)
    assert good["version"] == 1
    mdir = os.path.join(root, "_manifests")
    with open(os.path.join(mdir, "manifest-v00000002.json"), "w") as f:
        f.write('{"version": 2, "folded_ep')  # torn write
    assert M.manifest_resolve(spark, root) == good
    assert _ids(M.read_artifact(spark, root)) == [0, 1, 2]
    # and the next compaction continues from the good version... v2's
    # torn file is superseded (commit writes v2 with create-overwrite)
    out = M.compact_artifact(spark, root, _fold_distinct)
    assert out["version"] == 2
    assert M.manifest_resolve(spark, root)["version"] == 2


def test_gc_defers_epoch_delete_and_keeps_base_versions(spark, tmp_path):
    """Folded epoch dirs survive exactly one compaction cycle (pinned
    readers of the previous manifest still union them); base versions
    follow keep_versions, clamped >= 2 so the just-committed base can
    never be deleted."""
    root = str(tmp_path / "art")
    M.init_artifact(spark, root)
    M.write_epoch(_rows(spark, range(0, 4)), root, 0)
    # pin a snapshot BEFORE the compaction
    pinned = M.manifest_resolve(spark, root)
    pinned_df = M.read_artifact(spark, root, manifest=pinned)

    M.compact_artifact(spark, root, _fold_distinct, keep_versions=0)
    # keep_versions=0 clamps: v1 (just written) must survive
    assert M._exists(spark, M.base_dir(root, 1))
    # epoch 0 was folded this cycle -> still on disk (deferred GC)
    assert M.list_epochs(spark, root) == [0]
    # the pinned pre-compaction reader still evaluates correctly
    assert _ids(pinned_df) == [0, 1, 2, 3]

    M.write_epoch(_rows(spark, range(4, 6)), root, 1)
    M.compact_artifact(spark, root, _fold_distinct, keep_versions=2)
    # second cycle: epoch 0's dir is GC'd, epoch 1 (folded now) kept
    assert M.list_epochs(spark, root) == [1]
    # keep_versions=2 keeps v2 + v1, v0 never existed as a base
    assert M._exists(spark, M.base_dir(root, 2))
    assert M._exists(spark, M.base_dir(root, 1))

    M.write_epoch(_rows(spark, range(6, 8)), root, 2)
    M.compact_artifact(spark, root, _fold_distinct, keep_versions=2)
    assert M._exists(spark, M.base_dir(root, 3))
    assert M._exists(spark, M.base_dir(root, 2))
    assert not M._exists(spark, M.base_dir(root, 1))
    assert _ids(M.read_artifact(spark, root)) == list(range(8))


def test_root_without_manifest_raises_rebuild_error(spark, tmp_path):
    """The manifest layout is the only artifact layout: a plain parquet
    directory (no ``_manifests/``) is refused by every reader and the
    compaction with a rebuild ValueError instead of being read as-is,
    and write_epoch refuses it with the same message."""
    from gcf_corima_parquet_converter_spark.operators import dedup as D
    from gcf_corima_parquet_converter_spark.operators import membership as B
    from gcf_corima_parquet_converter_spark.operators import sketches as K

    root = str(tmp_path / "plain")
    (
        _rows(spark, range(0, 5)).withColumn("epoch", F.lit(0))
        .write.partitionBy("epoch").parquet(root)
    )
    assert M.manifest_resolve(spark, root) is None
    for call in (
        lambda: M.read_artifact(spark, root),
        lambda: M.compact_artifact(spark, root, _fold_distinct),
        lambda: D.load_dedup_index(spark, root),
        lambda: K.load_sketch_shards(spark, root),
        lambda: B.bloom_artifact_load(spark, root),
        lambda: M.write_epoch(_rows(spark, [9]), root, 1),
    ):
        with pytest.raises(ValueError, match="rebuild"):
            call()
    # the index and fuzzy-vocab readers and appenders word it the same
    # way for a root without ``_manifests/`` (here: nothing at all)
    from gcf_corima_parquet_converter_spark.operators import retrieval as R

    gone = str(tmp_path / "gone")
    idx = R.inverted_index(
        spark.createDataFrame([(1, "spark")], "doc_id long, text string")
    )
    for call in (
        lambda: R.load_postings_artifact(spark, gone, ["spark"]),
        lambda: R.read_index_artifact(spark, gone),
        lambda: R.fuzzy_match_terms(spark, gone, ["spark"]),
        lambda: R.fuzzy_vocab_append(idx, gone, epoch=0),
    ):
        with pytest.raises(ValueError, match="no manifest-versioned artifact"):
            call()
    # nothing was written or moved: the directory is as it was
    assert M.manifest_resolve(spark, root) is None
    assert _ids(spark.read.parquet(root)) == list(range(5))


def test_one_shot_builds_write_manifest_roots(spark, tmp_path):
    """Every one-shot build lands through ``write_base``: each artifact
    root resolves a version-1 manifest whose extra fields carry the
    build parameters, and no sidecar table sits next to it."""
    import numpy as np

    from gcf_corima_parquet_converter_spark.operators import membership as B
    from gcf_corima_parquet_converter_spark.operators import retrieval as R
    from gcf_corima_parquet_converter_spark.operators import similarity as S

    docs = spark.createDataFrame(
        [(1, "spark window merge"), (2, "spark stream join")],
        "doc_id long, text string",
    )
    idx = R.inverted_index(docs)
    lex, fz = str(tmp_path / "lex"), str(tmp_path / "fz")
    bloom_p = str(tmp_path / "bloom")
    ivf, pq = str(tmp_path / "ivf"), str(tmp_path / "pq")
    R.write_inverted_index(idx, lex, n_buckets=8)
    B.bloom_save(
        spark, B.bloom_build(docs, "text", m_bits=128, n_hashes=3), bloom_p
    )
    R.write_fuzzy_vocab(idx, fz, max_edits=2, n_buckets=4)
    rng = np.random.default_rng(5)
    pts = rng.normal(size=(24, 4))
    emb = spark.createDataFrame(
        [(i, [float(x) for x in pts[i]]) for i in range(24)],
        "vec_id long, embedding array<double>",
    )
    cents = pts[:2]
    S.ivf_save(S.ivf_assign(emb, cents), cents, ivf)
    books = rng.normal(size=(2, 4, 2))
    S.ivfpq_save(
        S.ivfpq_encode(emb, cents, books, residual=True), cents, books, pq,
        residual=True,
    )

    def extra(root):
        m = M.manifest_resolve(spark, root)
        assert m is not None and m["version"] == 1, root
        assert m["folded_epochs"] == [] and glob.glob(
            M.base_dir(root, 1) + "/epoch=-1"
        ), root
        return {
            k: v for k, v in m.items()
            if k not in ("version", "folded_epochs", "folded_watermark")
        }

    assert extra(lex + "/postings") == {"n_buckets": 8}
    assert extra(lex + "/stats") == {}
    assert extra(bloom_p) == {"m_bits": 128, "n_hashes": 3}
    assert extra(fz + "/fuzzy_vocab") == {"n_buckets": 4, "max_edits": 2}
    assert extra(ivf + "/assignments") == {}
    assert extra(pq + "/assignments") == {"residual": True}
    for side in ("_index_stats", "fuzzy_meta", "meta"):
        for root in (lex, fz, ivf, pq):
            assert not os.path.exists(os.path.join(root, side)), (root, side)


def test_concurrent_append_during_compact_unit(spark, tmp_path):
    """An epoch landed in the commit window (after the fold write,
    before the manifest PUT) is not in the fold's snapshot — readers
    of the NEW manifest still see it via the epochs union."""
    root = str(tmp_path / "art")
    M.init_artifact(spark, root)
    M.write_epoch(_rows(spark, range(0, 4)), root, 0)

    def racer():
        M.write_epoch(_rows(spark, range(4, 7)), root, 1)

    out = M.compact_artifact(
        spark, root, _fold_distinct, _pre_commit_hook=racer
    )
    assert out["epochs_folded"] == 1  # epoch 1 was NOT folded
    m = M.manifest_resolve(spark, root)
    assert m["folded_epochs"] == [0]
    assert _ids(M.read_artifact(spark, root)) == list(range(7))
    # the next compaction folds the racer epoch
    out2 = M.compact_artifact(spark, root, _fold_distinct)
    assert out2["epochs_folded"] == 1 and out2["rows"] == 7


def test_crash_before_commit_leaves_artifact_consistent(spark, tmp_path):
    """A compaction that dies after writing base/v<N+1> but BEFORE the
    manifest PUT leaves readers on the old version; the retry folds
    again and commits over the orphan base."""
    root = str(tmp_path / "art")
    M.init_artifact(spark, root)
    M.write_epoch(_rows(spark, range(0, 5)), root, 0)

    def boom():
        raise RuntimeError("crash in the commit window")

    with pytest.raises(RuntimeError):
        M.compact_artifact(spark, root, _fold_distinct,
                           _pre_commit_hook=boom)
    # nothing committed: readers unaffected, orphan base invisible
    assert M.manifest_resolve(spark, root)["version"] == 0
    assert _ids(M.read_artifact(spark, root)) == list(range(5))
    # retry succeeds (overwrite-mode fold rewrites the orphan)
    out = M.compact_artifact(spark, root, _fold_distinct)
    assert out["version"] == 1
    assert _ids(M.read_artifact(spark, root)) == list(range(5))


def test_maintenance_stream_appends_through_compaction(spark, tmp_path):
    """The r8 integration criterion: an IVF maintenance stream appends
    DURING compaction and resumes on its EXISTING checkpoint — readers
    see old-or-new (never a mix), nothing lost, nothing doubled, and
    the post-compaction resume adds exactly the new vectors."""
    import numpy as np

    from gcf_corima_parquet_converter_spark.operators import (
        similarity as S,
    )
    from gcf_corima_parquet_converter_spark.streaming.ingest import (
        maintain_ivf_index,
    )

    rng = np.random.default_rng(44)
    n, dim = 300, 8
    pts = rng.normal(size=(n, dim))
    pts /= np.linalg.norm(pts, axis=1, keepdims=True)
    rows = [(i, [float(x) for x in pts[i]]) for i in range(n)]
    sch = "vec_id long, embedding array<double>"
    full = spark.createDataFrame(rows, sch)
    cents = S.kmeans_refine(
        full, S.train_centroids_sample(full, n_centroids=4), n_iter=1
    )
    idx = str(tmp_path / "idx")
    S.ivf_save(
        S.ivf_assign(spark.createDataFrame(rows[:100], sch), cents),
        cents, idx,
    )

    src = str(tmp_path / "src")
    os.makedirs(src)
    ckpt = str(tmp_path / "ckpt")

    def add_file(name, chunk):
        stage = str(tmp_path / ("stage_" + name))
        spark.createDataFrame(chunk, sch).coalesce(1).write.mode(
            "overwrite"
        ).parquet(stage)
        [f] = glob.glob(stage + "/part-*.parquet")
        shutil.copy(f, os.path.join(src, name + ".parquet"))

    def run_stream():
        stream = (
            spark.readStream.schema(sch)
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )
        q = maintain_ivf_index(stream, idx, ckpt)
        q.awaitTermination(120)

    # epoch 0 lands before the compaction
    add_file("a", rows[100:160])
    run_stream()
    apath = idx + "/assignments"
    assert M.list_epochs(spark, apath) == [0]

    # the stream appends epoch 1 INSIDE the commit window
    def racer():
        add_file("b", rows[160:220])
        run_stream()

    out = S.ivf_compact(spark, idx, _pre_commit_hook=racer)
    assert out["version"] == 2 and out["epochs_folded"] == 1
    loaded, c2 = S.ivf_load(spark, idx)
    assert sorted(r["vec_id"] for r in loaded.select("vec_id").collect()) \
        == list(range(220))  # nothing lost, nothing doubled

    # resume on the EXISTING checkpoint after the compaction: only the
    # new file is processed, landing as the next epoch
    add_file("c", rows[220:])
    run_stream()
    loaded2, _ = S.ivf_load(spark, idx)
    assert loaded2.count() == n
    assert sorted(
        r["vec_id"] for r in loaded2.select("vec_id").collect()
    ) == list(range(n))
    # probe parity with a one-shot batch build of the same corpus
    want = [
        r["vec_id"]
        for r in S.ivf_topk(
            S.ivf_assign(full, cents), cents, pts[3], k=5
        ).collect()
    ]
    got = [r["vec_id"] for r in S.ivf_topk(loaded2, c2, pts[3], k=5).collect()]
    assert got == want
    # and the next compaction folds the survivors down to one base
    out2 = S.ivf_compact(spark, idx)
    assert out2["rows"] == n
    loaded3, _ = S.ivf_load(spark, idx)
    assert loaded3.count() == n


def test_read_artifact_union_prunes_both_branches(spark, tmp_path):
    """The 100 TB contract of the manifest read: a partition-column
    filter over base ∪ epochs prunes BOTH scans (PartitionFilters on
    each branch), so a probe reads only its partition's directories in
    the folded base AND in every live epoch."""
    root = str(tmp_path / "art")
    M.init_artifact(spark, root)
    df0 = spark.createDataFrame(
        [(i, i % 4) for i in range(40)], "k long, g int"
    )
    M.write_epoch(df0, root, 0, partition_cols=("g",))
    M.compact_artifact(
        spark, root, lambda df: df.repartition("g"), partition_cols=("g",)
    )
    M.write_epoch(
        spark.createDataFrame([(100 + i, i % 4) for i in range(8)],
                              "k long, g int"),
        root, 1, partition_cols=("g",),
    )

    probe = M.read_artifact(spark, root).where(F.col("g") == 2)
    got = sorted(r["k"] for r in probe.collect())
    assert got == [2, 6, 10, 14, 18, 22, 26, 30, 34, 38, 102, 106]
    plan = probe._jdf.queryExecution().executedPlan().toString()
    filters = [
        sec.split("]")[0] for sec in plan.split("PartitionFilters: [")[1:]
    ]
    pruned = [f for f in filters if "g" in f]
    assert len(pruned) >= 2, plan


@pytest.mark.parametrize("seed", [7, 21, 99])
def test_manifest_protocol_random_interleavings(spark, tmp_path, seed):
    """Model-based check of the commit protocol: a seeded random
    sequence of epoch writes, foreachBatch-style replays (same epoch,
    same rows), and compactions — after EVERY operation the artifact
    must read back exactly the reference model's row set (set
    semantics under a distinct fold), and a snapshot pinned before any
    compaction must stay readable until the next cycle's GC."""
    import random

    rng = random.Random(seed)
    root = str(tmp_path / f"art_{seed}")
    M.init_artifact(spark, root)

    written: dict[int, set[int]] = {}   # epoch -> key set (the model)
    next_epoch = 0
    next_key = 0
    compactions = 0

    def expected() -> list[int]:
        out: set[int] = set()
        for ks in written.values():
            out |= ks
        return sorted(out)

    def check():
        if not written:
            return
        assert _ids(M.read_artifact(spark, root)) == expected()

    for _ in range(14):
        op = rng.choices(
            ("write", "replay", "compact"), weights=(5, 2, 2)
        )[0]
        if op == "write" or not written:
            ks = set(range(next_key, next_key + rng.randint(1, 6)))
            next_key += len(ks)
            M.write_epoch(_rows(spark, sorted(ks)), root, next_epoch)
            written[next_epoch] = ks
            next_epoch += 1
        elif op == "replay":
            # Structured Streaming's only replay: re-materialize one
            # already-written epoch with identical content
            e = rng.choice(sorted(written))
            M.write_epoch(_rows(spark, sorted(written[e])), root, e)
        else:
            out = M.compact_artifact(spark, root, _fold_distinct)
            compactions += 1
            assert out["version"] == compactions
            assert out["rows"] == len(expected())
        check()

    # final fold equals the model exactly, and epochs stay bounded
    M.compact_artifact(spark, root, _fold_distinct)
    M.compact_artifact(spark, root, _fold_distinct)  # GC cycle
    assert _ids(M.read_artifact(spark, root)) == expected()
    assert M.list_epochs(spark, root) == []


def test_folded_watermark_blocks_pathologically_late_replays(spark, tmp_path):
    """An epoch folded MANY compactions ago (its id already gone from
    folded_epochs and its directory GC'd) that a pathologically late
    replay re-materializes must still be filtered: batch ids are
    monotonic, so the O(1) folded_watermark outlives the id list."""
    root = str(tmp_path / "art")
    M.init_artifact(spark, root)
    M.write_epoch(_rows(spark, range(0, 5)), root, 0)
    M.compact_artifact(spark, root, _fold_distinct)      # folds e0, wm=0
    M.compact_artifact(spark, root, _fold_distinct)      # GCs e0's dir
    M.compact_artifact(spark, root, _fold_distinct)      # id leaves list
    m = M.manifest_resolve(spark, root)
    assert m["folded_epochs"] == [] and m["folded_watermark"] == 0
    # the late replay: epoch 0 re-materializes with identical content
    M.write_epoch(_rows(spark, range(0, 5)), root, 0)
    df = M.read_artifact(spark, root)
    assert df.count() == 5  # not 10 — watermark filters it
    assert _ids(df) == list(range(5))
    # and a NEW epoch above the watermark is still visible
    M.write_epoch(_rows(spark, range(5, 7)), root, 1)
    assert _ids(M.read_artifact(spark, root)) == list(range(7))


def test_uncommitted_epoch_invisible_to_readers_and_compaction(
    spark, tmp_path
):
    """The epoch-marker contract: an epoch directory whose data landed
    but whose _EPOCH_COMMITTED marker hasn't been PUT (a write still
    in its job-commit window) is invisible to readers AND to
    compact_artifact's snapshot — folding it would mask its
    late-landing files forever via folded_epochs/watermark."""
    root = str(tmp_path / "art")
    M.init_artifact(spark, root)
    M.write_epoch(_rows(spark, range(0, 4)), root, 0)
    # epoch 1: data files present, marker absent = mid-commit
    _rows(spark, range(4, 8)).write.parquet(
        M.epochs_dir(root) + "/epoch=1"
    )
    assert M.list_epochs(spark, root) == [0]
    assert M.list_epochs(spark, root, committed_only=False) == [0, 1]
    assert _ids(M.read_artifact(spark, root)) == [0, 1, 2, 3]

    out = M.compact_artifact(spark, root, _fold_distinct)
    assert out["epochs_folded"] == 1 and out["rows"] == 4
    m = M.manifest_resolve(spark, root)
    assert m["folded_epochs"] == [0] and m["folded_watermark"] == 0

    # the write completes (write_epoch replay-rewrites its own epoch
    # and PUTs the marker): the epoch becomes visible, nothing masked
    M.write_epoch(_rows(spark, range(4, 8)), root, 1)
    assert M.list_epochs(spark, root) == [0, 1]
    assert _ids(M.read_artifact(spark, root)) == list(range(8))
    out2 = M.compact_artifact(spark, root, _fold_distinct)
    assert out2["rows"] == 8
    assert _ids(M.read_artifact(spark, root)) == list(range(8))


# ------------------------------------------- restart-across-compaction
# r10 verdict #6: the model-based tests cover in-process interleavings;
# these two soak the REAL StreamingQuery lifecycle — stream runs, a
# batch's checkpoint commit is lost (crash window simulated by deleting
# commits/<last>), the artifact COMPACTS (folding the uncommitted
# batch's epoch), and the stream resumes on its old checkpoint.  The
# resumed stream genuinely REPLAYS the folded batch; the manifest's
# folded_epochs/folded_watermark must mask the re-materialized epoch so
# counts stay exact on both a SUM-semantics sketch artifact and a
# partitioned IVF artifact.


def _drop_commit(ckpt: str, batch: int) -> None:
    """Simulate a crash between the epoch write and the checkpoint
    commit: remove the batch's commit record (and the local FS's
    sidecar .crc, which would otherwise break the re-commit rename)."""
    os.remove(os.path.join(ckpt, "commits", str(batch)))
    crc = os.path.join(ckpt, "commits", f".{batch}.crc")
    if os.path.exists(crc):
        os.remove(crc)


def _stage_file(spark, tmp_path, src, name, rows, sch):
    p = str(tmp_path / ("stage_" + name))
    spark.createDataFrame(rows, sch).coalesce(1).write.parquet(p)
    [f] = glob.glob(os.path.join(p, "part-*.parquet"))
    shutil.copy(f, os.path.join(src, name + ".parquet"))


def test_sketch_stream_resumes_after_compaction_of_uncommitted_epoch(
    spark, tmp_path
):
    from gcf_corima_parquet_converter_spark.operators import sketches as K
    from gcf_corima_parquet_converter_spark.streaming.ingest import (
        maintain_sketch_shards,
    )

    sch = "user_id long, v double"
    src = str(tmp_path / "src")
    os.makedirs(src)
    rows_a = [(i, float(i % 50)) for i in range(300)]
    rows_b = [(i, float(i % 30)) for i in range(200)]
    rows_c = [(i, float(i % 20)) for i in range(100)]
    _stage_file(spark, tmp_path, src, "a", rows_a, sch)
    _stage_file(spark, tmp_path, src, "b", rows_b, sch)

    path, ckpt = str(tmp_path / "shards"), str(tmp_path / "ck")

    def run():
        stream = (
            spark.readStream.schema(sch)
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )
        q = maintain_sketch_shards(
            stream,
            lambda df: K.histogram_shard_sketch(df, [], "v", 0.0, 50.0, 10),
            path,
            checkpoint=ckpt,
        )
        q.awaitTermination(120)

    run()  # batches 0 (a) and 1 (b) -> epochs 0, 1
    # crash window: batch 1 wrote its epoch but its checkpoint commit
    # is lost -> the restart WILL replay batch 1
    _drop_commit(ckpt, 1)
    # the artifact compacts while the stream is down, folding BOTH
    # epochs (including the about-to-be-replayed one)
    out = K.compact_sketch_shards(
        spark, path, lambda df: K.histogram_merge(df, [])
    )
    assert out["epochs_folded"] == 2
    assert M.manifest_resolve(spark, path)["folded_watermark"] == 1

    _stage_file(spark, tmp_path, src, "c", rows_c, sch)
    run()  # resumes on the OLD checkpoint: replays batch 1, then c

    # the replayed epoch=1 directory is re-materialized on disk ...
    assert os.path.isdir(os.path.join(path, "epochs", "epoch=1"))
    # ... but masked by the watermark: merged counts are EXACT (the
    # SUM-semantics histogram would show any double-count immediately)
    merged = {
        r["_bucket"]: r["n"]
        for r in K.histogram_merge(
            K.load_sketch_shards(spark, path), []
        ).collect()
    }
    want = {
        r["_bucket"]: r["n"]
        for r in K.histogram_shard_sketch(
            spark.createDataFrame(rows_a + rows_b + rows_c, sch),
            [], "v", 0.0, 50.0, 10,
        ).collect()
    }
    assert merged == want


def test_ivf_stream_resumes_after_compaction_of_uncommitted_epoch(
    spark, tmp_path
):
    import numpy as np

    from gcf_corima_parquet_converter_spark.operators import similarity as S
    from gcf_corima_parquet_converter_spark.streaming.ingest import (
        maintain_ivf_index,
    )

    rng = np.random.default_rng(11)
    n, dim = 300, 8
    pts = rng.normal(size=(n, dim))
    pts /= np.linalg.norm(pts, axis=1, keepdims=True)
    rows = [(i, [float(x) for x in pts[i]]) for i in range(n)]
    sch = "vec_id long, embedding array<double>"
    base_rows, s1, s2, s3 = rows[:120], rows[120:180], rows[180:240], rows[240:]

    full = spark.createDataFrame(rows, sch)
    cents = S.kmeans_refine(
        full, S.train_centroids_sample(full, n_centroids=4), n_iter=1
    )
    idx = str(tmp_path / "ivf_idx")
    S.ivf_save(S.ivf_assign(spark.createDataFrame(base_rows, sch), cents), cents, idx)

    src = str(tmp_path / "vec_src")
    os.makedirs(src)
    _stage_file(spark, tmp_path, src, "a", s1, sch)
    _stage_file(spark, tmp_path, src, "b", s2, sch)
    ckpt = str(tmp_path / "ck_ivf")

    def run():
        stream = (
            spark.readStream.schema(sch)
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )
        q = maintain_ivf_index(stream, idx, ckpt)
        q.awaitTermination(120)

    run()  # epochs 0 (s1), 1 (s2) under assignments/
    _drop_commit(ckpt, 1)  # lose batch 1's commit
    out = S.ivf_compact(spark, idx)
    assert out["epochs_folded"] == 2

    _stage_file(spark, tmp_path, src, "c", s3, sch)
    run()  # replays batch 1 into its (folded) epoch, then lands c

    loaded, cents2 = S.ivf_load(spark, idx)
    got = sorted(r["vec_id"] for r in loaded.select("vec_id").collect())
    assert got == list(range(n))  # exact: no loss, no duplicates
    # probes over the soaked artifact == full batch assign
    qvec = pts[7]
    want = [
        r["vec_id"]
        for r in S.ivf_topk(S.ivf_assign(full, cents), cents, qvec, k=5).collect()
    ]
    assert [
        r["vec_id"] for r in S.ivf_topk(loaded, cents2, qvec, k=5).collect()
    ] == want


def test_partitioned_epoch_replay_unmarks_before_rewrite(spark, tmp_path):
    """r11 (ADVICE): with partition_cols, a replay's dynamic overwrite
    replaces only the LEAF dirs and does NOT remove a marker sitting at
    epoch=N/ — write_epoch must therefore delete the marker itself
    before the rewrite starts, so the epoch reads as uncommitted for
    the whole window.  Pinned by probing from inside the rewrite: a
    UDF evaluated DURING the replay's write job asserts the marker is
    gone (local mode: executor and driver share the filesystem)."""
    root = str(tmp_path / "art")
    df = spark.createDataFrame(
        [(i, i % 3, f"v{i}") for i in range(30)], "k long, part int, v string"
    )
    M.write_epoch(df, root, 0, partition_cols=("part",))
    marker = os.path.join(root, "epochs", "epoch=0", "_EPOCH_COMMITTED")
    assert os.path.exists(marker)
    assert M.list_epochs(spark, root) == [0]

    probed = F.udf(lambda k: int(os.path.exists(marker)), "int")
    seen = df.select(F.max(probed("k"))).collect()[0][0]
    assert seen == 1  # sanity: the probe sees the marker outside a write

    # replay: the probe is folded into a DATA column so it evaluates
    # per row while the rewrite job materializes the files
    M.write_epoch(
        df.withColumn("v", F.concat(F.col("v"), probed("k").cast("string"))),
        root, 0, partition_cols=("part",),
    )
    out = M.read_artifact(spark, root)
    # every row observed marker==absent (suffix 0) during the rewrite
    assert out.where(F.col("v").rlike("1$")).count() == 0
    assert out.where(F.col("v").rlike("0$")).count() == 30
    assert os.path.exists(marker)  # re-committed after the rewrite
    assert M.list_epochs(spark, root) == [0]
