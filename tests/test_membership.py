"""operators.membership — Bloom-filter blocklist membership.

Contracts: sizing math, NO false negatives ever, false-positive rate
near the built fpp, exact decontamination (bloom prefilter + verify ==
plain anti-join), parquet round-trip, and the scale shape (the corpus
side of the membership test never shuffles)."""
import math

import pytest

from pyspark.sql import functions as F

from gcf_corima_parquet_converter_spark.operators import membership as B


def _corpus(spark, n):
    return spark.range(n).select(
        F.concat(F.lit("key-"), F.col("id")).alias("k"),
        F.col("id").alias("rid"),
    )


def test_bloom_params_standard_sizing():
    m, k = B.bloom_params(1000, 0.01)
    # ~9.6 bits/item and ~7 hashes at 1% (standard optimum)
    assert abs(m - 9586) <= 64  # word-rounded
    assert k == 7
    m2, k2 = B.bloom_params(1000, 0.001)
    assert m2 > m and k2 >= k  # tighter fpp costs more bits/hashes
    with pytest.raises(ValueError):
        B.bloom_params(1000, 1.5)
    # the cap: never above _MAX_BITS regardless of n
    m3, _ = B.bloom_params(10**12, 0.0001)
    assert m3 <= B._MAX_BITS


def test_bloom_no_false_negatives_and_fpp_bound(spark):
    n_block, n_corpus = 2000, 10000
    block = spark.range(0, 3 * n_block, 3).select(
        F.concat(F.lit("key-"), F.col("id")).alias("k")
    )
    corpus = _corpus(spark, n_corpus)
    bloom = B.bloom_build(block, "k", fpp=0.01)
    assert bloom["n_items"] == n_block
    got_maybe = {
        r["k"] for r in B.bloom_filter_members(corpus, "k", bloom).collect()
    }
    truth = {f"key-{i}" for i in range(0, 3 * n_block, 3)
             if i < n_corpus}
    assert truth <= got_maybe  # NO false negatives — the safety contract
    fp = len(got_maybe - truth) / (n_corpus - len(truth))
    assert fp < 0.03  # ~3x headroom over the built 1% fpp
    # the complement is exact non-membership
    got_clean = {
        r["k"]
        for r in B.bloom_filter_members(
            corpus, "k", bloom, "definitely_not"
        ).collect()
    }
    assert got_clean.isdisjoint(truth)
    assert got_clean | got_maybe == {f"key-{i}" for i in range(n_corpus)}


def test_bloom_decontaminate_exact_and_reusable(spark, tmp_path):
    corpus = _corpus(spark, 5000)
    block = spark.range(0, 5000, 7).select(
        F.concat(F.lit("key-"), F.col("id")).alias("bk")
    )
    out = B.bloom_decontaminate(corpus, block, "k", block_col="bk")
    want = sorted(
        (f"key-{i}", i) for i in range(5000) if i % 7 != 0
    )
    got = sorted((r["k"], r["rid"]) for r in out.collect())
    assert got == want  # EXACT anti-join semantics, bloom is invisible

    # prebuilt + persisted filter reuse (the cross-corpus path)
    bloom = B.bloom_build(
        block.select(F.col("bk").alias("k")), "k", fpp=0.005
    )
    p = str(tmp_path / "bloom")
    B.bloom_save(spark, bloom, p)
    loaded = B.bloom_artifact_load(spark, p)
    assert loaded == bloom
    out2 = B.bloom_decontaminate(
        corpus, block, "k", block_col="bk", bloom=loaded
    )
    assert sorted((r["k"], r["rid"]) for r in out2.collect()) == want


def test_bloom_member_filter_never_shuffles_the_corpus(spark):
    """The 100 TB contract: the membership TEST is a narrow map over
    the corpus joined to ONE broadcast row — no Exchange anywhere in
    the maybe/definitely_not plans (the exact verify join in
    bloom_decontaminate shuffles only the tiny maybe-set)."""
    corpus = _corpus(spark, 1000)
    block = spark.range(0, 500, 5).select(
        F.concat(F.lit("key-"), F.col("id")).alias("k")
    )
    bloom = B.bloom_build(block, "k")
    for keep in ("maybe", "definitely_not"):
        df = B.bloom_filter_members(corpus, "k", bloom, keep)
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "Exchange hashpartitioning" not in plan, plan
        assert "BroadcastNestedLoopJoin" in plan  # the one-row join
        assert "bit_get" in plan  # JVM bit test, no UDF
        assert "Python" not in plan


def test_bloom_handles_nulls_and_empty_blocklist(spark):
    corpus = spark.createDataFrame(
        [("a",), (None,), ("b",)], "k string"
    )
    empty = spark.createDataFrame([], "k string")
    bloom = B.bloom_build(empty, "k", expected_items=1)
    assert all(w == 0 for w in bloom["words"])
    out = B.bloom_decontaminate(corpus, empty, "k")
    assert out.count() == 3  # nothing blocked, nulls survive
    # anti-join semantics: null never equals null, so a null key on
    # the blocklist blocks NOTHING (matches plain df.join(...,
    # "left_anti") — the oracle shape)
    nblock = spark.createDataFrame([(None,)], "k string")
    out2 = B.bloom_decontaminate(corpus, nblock, "k")
    assert out2.count() == 3


def test_bloom_or_merge_and_artifact_geometry(spark, tmp_path):
    """OR-merge: union membership, geometry enforced; the growable
    artifact pins its geometry in the manifest metadata and carries it
    through compaction (manifest extras forwarding)."""
    from gcf_corima_parquet_converter_spark.operators import (
        manifest as M,
    )

    a = spark.createDataFrame([("x1",), ("x2",)], "k string")
    b = spark.createDataFrame([("y1",), ("y2",)], "k string")
    m_bits, n_hashes = B.bloom_params(100, 0.01)
    ba = B.bloom_build(a, "k", m_bits=m_bits, n_hashes=n_hashes)
    bb = B.bloom_build(b, "k", m_bits=m_bits, n_hashes=n_hashes)
    merged = B.bloom_or([ba, bb])
    corpus = spark.createDataFrame(
        [("x1",), ("y2",), ("z9",)], "k string"
    )
    got = {
        r["k"] for r in B.bloom_filter_members(corpus, "k", merged).collect()
    }
    assert {"x1", "y2"} <= got and ("z9" in got) is False
    with pytest.raises(ValueError, match="geometry"):
        B.bloom_or([ba, B.bloom_build(b, "k", expected_items=5)])
    with pytest.raises(ValueError):
        B.bloom_build(a, "k", m_bits=m_bits)  # n_hashes missing

    # growable artifact: init pins geometry; epochs + compaction keep it
    p = str(tmp_path / "grow")
    B.bloom_artifact_init(spark, p, expected_items=100, fpp=0.01)
    assert B.bloom_artifact_geometry(spark, p) == (m_bits, n_hashes)
    B.bloom_write_epoch(spark, ba, p, 0)
    B.bloom_write_epoch(spark, bb, p, 1)
    loaded = B.bloom_artifact_load(spark, p)
    assert loaded["words"] == merged["words"]
    # replay isolation: as-of batch 1, epoch 1's own keys are unseen
    asof = B.bloom_artifact_load(spark, p, before_epoch=1)
    assert asof["words"] == ba["words"]
    out = B.bloom_compact(spark, p)
    assert out["version"] == 1 and out["rows"] == 1
    # geometry survived the fold (extras forwarded through the commit)
    assert B.bloom_artifact_geometry(spark, p) == (m_bits, n_hashes)
    assert B.bloom_artifact_load(spark, p)["words"] == merged["words"]
    # wrong-geometry epoch refused
    with pytest.raises(ValueError, match="geometry"):
        B.bloom_write_epoch(
            spark, B.bloom_build(a, "k", expected_items=5), p, 2
        )
    # empty artifact loads as None
    q = str(tmp_path / "empty")
    B.bloom_artifact_init(spark, q, expected_items=10)
    assert B.bloom_artifact_load(spark, q) is None


def test_bloom_artifact_load_refuses_corrupt_row(spark, tmp_path):
    """A stored row whose words array does not cover ``m_bits`` raises
    at load — OR-merging it would broadcast its one word into every
    word of the filter and turn misses into hits."""
    from gcf_corima_parquet_converter_spark.operators import (
        manifest as M,
    )

    bloom = B.bloom_build(
        spark.createDataFrame([("x1",), ("x2",)], "k string"), "k",
        m_bits=256, n_hashes=3,
    )
    p = str(tmp_path / "bloom")
    B.bloom_save(spark, bloom, p)
    assert B.bloom_artifact_load(spark, p) == bloom
    short = spark.createDataFrame(
        [(256, 3, 1, [-1])],
        "m_bits long, n_hashes int, n_items long, words array<long>",
    )
    M.write_epoch(short, p, 0)
    with pytest.raises(ValueError, match="corrupt"):
        B.bloom_artifact_load(spark, p)


# ------------------------------------------------ path auto-selection


def test_decontaminate_auto_broadcasts_small_blocklist(spark):
    """Regime 1: a broadcastable blocklist → plain broadcast anti-join
    (no bloom machinery in the plan), exact anti-join rows."""
    corpus = _corpus(spark, 2000)
    block = spark.range(0, 2000, 10).select(
        F.concat(F.lit("key-"), F.col("id")).alias("k")
    )
    out = B.decontaminate_auto(corpus, block, "k")
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan and "LeftAnti" in plan
    assert "bit_get" not in plan  # no bloom probe on this path
    assert out.count() == corpus.join(block, "k", "left_anti").count()


def test_decontaminate_auto_bloom_when_blocklist_unbroadcastable(spark):
    """Regime 2: broadcast disabled (the stand-in for a blocklist past
    the threshold) + corpus >> blocklist → the bloom path, still exact."""
    corpus = _corpus(spark, 4000)
    block = spark.range(0, 4000, 100).select(
        F.concat(F.lit("key-"), F.col("id")).alias("k")
    )
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        out = B.decontaminate_auto(corpus, block, "k")
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert "bit_get" in plan  # bloom probe present
        assert out.count() == corpus.join(block, "k", "left_anti").count()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)


def test_decontaminate_auto_plain_anti_join_when_sizes_comparable(spark):
    """Regime 3: comparable sizes with broadcast off → plain shuffle
    anti-join (both sides shuffle once; a bloom's second scan buys
    nothing)."""
    corpus = _corpus(spark, 1000)
    block = corpus.select("k")  # same size as the corpus
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        out = B.decontaminate_auto(corpus, block, "k")
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert "bit_get" not in plan
        assert out.count() == 0
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)


def test_bloom_decontaminate_advises_when_antijoin_cheaper(spark):
    """The measured-regime advisory: reaching for the bloom while the
    blocklist would broadcast warns (once) with the fix."""
    import warnings as W

    corpus = _corpus(spark, 500)
    block = spark.range(0, 500, 5).select(
        F.concat(F.lit("key-"), F.col("id")).alias("k")
    )
    with W.catch_warnings(record=True) as got:
        W.simplefilter("always")
        B.bloom_decontaminate(corpus, block, "k")
    assert any("left_anti" in str(w.message) for w in got)
    # and stays SILENT when broadcast is off (the operator's regime)
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        with W.catch_warnings(record=True) as got2:
            W.simplefilter("always")
            B.bloom_decontaminate(corpus, block, "k")
        assert not [w for w in got2 if "left_anti" in str(w.message)]
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)


def test_decontaminate_auto_with_parquet_backed_sizes(spark, tmp_path):
    """At real scale the size estimates come from FILE stats, not
    in-memory relations — pin the auto-selector's behavior on
    parquet-backed frames: small file blocklist broadcasts; with
    broadcast off and a corpus many times the blocklist's bytes, the
    bloom path engages; answers stay exact either way."""
    cp, bp = str(tmp_path / "corpus"), str(tmp_path / "block")
    _corpus(spark, 20_000).write.parquet(cp)
    spark.range(0, 20_000, 40).select(
        F.concat(F.lit("key-"), F.col("id")).alias("k")
    ).write.parquet(bp)
    corpus = spark.read.parquet(cp)
    block = spark.read.parquet(bp)
    want = corpus.join(block, "k", "left_anti").count()

    out = B.decontaminate_auto(corpus, block, "k")
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan and "bit_get" not in plan
    assert out.count() == want

    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        out2 = B.decontaminate_auto(corpus, block, "k")
        plan2 = out2._jdf.queryExecution().executedPlan().toString()
        assert "bit_get" in plan2
        assert out2.count() == want
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)


# ----------------------------------------- hits strategy (r12)


def test_bloom_decontaminate_hits_strategy_exact(spark):
    """strategy='hits' (narrow key scan -> maybe filter -> true-hit
    semi-join -> broadcast anti-join) returns EXACTLY the union
    strategy's / plain anti-join's rows, nulls included."""
    corpus = _corpus(spark, 5000).unionByName(
        spark.createDataFrame([(None, 99999)], "k string, rid long")
    )
    block = spark.range(0, 5000, 7).select(
        F.concat(F.lit("key-"), F.col("id")).alias("bk")
    )
    key = lambda t: (t[0] is None, t[0] or "", t[1])
    want = sorted(
        (
            (r["k"], r["rid"])
            for r in corpus.join(
                block.select(F.col("bk").alias("k")), "k", "left_anti"
            ).collect()
        ),
        key=key,
    )
    got = sorted(
        (
            (r["k"], r["rid"])
            for r in B.bloom_decontaminate(
                corpus, block, "k", block_col="bk", strategy="hits", advise=False
            ).collect()
        ),
        key=key,
    )
    assert got == want
    assert (None, 99999) in got  # null key never blocked


def test_bloom_decontaminate_hits_plan_never_shuffles_wide_corpus(spark):
    """The hits plan's contract: the wide corpus column reaches ONE
    scan feeding a BROADCAST anti-join — every hash-partitioned
    exchange carries keys only, never the payload."""
    corpus = _corpus(spark, 2000).withColumn(
        "payload", F.rpad(F.col("k"), 200, "x")
    )
    block = spark.range(0, 2000, 3).select(F.concat(F.lit("key-"), F.col("id")).alias("k"))
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        out = B.bloom_decontaminate(
            corpus, block, "k", strategy="hits", advise=False
        )
        plan = out._jdf.queryExecution().executedPlan().toString()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    assert "BroadcastHashJoin" in plan and "LeftAnti" in plan
    assert "bit_get" in plan  # the narrow maybe-filter is a bloom probe
    for line in plan.splitlines():
        if "Exchange hashpartitioning" in line:
            assert "payload" not in line, line


def test_bloom_decontaminate_rejects_unknown_strategy(spark):
    corpus = _corpus(spark, 10)
    block = _corpus(spark, 2).select(F.col("k"))
    with pytest.raises(ValueError, match="strategy"):
        B.bloom_decontaminate(corpus, block, "k", strategy="magic")
