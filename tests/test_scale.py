"""Scale toolkit: bucketed co-located joins (no shuffle) + skew salting."""

from __future__ import annotations

import pandas as pd
import pyspark.sql.functions as F
import pytest

from gcf_corima_parquet_converter_spark import catalog
from gcf_corima_parquet_converter_spark.operators import scale


def test_bucketed_join_has_no_exchange(spark, sf_dir, tmp_path):
    o = catalog.load(spark, sf_dir, "orders")
    l = catalog.load(spark, sf_dir, "lineitem").withColumnRenamed(
        "l_orderkey", "o_orderkey"
    )
    scale.write_bucketed(
        o, "t_orders_b", ["o_orderkey"], n_buckets=8, path=str(tmp_path / "o")
    )
    scale.write_bucketed(
        l, "t_lineitem_b", ["o_orderkey"], n_buckets=8, path=str(tmp_path / "l")
    )
    # at sf-test size both sides auto-broadcast, which ignores bucketing;
    # force the big⋈big shape (SMJ) the technique exists for
    thresh = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        joined = scale.bucketed_join(
            spark, "t_orders_b", "t_lineitem_b", ["o_orderkey"]
        )
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "Exchange hashpartitioning" not in plan, (
            f"bucketed join still shuffles:\n{plan[:2000]}"
        )
        assert "Bucketed: true" in plan
        # same rows as the shuffled join
        expect = o.join(l, "o_orderkey").count()
        assert joined.count() == expect
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", thresh)
        for t in ("t_orders_b", "t_lineitem_b"):
            spark.sql(f"DROP TABLE IF EXISTS {t}")


def test_salted_join_matches_plain_join(spark):
    # heavy skew: 90% of big rows hit key 1
    big = spark.createDataFrame(
        pd.DataFrame({"k": [1] * 900 + list(range(2, 102)), "v": range(1000)})
    )
    dim = spark.createDataFrame(
        pd.DataFrame({"k": range(1, 102), "name": [f"n{i}" for i in range(1, 102)]})
    )
    got = scale.salted_join(big, dim, "k", salt=8)
    plain = big.join(dim, "k")
    assert got.count() == plain.count() == 1000
    assert sorted(r.v for r in got.where(F.col("k") == 1).collect()) == sorted(
        r.v for r in plain.where(F.col("k") == 1).collect()
    )
    assert set(got.columns) == set(plain.columns)


def test_salted_join_spreads_hot_key(spark):
    big = spark.createDataFrame(pd.DataFrame({"k": [1] * 1000, "v": range(1000)}))
    dim = spark.createDataFrame(pd.DataFrame({"k": [1], "name": ["hot"]}))
    salted = big.withColumn(
        "_sg_salt", F.pmod(F.hash(F.monotonically_increasing_id()), F.lit(8))
    )
    n_salts = salted.select("_sg_salt").distinct().count()
    assert n_salts >= 6  # hot key really scatters over most salt values
    assert scale.salted_join(big, dim, "k", salt=8).count() == 1000


def test_ensure_min_parallelism_spreads_small_scan(spark, tmp_path):
    """A 1-split scan gets one pinned spread exchange; an input that
    already exposes enough partitions passes through untouched."""
    import pyspark.sql.functions as F

    from gcf_corima_parquet_converter_spark.operators.scale import (
        ensure_min_parallelism,
    )

    p = str(tmp_path / "one_file")
    spark.range(100).coalesce(1).write.parquet(p)
    small = spark.read.parquet(p)
    out = ensure_min_parallelism(small, "id")
    n_part = int(spark.conf.get("spark.sql.shuffle.partitions"))
    assert "Exchange hashpartitioning" in out._jdf.queryExecution().executedPlan().toString()
    assert out.rdd.getNumPartitions() == n_part

    wide = spark.range(1000).repartition(n_part, "id")
    assert ensure_min_parallelism(wide, "id") is wide  # no-op, same object

    # file-rich scan: the cheap leaf-file probe settles it (the at-scale
    # case pays no physical-planning pass — ADVICE r4)
    many = str(tmp_path / "many_files")
    spark.range(1000).repartition(n_part).write.parquet(many)
    rich = spark.read.parquet(many)
    assert len(rich.inputFiles()) * 2 >= spark.sparkContext.defaultParallelism
    assert ensure_min_parallelism(rich, "id") is rich


# -------------------------------------------------------------- Z-order


def _zorder_python_model(xb: int, yb: int, bits: int = 8) -> int:
    key = 0
    for bit in range(bits):
        key |= ((xb >> bit) & 1) << (bit * 2)
        key |= ((yb >> bit) & 1) << (bit * 2 + 1)
    return key


def test_zorder_key_matches_python_model(spark):
    # explicit boundaries -> bin rank is exact and the model is checkable
    bits = 2  # 4 bins per dim, boundaries at 1,2,3
    bounds = {"x": [1.0, 2.0, 3.0], "y": [1.0, 2.0, 3.0]}
    rows = [(float(x), float(y)) for x in range(4) for y in range(4)]
    df = spark.createDataFrame(rows, "x double, y double")
    got = {
        (r["x"], r["y"]): r["z"]
        for r in df.withColumn(
            "z", scale.zorder_key(df, ["x", "y"], bounds, bits=bits)
        ).collect()
    }
    for x, y in rows:
        xb = sum(1 for b in bounds["x"] if b <= x)
        yb = sum(1 for b in bounds["y"] if b <= y)
        assert got[(x, y)] == _zorder_python_model(xb, yb, bits=bits), (x, y)


def test_zorder_by_tiles_both_dimensions(spark):
    """After Z-ordering, EVERY partition covers a small range of BOTH
    columns — the property min/max pruning monetizes.  A plain sort on
    (x, y) would leave y's per-partition range ~= the global range."""
    import random

    rng = random.Random(7)
    rows = [(i, rng.random(), rng.random()) for i in range(20_000)]
    df = spark.createDataFrame(rows, "id long, x double, y double")
    z = scale.zorder_by(df, ["x", "y"], n_partitions=16, bits=4)
    spans = (
        z.groupBy(F.spark_partition_id().alias("p"))
        .agg(
            (F.max("x") - F.min("x")).alias("dx"),
            (F.max("y") - F.min("y")).alias("dy"),
            F.count("*").alias("n"),
        )
        .collect()
    )
    assert len(spans) == 16
    # ideal 4x4 tiling gives 0.25 per dim; allow slack for bin edges
    avg_dx = sum(r["dx"] for r in spans) / len(spans)
    avg_dy = sum(r["dy"] for r in spans) / len(spans)
    assert avg_dx < 0.45 and avg_dy < 0.45, (avg_dx, avg_dy)

    # the plain-sort contrast: y's spans stay ~global
    plain = df.repartitionByRange(16, "x", "y")
    pspans = (
        plain.groupBy(F.spark_partition_id().alias("p"))
        .agg((F.max("y") - F.min("y")).alias("dy"))
        .collect()
    )
    assert sum(r["dy"] for r in pspans) / len(pspans) > 0.9


def test_zorder_plan_is_jvm_only_single_range_exchange(spark):
    df = spark.range(0, 1000).select(
        F.col("id"),
        (F.col("id") % 97).cast("double").alias("x"),
        (F.col("id") % 89).cast("double").alias("y"),
    )
    z = scale.zorder_by(df, ["x", "y"], n_partitions=4, bits=4)
    plan = z._jdf.queryExecution().executedPlan().toString()
    for marker in ("BatchEvalPython", "ArrowEvalPython", "InPandas"):
        assert marker not in plan
    assert plan.count("rangepartitioning") == 1


def test_file_stats_and_prune_files(spark, tmp_path):
    import pyspark.sql.functions as F

    from gcf_corima_parquet_converter_spark.operators import scale as SC

    p = str(tmp_path / "tbl")
    # 4 files with EXPLICIT disjoint id ranges + one all-null value file
    # (not repartitionByRange: its sampled boundaries can shift under
    # session-conf drift, which made the all-null file nondeterministic)
    df = spark.range(0, 4000).select(
        F.col("id"),
        F.when(F.col("id") < 3000, F.col("id").cast("double")).alias("v"),
    )
    for lo in (0, 1000, 2000, 3000):
        df.where(F.col("id").between(lo, lo + 999)).coalesce(1).write.mode(
            "append"
        ).parquet(p)
    back = spark.read.parquet(p)
    stats = SC.file_stats(back, ["v"]).collect()
    assert len(stats) == 4
    assert sum(r["n_rows"] for r in stats) == 4000
    assert sum(r["v_nulls"] for r in stats) == 1000
    # per-file min/max match a direct per-file read
    for r in stats:
        path = r["file"].replace("file:", "")
        one = spark.read.parquet(path).agg(
            F.min("v").alias("lo"), F.max("v").alias("hi")
        ).first()
        assert r["v_min"] == one["lo"] and r["v_max"] == one["hi"]

    sdf = SC.file_stats(back, ["v"])
    # interval overlap: only files that CAN contain v in [500, 1500]
    kept = SC.prune_files(sdf, "v", lo=500.0, hi=1500.0).collect()
    kept_files = [r["file"].replace("file:", "") for r in kept]
    assert 0 < len(kept_files) < 4
    # soundness: re-scanning only kept files loses no matching rows
    pruned_count = (
        spark.read.parquet(*kept_files)
        .where(F.col("v").between(500.0, 1500.0))
        .count()
    )
    full_count = back.where(F.col("v").between(500.0, 1500.0)).count()
    assert pruned_count == full_count
    # the all-null file is dropped unless keep_nulls
    allnull = [r["file"] for r in stats if r["v_min"] is None]
    assert len(allnull) == 1
    kept_n = {r["file"] for r in SC.prune_files(sdf, "v", lo=0.0, hi=1e9,
                                                keep_nulls=True).collect()}
    assert allnull[0] in kept_n
    kept_no_n = {r["file"] for r in SC.prune_files(sdf, "v", lo=0.0,
                                                   hi=1e9).collect()}
    assert allnull[0] not in kept_no_n


def test_file_stats_plan_is_jvm_partial_agg(spark, tmp_path):
    import pyspark.sql.functions as F

    from gcf_corima_parquet_converter_spark.operators import scale as SC

    p = str(tmp_path / "tbl2")
    spark.range(0, 100).select(
        F.col("id"), F.col("id").cast("double").alias("v")
    ).write.parquet(p)
    plan = (
        SC.file_stats(spark.read.parquet(p), ["v"])
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "EvalPython" not in plan and "InPandas" not in plan
    assert plan.lower().count("hashaggregate") >= 2  # map-side partials


def test_compaction_plan_bins_small_files(spark, tmp_path):
    import os

    import pyspark.sql.functions as F

    from gcf_corima_parquet_converter_spark.operators import scale as SC

    p = str(tmp_path / "frag")
    # 8 deliberately tiny files + 1 big one
    spark.range(0, 800).select(
        F.col("id"), F.col("id").cast("double").alias("v")
    ).repartition(8).write.parquet(p)
    spark.range(800, 40000).select(
        F.col("id"), F.col("id").cast("double").alias("v")
    ).coalesce(1).write.mode("append").parquet(p)

    stats = SC.file_stats(spark.read.parquet(p), ["v"])
    rows = stats.collect()
    assert len(rows) == 9
    # n_bytes matches the filesystem
    for r in rows:
        assert r["n_bytes"] == os.path.getsize(r["file"].replace("file:", ""))

    big = max(rows, key=lambda r: r["n_bytes"])
    target = int(big["n_bytes"])  # small = anything under half the big file
    plan = SC.compaction_plan(stats, target_bytes=target)
    planned = [f for grp in plan for f in grp]
    # every small file is planned exactly once; the big file is not
    assert sorted(planned) == sorted(
        r["file"] for r in rows if r["n_bytes"] < target // 2
    )
    assert big["file"] not in planned
    # bins respect the target
    sizes = {r["file"]: r["n_bytes"] for r in rows}
    for grp in plan:
        assert len(grp) > 1
        assert sum(sizes[f] for f in grp) <= target
    # executing one group produces the same rows as its inputs
    grp = plan[0]
    merged = str(tmp_path / "merged")
    spark.read.parquet(*[f.replace("file:", "") for f in grp]).coalesce(
        1
    ).write.parquet(merged)
    assert spark.read.parquet(merged).count() == sum(
        r["n_rows"] for r in rows if r["file"] in grp
    )


def test_key_skew_report_detects_planted_skew(spark):
    import pyspark.sql.functions as F

    from gcf_corima_parquet_converter_spark.operators import scale as SC

    uniform = spark.range(0, 10_000).select(
        (F.col("id") % 100).cast("string").alias("k")
    )
    r = SC.key_skew_report(uniform, "k", k=3)
    assert r["n_rows"] == 10_000
    assert 0.9 <= r["skew_factor"] <= 1.3  # ~uniform

    skewed = uniform.unionAll(
        spark.range(0, 30_000).select(F.lit("hot").alias("k"))
    )
    r2 = SC.key_skew_report(skewed, "k", k=3)
    assert r2["top"][0][0] == "hot" and r2["top"][0][1] == 30_000
    assert r2["max_share"] == pytest.approx(0.75)
    assert r2["skew_factor"] > 50  # the salted_join regime
    assert r2["exact"] is True  # 101 keys << max_items: counts exact

    # above max_items the sketch may overestimate the hot key — the
    # report must say so instead of presenting a biased skew_factor
    # as trustworthy (r6 advice)
    r3 = SC.key_skew_report(skewed, "k", k=3, max_items=64)
    assert r3["exact"] is False


def test_plan_audit_flags_antipatterns_and_passes_good_plans(spark):
    import pyspark.sql.functions as F

    from gcf_corima_parquet_converter_spark.operators import scale as SC

    a = spark.range(0, 100).select(F.col("id").alias("x"))
    b = spark.range(0, 100).select(F.col("id").alias("y"))

    good = a.join(b, a.x == b.y).groupBy("x").count()
    r = SC.plan_audit(good)
    assert r["ok"] and r["findings"] == []

    # a crossJoin plans as CartesianProduct, or BroadcastNestedLoopJoin
    # when one side fits the broadcast threshold — both are flagged
    cart = a.crossJoin(b)
    r = SC.plan_audit(cart)
    assert not r["ok"]
    assert any(
        "CartesianProduct" in f or "NestedLoop" in f for f in r["findings"]
    )
    thresh = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        r = SC.plan_audit(a.crossJoin(b))
        assert r["cartesian_products"] >= 1 and not r["ok"]
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", thresh)

    funnel = a.withColumn(
        "cum", F.sum("x").over(__import__("pyspark").sql.Window.orderBy("x"))
    )
    r = SC.plan_audit(funnel)
    assert r["single_partition_exchanges"] >= 1 and not r["ok"]

    from pyspark.sql.functions import pandas_udf

    @pandas_udf("long")
    def f(s):
        return s

    py = a.select(f(F.col("x")).alias("fx"))
    r = SC.plan_audit(py)
    assert r["arrow_python_stages"] >= 1 and not r["ok"]
    assert SC.plan_audit(py, python_ok=True)["ok"]

    # scalar aggregate: SinglePartition final reduce is flagged too —
    # the caller decides it's the benign scalar case
    scalar = a.agg(F.sum("x"))
    r = SC.plan_audit(scalar)
    assert r["single_partition_exchanges"] >= 1


def test_plan_audit_readme_worked_example(spark):
    """Pins the README "Auditing your own queries" walkthrough: the
    unkeyed range join is flagged as a CartesianProduct with the
    interval_join_binned pointer; the bin-blocked rewrite audits clean
    AND returns the identical matches."""
    from gcf_corima_parquet_converter_spark.operators import scale as SC
    from gcf_corima_parquet_converter_spark.operators.telemetry import (
        interval_join_binned,
    )

    readings = spark.createDataFrame(
        [(i, i * 600_000_000) for i in range(40)], "r_id long, ts long"
    )
    sessions = spark.createDataFrame(
        [(0, 0, 3_600_000_000), (1, 7_200_000_000, 14_400_000_000)],
        "s_id long, t_start long, t_end long",
    )
    bad = readings.join(
        sessions,
        (readings.ts >= sessions.t_start) & (readings.ts < sessions.t_end),
    )
    findings = SC.plan_audit(bad)["findings"]
    assert len(findings) == 1 and "CartesianProduct" in findings[0]
    assert "interval_join_binned" in findings[0]

    good = interval_join_binned(
        readings, sessions, bin_width=3_600_000_000,
        time_col="ts", start_col="t_start", end_col="t_end",
    )
    assert SC.plan_audit(good)["findings"] == []
    want = sorted(
        (r["r_id"], r["s_id"]) for r in bad.select("r_id", "s_id").collect()
    )
    got = sorted(
        (r["r_id"], r["s_id"]) for r in good.select("r_id", "s_id").collect()
    )
    assert got == want and len(want) > 0


def test_sized_write_caps_file_sizes_without_killing_parallelism(
    spark, tmp_path
):
    """sized_write: files roll at ~target_bytes (estimated from a
    written sample) while the write keeps its task parallelism; a
    blind coalesce(1) write of the same data is the single-file
    contrast."""
    import glob
    import os

    from gcf_corima_parquet_converter_spark.operators import scale as SC

    df = spark.range(200_000).select(
        F.col("id"),
        F.sha2(F.col("id").cast("string"), 256).alias("payload"),
    ).repartition(4)
    p = str(tmp_path / "sized")
    out = SC.sized_write(df, p, target_bytes=256 * 1024)
    assert out["max_records_per_file"] > 0
    files = glob.glob(p + "/*.parquet")
    assert len(files) > 4  # rolled within tasks, not 1-file-per-task
    sizes = [os.path.getsize(f) for f in files]
    # every file lands within a generous factor of the target (parquet
    # footer overhead + encoding variance); nothing grossly oversized
    assert max(sizes) < 4 * 256 * 1024, max(sizes)
    got = spark.read.parquet(p)
    assert got.count() == 200_000
    assert not glob.glob(p + ".sizing.tmp")

    with pytest.raises(ValueError):
        SC.sized_write(
            spark.range(0).select(F.col("id")), str(tmp_path / "empty")
        )


def test_aggregate_spills_and_stays_exact():
    """A8 spill evidence: a high-cardinality aggregate in a
    memory-starved fresh JVM (600 MB, memory.fraction=0.2) must
    actually SPILL (memoryBytesSpilled > 0 in the status store) and
    still produce the exact closed-form answer — the
    completes-correctly-when-the-working-set-exceeds-memory contract
    every 100 TB groupBy in this repo leans on."""
    import json
    import os
    import subprocess
    import sys

    probe = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "tools", "spill_probe.py",
    )
    proc = subprocess.run(
        [sys.executable, probe], capture_output=True, text=True, timeout=300
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    out = json.loads(proc.stdout.strip().splitlines()[-1])
    n, n_keys = out["n"], out["n_keys"]
    assert out["rows"] == n_keys
    assert out["sum_c"] == n
    assert out["sum_v"] == n * (n - 1) / 2  # sum of 0..n-1, exact
    assert out["spilled_bytes"] > 0, out  # the spill path really ran


def test_plan_audit_flags_unguarded_constant_key_rank_window(spark):
    """VERDICT r15 #2: the raw SinglePartition count cannot tell a
    benign scalar reduce from a constant-key ranking funnel.  The
    unguarded_rank_funnels counter must (a) pass the shape Catalyst
    rewrites to TakeOrderedAndProject / WindowGroupLimit, (b) flag
    the SAME source shape when the rewrite is disabled (the pre-fix
    q123 plan), (c) pass it again once a manual partition-local
    guard bounds the exchange, and (d) never fire on a scalar
    aggregate's final reduce."""
    import pyspark.sql.functions as F
    from pyspark.sql import Window

    from gcf_corima_parquet_converter_spark.operators import scale as SC

    df = spark.range(200).withColumn("v", F.col("id") * 2)
    w = Window.partitionBy(F.lit(0)).orderBy(F.desc("v"), "id")

    # (a) rewrite on: TakeOrderedAndProject, no funnel
    ranked = df.withColumn("r", F.row_number().over(w)).where(
        F.col("r") <= 5
    )
    r = SC.plan_audit(ranked)
    assert r["unguarded_rank_funnels"] == 0

    old = spark.conf.get("spark.sql.optimizer.windowGroupLimitThreshold")
    spark.conf.set("spark.sql.optimizer.windowGroupLimitThreshold", "-1")
    try:
        # (b) rewrite off: the pre-fix funnel — flagged
        bad = df.withColumn("r", F.row_number().over(w)).where(
            F.col("r") <= 5
        )
        rb = SC.plan_audit(bad)
        assert rb["unguarded_rank_funnels"] == 1 and not rb["ok"]
        assert any("rank window" in f for f in rb["findings"])

        # (c) manual partition-local guard: bounded below — passes
        wl = Window.partitionBy(F.spark_partition_id()).orderBy(
            F.desc("v"), "id"
        )
        pre = (
            df.withColumn("l", F.row_number().over(wl))
            .where(F.col("l") <= 5)
            .drop("l")
        )
        good = pre.withColumn("r", F.row_number().over(w)).where(
            F.col("r") <= 5
        )
        rc = SC.plan_audit(good)
        assert rc["unguarded_rank_funnels"] == 0
    finally:
        spark.conf.set(
            "spark.sql.optimizer.windowGroupLimitThreshold", old
        )

    # (d) scalar reduce: SinglePartition but not a rank funnel
    rd = SC.plan_audit(df.agg(F.sum("v")))
    assert rd["unguarded_rank_funnels"] == 0
    assert rd["single_partition_exchanges"] >= 1
