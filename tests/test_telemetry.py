"""tumbling_rms parity with the reference's pandas semantics
(main.py:146-181) on synthetic sensor-like data."""

import numpy as np
import pandas as pd
import pyspark.sql.functions as F
import pytest

from gcf_corima_parquet_converter_spark.operators import telemetry as TM

# Hz — smaller than 26667 for test speed, same semantics.  Must be
# >= 1 kHz: the completeness gate needs observed span >= 0.999 s, and a
# bucket's span is (n-1)/odr.
ODR = 2000.0
START_NS = 1_752_250_937_000_000_000  # 2025-07-11T16:22:17Z


@pytest.fixture(scope="module")
def sensor_pdf():
    rng = np.random.default_rng(7)
    n = int(5.5 * ODR)  # 5.5 s -> first/last buckets partial
    t_rel = np.arange(n) / ODR
    pdf = pd.DataFrame(
        {
            "Time": (np.rint(t_rel * 1e9)).astype("int64") + START_NS,
            "A_x_g": np.sin(2 * np.pi * 5 * t_rel) + rng.normal(0, 0.1, n),
            "A_y_g": np.cos(2 * np.pi * 5 * t_rel) + rng.normal(0, 0.1, n),
            "A_z_g": rng.normal(1, 0.05, n),
        }
    )
    return pdf


def reference_rms(df: pd.DataFrame) -> pd.DataFrame:
    """The reference pipeline verbatim in pandas (main.py:146-181)."""
    df = df.copy()
    df["bucket_s"] = df["Time"] // 1_000_000_000
    groups = df.groupby("bucket_s")
    full = [
        b
        for b, g in groups
        if (g["Time"].max() - g["Time"].min()) >= 0.999 * 1_000_000_000
    ]
    df_full = df[df["bucket_s"].isin(full)]
    rms = (
        df_full.groupby("bucket_s")[["A_x_g", "A_y_g", "A_z_g"]]
        .agg(lambda a: np.sqrt((a**2).mean()))
        .reset_index()
        .rename(columns={"A_x_g": "rms_x", "A_y_g": "rms_y", "A_z_g": "rms_z"})
    )
    rms["rms_mod"] = np.sqrt((rms[["rms_x", "rms_y", "rms_z"]] ** 2).sum(axis=1))
    rms["Time"] = (rms["bucket_s"] * 1_000_000_000).astype("int64")
    return rms.drop(columns=["bucket_s"])


def test_rms_matches_reference_semantics(spark, sensor_pdf):
    sdf = spark.createDataFrame(sensor_pdf)
    got = (
        TM.tumbling_rms(
            sdf,
            value_cols=["A_x_g", "A_y_g", "A_z_g"],
            rename={"A_x_g": "rms_x", "A_y_g": "rms_y", "A_z_g": "rms_z"},
        )
        .toPandas()
        .sort_values("Time")
        .reset_index(drop=True)
    )
    exp = reference_rms(sensor_pdf).sort_values("Time").reset_index(drop=True)
    assert list(got["Time"]) == list(exp["Time"])
    for c in ["rms_x", "rms_y", "rms_z", "rms_mod"]:
        np.testing.assert_allclose(got[c], exp[c], rtol=1e-12)
    # start is second-aligned: 5.5 s -> 5 full buckets, trailing 0.5 s dropped
    assert len(got) == 5


def test_rms_empty_when_no_full_bucket(spark, sensor_pdf):
    short = sensor_pdf.head(50)  # 0.5 s of data
    sdf = spark.createDataFrame(short)
    got = TM.tumbling_rms(sdf, value_cols=["A_x_g"]).count()
    assert got == 0


def test_rms_exact_boundary_bucket(spark):
    # span exactly 0.999 s must be kept (>= in reference, main.py:152)
    pdf = pd.DataFrame(
        {
            "Time": [1_000_000_000, 1_999_000_000],
            "v": [3.0, 4.0],
        }
    )
    got = TM.tumbling_rms(spark.createDataFrame(pdf), value_cols=["v"]).toPandas()
    assert len(got) == 1
    np.testing.assert_allclose(got["rms_v"][0], np.sqrt((9 + 16) / 2))


def test_to_absolute_time_rint_parity(spark):
    # pandas .round() is banker's; F.rint matches it (SURVEY §2.8 F7)
    rel = pd.DataFrame({"Time": [0.0000000005, 1.5e-9, 2.5e-9]})
    got = (
        TM.to_absolute_time(spark.createDataFrame(rel), start_ns=100)
        .toPandas()["Time"]
        .tolist()
    )
    exp = ((rel["Time"] * 1e9).round().astype("int64") + 100).tolist()
    assert got == exp


def test_label_samples_interval_join(spark):
    samples = spark.createDataFrame(
        pd.DataFrame({"Time": [10, 20, 30, 40], "v": [1.0, 2.0, 3.0, 4.0]})
    )
    tags = spark.createDataFrame(
        pd.DataFrame({"label": ["a", "b"], "t_start": [15, 35], "t_end": [25, 45]})
    )
    got = (
        TM.label_samples(samples, tags)
        .orderBy("Time")
        .select("Time", "label")
        .collect()
    )
    assert [(r["Time"], r["label"]) for r in got] == [
        (10, None),
        (20, "a"),
        (30, None),
        (40, "b"),
    ]


def test_hive_partitioned_write(spark, tmp_path, sensor_pdf):
    sdf = TM.attach_literals(spark.createDataFrame(sensor_pdf), alias="LAF1")
    root = str(tmp_path / "data_parquet")
    TM.write_hive_partitioned(sdf, root, "LAF1_20250711_162217")
    # reference layout assertion (test-conversion.yml:97-118)
    import glob

    files = glob.glob(f"{root}/alias=LAF1/year=2025/month=7/day=11/*.parquet")
    assert files, "expected alias/year/month/day layout"
    back = spark.read.parquet(root)
    assert back.count() == len(sensor_pdf)
    assert dict(back.dtypes)["Time"] == "bigint"


def test_hive_write_preserves_other_partitions(spark, tmp_path):
    """Writing acquisition B must not clobber acquisition A's partitions
    (dynamic partition overwrite), and re-writing A must be idempotent."""
    import pandas as pd

    root = str(tmp_path / "multi")

    def frame(alias, day):
        t0 = int(pd.Timestamp(f"2025-07-{day:02d}", tz="UTC").value)
        return spark.createDataFrame(
            pd.DataFrame({"Time": [t0, t0 + 1], "v": [1.0, 2.0], "alias": alias})
        )

    TM.write_hive_partitioned(frame("A", 1), root, "A")
    TM.write_hive_partitioned(frame("B", 2), root, "B")
    got = spark.read.parquet(root)
    assert {r.alias for r in got.select("alias").distinct().collect()} == {"A", "B"}
    # idempotent re-write of A: same total rows, A not duplicated
    TM.write_hive_partitioned(frame("A", 1), root, "A")
    assert spark.read.parquet(root).count() == 4


def test_hive_write_lands_new_leaves_beside_another_stem(spark, tmp_path):
    """A frame spanning two days of alias A and two of a new alias B,
    where A's first day already holds another stem's file: that leaf
    gets the new files renamed in beside it and the missing leaves are
    made.  Every leaf lands, the other stem's file survives, the
    returned paths are exactly the placed files and no stage is left."""
    import glob
    import os

    root = str(tmp_path / "two_days")

    def frame(rows):
        return spark.createDataFrame(
            pd.DataFrame(
                {
                    "Time": [
                        int(pd.Timestamp(f"2025-07-{d:02d} 12:00", tz="UTC").value)
                        for _, d in rows
                    ],
                    "v": [float(d) for _, d in rows],
                    "alias": [a for a, _ in rows],
                }
            )
        )

    TM.write_hive_partitioned(frame([("A", 1)]), root, "other")
    placed = TM.write_hive_partitioned(
        frame([("A", 1), ("A", 2), ("B", 1), ("B", 2)]), root, "mine"
    )

    def names(alias, day):
        leaf = f"{root}/alias={alias}/year=2025/month=7/day={day}"
        return sorted(os.path.basename(f) for f in glob.glob(f"{leaf}/*.parquet"))

    assert [n.split("-")[0] for n in names("A", 1)] == ["mine", "other"]
    for alias, day in (("A", 2), ("B", 1), ("B", 2)):
        assert [n.split("-")[0] for n in names(alias, day)] == ["mine"]
    assert sorted(placed) == sorted(glob.glob(f"{root}/*/*/*/*/mine-*.parquet"))
    assert not glob.glob(f"{root}/_stage_*")
    back = spark.read.parquet(root)
    assert back.count() == 5
    assert sorted((r.alias, r.day) for r in back.collect()) == [
        ("A", 1), ("A", 1), ("A", 2), ("B", 1), ("B", 2)
    ]


def test_hive_write_of_no_rows_leaves_root_alone(spark, tmp_path):
    """An empty frame places no file and returns no path; a root the
    write had to create is gone again, an existing one keeps its files."""
    import os

    sdf = spark.createDataFrame(
        pd.DataFrame({"Time": [START_NS], "v": [1.0], "alias": ["A"]})
    )
    fresh = str(tmp_path / "fresh")
    assert TM.write_hive_partitioned(sdf.limit(0), fresh, "s") == []
    assert not os.path.exists(fresh)
    kept = str(tmp_path / "kept")
    first = TM.write_hive_partitioned(sdf, kept, "s")
    assert len(first) == 1
    assert TM.write_hive_partitioned(sdf.limit(0), kept, "t") == []
    assert [os.path.exists(p) for p in first] == [True]
    assert os.listdir(kept) == ["alias=A"]


def test_asof_join_matches_pandas_merge_asof(spark):
    """Backward/forward/tolerance parity with pandas merge_asof on a
    two-key dataset with unmatched rows on both ends."""
    import numpy as np
    import pandas as pd

    rng = np.random.default_rng(7)
    left = pd.DataFrame(
        {
            "k": rng.integers(0, 3, 60),
            "t": np.sort(rng.integers(0, 1000, 60)),
            "lv": np.arange(60),
        }
    )
    right = pd.DataFrame(
        {
            "k": rng.integers(0, 3, 25),
            # unique on-values: merge_asof breaks (k,t) ties by input
            # row order, which has no distributed analogue (asof_join
            # uses a greatest-payload tiebreak instead)
            "t": np.sort(rng.choice(1000, 25, replace=False)),
            "rv": np.arange(25) * 10,
        }
    )
    L, R = spark.createDataFrame(left), spark.createDataFrame(right)

    for direction in ("backward", "forward"):
        for tol in (None, 100):
            exp = pd.merge_asof(
                left.sort_values("t", kind="mergesort"),
                right.sort_values("t", kind="mergesort"),
                on="t", by="k", direction=direction,
                tolerance=tol,
            ).sort_values("lv")
            got = (
                TM.asof_join(
                    L, R, on="t", right_cols=["rv"], by=["k"],
                    direction=direction, tolerance=tol,
                )
                .orderBy("lv")
                .toPandas()
            )
            assert len(got) == len(exp)
            g = got["rv"].astype("float64").to_numpy()
            e = exp["rv"].astype("float64").to_numpy()
            same = (g == e) | (np.isnan(g) & np.isnan(e))
            assert same.all(), (direction, tol, got[~same], exp[~same])


def test_asof_join_null_payload_propagates(spark):
    """A matched right row whose payload column is genuinely NULL must
    yield NULL — not a stale payload from an earlier right row (pandas
    merge_asof parity; round-2 regression for the per-column
    last(ignorenulls) carry bug)."""
    import gcf_corima_parquet_converter_spark.operators.telemetry as TM

    L = spark.createDataFrame([(1, 10, 0), (1, 25, 1)], "k long, t long, lv long")
    R = spark.createDataFrame(
        [(1, 5, 100.0), (1, 20, None)], "k long, t long, rv double"
    )
    got = {
        r["lv"]: (r["rv"], r["_asof_time"])
        for r in TM.asof_join(
            L, R, on="t", right_cols=["rv"], by=["k"], direction="backward"
        ).collect()
    }
    assert got[0] == (100.0, 5)  # matched the t=5 row
    # t=25 matches the t=20 right row, whose rv is genuinely NULL:
    assert got[1] == (None, 20), got[1]


def test_downsample_minmax_envelope(spark):
    import pyspark.sql.functions as F

    from gcf_corima_parquet_converter_spark.operators import telemetry as tm

    # 2 series x 3 buckets of 10 samples; values crafted so min/max/
    # first/last/avg are all distinct and hand-checkable
    rows = []
    for k in ("a", "b"):
        for i in range(30):
            sign = 1 if k == "a" else -1
            rows.append((k, i * 100, float(sign * (i % 10) + i // 10)))
    df = spark.createDataFrame(rows, "comp string, Time long, v double")
    out = {
        (r["comp"], r["bucket_start"]): r
        for r in tm.downsample_minmax(
            df.repartition(7), 1000, ["v"], key_cols=["comp"]
        ).collect()
    }
    assert len(out) == 6
    r = out[("a", 0)]  # samples: v = 0..9 at Time 0..900
    assert (r["n"], r["v_min"], r["v_max"]) == (10, 0.0, 9.0)
    assert (r["v_first"], r["v_last"]) == (0.0, 9.0)
    assert r["v_avg"] == pytest.approx(4.5)
    r = out[("b", 1000)]  # v = -(i%10) + 1 for i 10..19
    assert (r["v_min"], r["v_max"]) == (-8.0, 1.0)
    assert (r["v_first"], r["v_last"]) == (1.0, -8.0)

    # epoch-ns scale: bucket edges stay exact (the double-division trap)
    ns = 1_700_000_000_000_000_000
    big = spark.createDataFrame(
        [(ns + i * 1_000_000, float(i)) for i in range(10)],
        "Time long, v double",
    )
    b = tm.downsample_minmax(big, 5_000_000, ["v"]).collect()
    starts = sorted(r["bucket_start"] for r in b)
    assert starts == [ns, ns + 5_000_000]
    assert all((s - ns) % 5_000_000 == 0 for s in starts)


def test_interval_join_binned_matches_broadcast_path(spark):
    import random

    import pyspark.sql.functions as F

    from gcf_corima_parquet_converter_spark.operators import telemetry as tm

    rng = random.Random(5)
    points = spark.createDataFrame(
        [(i, rng.randrange(0, 10_000)) for i in range(2000)],
        "pid long, Time long",
    )
    ivals = spark.createDataFrame(
        [
            (j, s := rng.randrange(0, 9_500), s + rng.randrange(1, 800),
             f"tag{j}")
            for j in range(300)
        ],
        "iv long, t_start long, t_end long, label string",
    )
    # empty interval: never matches, never explodes
    ivals = ivals.unionByName(
        spark.createDataFrame([(999, 50, 50, "empty")], ivals.schema)
    )

    def key(rows):
        return sorted(
            (r["pid"], r["Time"], r["iv"], r["label"]) for r in rows
        )

    want = key(
        tm.label_samples(points, ivals, how="inner").collect()
    )
    got = key(
        TM.interval_join_binned(points, ivals, bin_width=512).collect()
    )
    assert got == want and len(got) > 0

    # left semantics: unmatched points survive with null interval cols
    wl = tm.label_samples(points, ivals, how="left")
    gl = TM.interval_join_binned(points, ivals, bin_width=512, how="left")
    assert gl.count() == wl.count()
    assert (
        gl.where(F.col("iv").isNull()).count()
        == wl.where(F.col("iv").isNull()).count()
    )

    # scale shape: equi-join on the bin, never cartesian/nested-loop
    plan = (
        TM.interval_join_binned(points, ivals, bin_width=512)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_windowed_fft_finds_planted_tones(spark):
    """A 50 Hz + 120 Hz mixture sampled at 1 kHz: each window's
    spectrum peaks at exactly those bins with amplitude-correct
    magnitudes (2/N normalization), and top_k keeps just the peaks."""
    import numpy as np

    from gcf_corima_parquet_converter_spark.operators import telemetry as tm

    fs, secs = 1000.0, 3
    n = int(fs * secs)
    t = np.arange(n) / fs
    sig = 1.0 * np.sin(2 * np.pi * 50 * t) + 0.4 * np.sin(2 * np.pi * 120 * t)
    base_ns = 1_700_000_000_000_000_000
    rows = [
        ("m1", base_ns + int(i * 1e9 / fs), float(sig[i])) for i in range(n)
    ]
    df = spark.createDataFrame(rows, "comp_name string, Time long, A_x_g double")

    out = tm.windowed_fft(df.repartition(8), sample_rate=fs, window_s=1.0)
    import collections

    by_win = collections.defaultdict(dict)
    for r in out.collect():
        by_win[r["window_start"]][r["freq_hz"]] = r["magnitude"]
    assert len(by_win) == secs
    for w, spec in by_win.items():
        assert len(spec) == 501  # rfft bins of a 1000-sample window
        assert spec[50.0] == pytest.approx(1.0, abs=1e-9)
        assert spec[120.0] == pytest.approx(0.4, abs=1e-9)
        # everything else is numerically zero for exact-bin tones
        rest = [m for f, m in spec.items() if f not in (50.0, 120.0)]
        assert max(rest) < 1e-9

    topk = tm.windowed_fft(df, sample_rate=fs, window_s=1.0, top_k=2)
    got = collections.defaultdict(set)
    for r in topk.collect():
        got[r["window_start"]].add(r["freq_hz"])
    assert all(v == {50.0, 120.0} for v in got.values())

    # runt windows (fewer than 4 samples) are dropped, not crashed
    tiny = spark.createDataFrame(rows[:3], "comp_name string, Time long, A_x_g double")
    assert tm.windowed_fft(tiny, sample_rate=fs).count() == 0


def test_interval_join_binned_left_with_null_columns(spark):
    """A matched point carrying a NULL extra column must appear exactly
    once in the left join (the anti-join is null-safe)."""
    import pyspark.sql.functions as F

    from gcf_corima_parquet_converter_spark.operators import telemetry as tm

    points = spark.createDataFrame(
        [(1, 10, None), (2, 500, "x")],
        "pid long, Time long, extra string",
    )
    ivals = spark.createDataFrame(
        [(7, 0, 100, "tag")], "iv long, t_start long, t_end long, label string"
    )
    out = TM.interval_join_binned(points, ivals, bin_width=64, how="left")
    rows = out.collect()
    assert len(rows) == 2  # no duplicate of the null-bearing matched row
    by_pid = {r["pid"]: r for r in rows}
    assert by_pid[1]["iv"] == 7 and by_pid[1]["extra"] is None
    assert by_pid[2]["iv"] is None and by_pid[2]["extra"] == "x"


def test_interval_join_binned_left_is_single_join_plan(spark):
    """The left path must cost the same plan shape as inner: one outer
    equi-join with the range residual — no second pass over points, no
    distinct aggregate, no anti-join, no extra exchanges (the r6 left
    path paid two extra wide shuffles; pinned narrow here)."""
    from gcf_corima_parquet_converter_spark.operators import telemetry as tm

    points = spark.createDataFrame(
        [(i, i * 37 % 5000) for i in range(500)], "pid long, Time long"
    )
    ivals = spark.createDataFrame(
        [(j, j * 100, j * 100 + 80) for j in range(40)],
        "iv long, t_start long, t_end long",
    )

    def plan(how):
        df = TM.interval_join_binned(points, ivals, bin_width=256, how=how)
        return df._jdf.queryExecution().executedPlan().toString()

    pl, pi = plan("left"), plan("inner")
    assert pl.count("Join") == 1 and "LeftOuter" in pl
    assert "LeftAnti" not in pl and "HashAggregate" not in pl
    assert pl.count("Exchange") == pi.count("Exchange")


def test_interval_join_binned_null_time_point(spark):
    """A point with a NULL time has a NULL bin: inner drops it, left
    emits it once with null interval columns (documented semantics —
    pinned so the single-join rewrite never regresses it)."""
    from gcf_corima_parquet_converter_spark.operators import telemetry as tm

    points = spark.createDataFrame(
        [(1, 10), (2, None)], "pid long, Time long"
    )
    ivals = spark.createDataFrame(
        [(7, 0, 100)], "iv long, t_start long, t_end long"
    )
    inner = TM.interval_join_binned(points, ivals, bin_width=64)
    assert [r["pid"] for r in inner.collect()] == [1]
    left = {r["pid"]: r["iv"]
            for r in TM.interval_join_binned(
                points, ivals, bin_width=64, how="left").collect()}
    assert left == {1: 7, 2: None}


def test_interval_join_binned_max_bins_guard(spark):
    """r12: a pathological interval spanning the whole axis fails fast
    with the named limit instead of silently exploding to axis/width
    bins; well-behaved intervals pass unchanged under the guard."""
    pts = spark.range(100).select(
        F.col("id").alias("pid"), (F.col("id") * 10).alias("t")
    )
    ok_ivs = spark.createDataFrame(
        [(1, 100, 150), (2, 300, 420)], "iv_id long, t_start long, t_end long"
    )
    guarded = TM.interval_join_binned(
        pts, ok_ivs, bin_width=100, time_col="t", max_bins_per_interval=10
    )
    plain = TM.interval_join_binned(pts, ok_ivs, bin_width=100, time_col="t")
    assert sorted(map(tuple, guarded.collect())) == sorted(
        map(tuple, plain.collect())
    )
    bad = ok_ivs.unionByName(
        spark.createDataFrame(
            [(3, 0, 10_000_000)], "iv_id long, t_start long, t_end long"
        )
    )
    with pytest.raises(Exception, match="max_bins_per_interval"):
        TM.interval_join_binned(
            pts, bad, bin_width=100, time_col="t", max_bins_per_interval=10
        ).collect()
