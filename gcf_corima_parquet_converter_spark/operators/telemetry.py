"""Telemetry operators: the reference pipeline re-expressed as lazy,
composable DataFrame transforms.

Reference semantics (all /root/reference/main.py):
  * enrich: sanitize names (:87-96), relative->absolute ns time
    (:100-102), attach alias literal (:103)
  * RMS: 1-second tumbling buckets on absolute ns time (:146), keep only
    buckets whose observed span >= 0.999 s (:148-158), per-axis
    sqrt(mean(x^2)) (:161-171), rms_mod magnitude (:175), bucket start
    as int64 ns ``Time`` (:179), alias (:180)
  * sink: SNAPPY parquet in ``alias=/year=/month=/day=`` layout
    (:107-131, :186-204)

Spark-first design notes (not a port):
  * The reference makes three passes (groupby span -> isin filter ->
    groupby RMS).  Here it is ONE aggregation: min/max/avg(pow) in a
    single groupBy with the span predicate as a HAVING filter — one
    shuffle instead of two, and the RMS decomposes into built-in
    partial-aggregable expressions (sqrt(avg(pow))) so map-side combine
    reduces 26667:1 before the exchange.  At 100 TB that shuffle ships
    ~1/26667th of the scan.
  * Everything is lazy; nothing collects.  Group keys are
    (group_cols..., bucket) so multi-device batches parallelize by
    device instead of serializing one acquisition per process like the
    reference's 6-instance ceiling.
"""

from __future__ import annotations

from collections.abc import Sequence

import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame, Window

from ..schema.sanitize import sanitize_columns

NS_PER_S = 1_000_000_000
# an RMS bucket counts only if its samples span this much of the second
# (main.py:148-158)
MIN_SPAN_FRAC = 0.999
# the reference's output layout (main.py:107-131)
PARTITION_COLS = ("alias", "year", "month", "day")
MAX_RECORDS_PER_FILE = 50_000_000

__all__ = [
    "sanitize_columns",
    "to_absolute_time",
    "attach_literals",
    "tumbling_rms",
    "label_samples",
    "write_hive_partitioned",
]


def to_absolute_time(
    df: DataFrame, start_ns: int, time_col: str = "Time"
) -> DataFrame:
    """Relative float64 seconds -> absolute int64 epoch ns (P2/F4/F7).

    Parity caveat (SURVEY §2.8 F7): pandas ``.round()`` is
    round-half-even; Spark ``F.round`` is half-up.  ``F.rint`` matches
    numpy/pandas exactly, so use it.
    """
    return df.withColumn(
        time_col,
        (F.rint(F.col(time_col).cast("double") * NS_PER_S)).cast("long")
        + F.lit(int(start_ns)),
    )


def attach_literals(df: DataFrame, **values) -> DataFrame:
    """Attach constant metadata columns, e.g. alias (P3/J2)."""
    return df.withColumns({k: F.lit(v) for k, v in values.items()})


def _rms(col: str | Column) -> Column:
    """sqrt(mean(x^2)) as decomposable built-ins (A2): partial-agg friendly."""
    c = F.col(col) if isinstance(col, str) else col
    return F.sqrt(F.avg(c * c))


def tumbling_rms(
    df: DataFrame,
    value_cols: Sequence[str],
    group_cols: Sequence[str] = (),
    rename: dict[str, str] | None = None,
) -> DataFrame:
    """1-second tumbling-window RMS over complete windows only
    (W1+A1+J1+A2-A5) of int64 ns ``Time``.

    One groupBy produces span (completeness), per-column RMS and the
    bucket-start timestamp; the reference's isin() semi-join collapses
    into a HAVING predicate on the same aggregate.  Output columns:
    ``rms_<name>`` per value col (or ``rename`` mapping), ``rms_mod``,
    ``Time`` (bucket start, int64 ns), plus ``group_cols``.  The rows
    come out UNORDERED: a caller that needs them in time order sorts
    them itself (a global sort here would add a range-sampling job and
    a second shuffle for a handful of rows per second of input).
    """
    rename = rename or {}
    bucket = (F.col("Time") - (F.col("Time") % F.lit(NS_PER_S))) / F.lit(NS_PER_S)
    out_names = [rename.get(c, f"rms_{c}") for c in value_cols]
    aggs = [_rms(c).alias(n) for c, n in zip(value_cols, out_names)]
    aggs.append((F.max("Time") - F.min("Time")).alias("_span_ns"))
    mod = F.sqrt(sum((F.col(n) * F.col(n) for n in out_names), F.lit(0.0)))
    return (
        df.groupBy(*group_cols, bucket.cast("long").alias("_bucket"))
        .agg(*aggs)
        .where(F.col("_span_ns") >= F.lit(MIN_SPAN_FRAC * NS_PER_S))
        .select(
            *group_cols,
            *out_names,
            mod.alias("rms_mod"),
            (F.col("_bucket") * F.lit(NS_PER_S)).cast("long").alias("Time"),
        )
    )


def label_samples(
    samples: DataFrame,
    tags: DataFrame,
    time_col: str = "Time",
    start_col: str = "t_start",
    end_col: str = "t_end",
    extra_keys: Sequence[str] = (),
    how: str = "left",
) -> DataFrame:
    """Interval (tag) join: label each sample with the tag interval(s)
    containing it (J3; reference latent path main.py:78 ``labeled`` +
    HSD_DataToolkit_Pipeline.py:125-127 ``do_tag``).

    Tag tables are tiny (sw_tag0..15) — broadcast so the range predicate
    never shuffles the fact side.  With ``extra_keys`` (e.g. alias) the
    join is equi+range, which AQE turns into a broadcast hash join with
    a residual range filter.  Tag-side key columns are renamed before
    the join (referencing a column and dropping it from the join input
    is an analysis error) and dropped from the output, so samples keep
    exactly one copy of each key.
    """
    t = tags
    for k in extra_keys:
        t = t.withColumnRenamed(k, f"_tag_{k}")
    cond = (samples[time_col] >= t[start_col]) & (samples[time_col] < t[end_col])
    for k in extra_keys:
        cond = cond & (samples[k] == t[f"_tag_{k}"])
    return samples.join(F.broadcast(t), cond, how).drop(
        *[f"_tag_{k}" for k in extra_keys]
    )


def with_date_parts(df: DataFrame) -> DataFrame:
    """Derive alias-layout partition keys year/month/day from int64 ns
    ``Time`` (F6; reference derives them from start_time, main.py:127-129).
    """
    ts = F.timestamp_seconds(F.col("Time") / F.lit(NS_PER_S))
    return df.withColumns(
        {"year": F.year(ts), "month": F.month(ts), "day": F.dayofmonth(ts)}
    )


def write_hive_partitioned(df: DataFrame, root: str, stem: str) -> list[str]:
    """Hive-layout parquet sink (S7/S8):
    ``root/alias=…/year=…/month=…/day=…/<stem>-*.parquet``.  Returns
    the paths of the files it placed (empty when ``df`` has no rows).

    ``stem`` names one acquisition's files, like the reference's
    ``<name>_<ts>.parquet`` (main.py:121-131): writing a stem replaces
    that stem's files in each leaf it writes and leaves every other
    file there alone, so two acquisitions of one alias on one day both
    survive and re-processing one is idempotent.  The rows are staged
    under ``root/_stage_<stem>`` (the underscore keeps readers of
    ``root`` blind to it); then, per leaf, the stem's old files are
    deleted (or the missing leaf made) and the staged files renamed in.
    Writing no rows leaves ``root`` as it was: a root the write had to
    create is removed again.

    SNAPPY + dictionary encoding are Spark parquet defaults; rows are
    sorted by time *within* each partition so the int64 Time column
    delta-encodes well (the reference forces DELTA_BINARY_PACKED via
    pyarrow, main.py:112-119 — Spark picks encodings per column chunk;
    value-level output is identical).  ``sortWithinPartitions`` avoids a
    global sort: no extra shuffle beyond the partitionBy write.
    """
    out = df
    if not set(PARTITION_COLS) <= set(df.columns):
        out = with_date_parts(df)
    spark = df.sparkSession
    hpath = spark._jvm.org.apache.hadoop.fs.Path
    root_path = hpath(root)
    fs = root_path.getFileSystem(spark._jsc.hadoopConfiguration())
    root_existed = fs.exists(root_path)
    stage = hpath(root_path, f"_stage_{stem}")
    (
        out.sortWithinPartitions(*PARTITION_COLS, "Time")
        .write.mode("overwrite")
        .option("maxRecordsPerFile", MAX_RECORDS_PER_FILE)
        .partitionBy(*PARTITION_COLS)
        .parquet(stage.toString())
    )
    # walk the staged partition dirs level by level: one listStatus per
    # directory, where a recursive listFiles also fetches block locations
    leaves = [(stage, ())]
    for _ in PARTITION_COLS:
        leaves = [
            (st.getPath(), rel + (st.getPath().getName(),))
            for d, rel in leaves
            for st in fs.listStatus(d)
            if st.isDirectory()
        ]
    prefix = f"{stem}-"
    placed = []
    for src, rel in leaves:
        leaf = hpath(root_path, "/".join(rel))
        if fs.exists(leaf):
            for st in fs.listStatus(leaf):
                name = st.getPath().getName()
                if name.startswith(prefix) and name.endswith(".parquet"):
                    fs.delete(st.getPath(), False)
        else:
            fs.mkdirs(leaf)
        for st in fs.listStatus(src):
            name = st.getPath().getName()
            if name.endswith(".parquet"):
                dst = hpath(leaf, prefix + name)
                if not fs.rename(st.getPath(), dst):
                    raise IOError(f"write_hive_partitioned: rename to {dst} failed")
                placed.append(dst.toString())
    fs.delete(stage, True)
    if not placed and not root_existed and len(fs.listStatus(root_path)) == 0:
        fs.delete(root_path, False)
    return placed


def asof_join(
    left: DataFrame,
    right: DataFrame,
    on: str,
    right_cols: Sequence[str],
    by: Sequence[str] = (),
    direction: str = "backward",
    tolerance: int | None = None,
    asof_col: str = "_asof_time",
) -> DataFrame:
    """As-of join (J3 family): attach to each left row the latest right
    row at-or-before its ``on`` value (backward), or the earliest
    at-or-after (forward) — pandas ``merge_asof`` semantics, per ``by``
    group, plus an optional ``tolerance`` (same units as ``on``) beyond
    which the match is nulled.

    Implemented as ONE window pass over the unioned stream: right rows
    interleave with left rows in ``on`` order and their payload is
    carried by ``last(ignorenulls)`` — no per-row subquery, no range
    cross-join blowup; the cost is a single sort within ``by``
    partitions, which is how it stays linear at 100 TB (same pattern
    the reference's latent tag/as-of path needs, main.py:78).  Left
    rows with no match keep nulls (left-join semantics).
    """
    if direction not in ("backward", "forward"):
        raise ValueError(f"direction must be backward|forward, got {direction!r}")
    by = list(by)
    lhs = left.withColumn("_side", F.lit(1)).withColumns(
        {c: F.lit(None).cast(right.schema[c].dataType) for c in right_cols}
        | {asof_col: F.lit(None).cast(right.schema[on].dataType)}
    )
    rhs = right.select(
        *by, F.col(on), *right_cols, F.col(on).alias(asof_col), F.lit(0).alias("_side")
    )
    for c in left.columns:
        if c not in rhs.columns:
            rhs = rhs.withColumn(c, F.lit(None).cast(left.schema[c].dataType))
    both = lhs.unionByName(rhs.select(lhs.columns))
    # Trailing right-payload sort keys make duplicate (by, on) right
    # rows deterministic: the greatest payload tuple wins.  Without
    # them the window's tie order — hence the carried match — would
    # depend on partitioning (merge_asof's input-row-order tiebreak
    # has no distributed meaning).
    tiebreak = [F.col(c).asc() for c in right_cols]
    order = [F.col(on).asc(), F.col("_side").asc(), *tiebreak]
    if direction == "forward":
        order = [F.col(on).desc(), F.col("_side").asc(), *tiebreak]
    w = (
        Window.partitionBy(*by)
        .orderBy(*order)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    # Carry ONE struct per matched right row rather than per-column
    # last(ignorenulls): the struct is non-null for every right row even
    # when individual payload fields are null, so a matched right row
    # with a genuinely-NULL payload propagates that NULL instead of a
    # stale value from an earlier right row (pandas merge_asof parity).
    payload = F.when(
        F.col("_side") == 0,
        F.struct(*[F.col(c) for c in [*right_cols, asof_col]]),
    )
    carried = both.withColumn("_asof_payload", F.last(payload, ignorenulls=True).over(w))
    out = (
        carried.where(F.col("_side") == 1)
        .withColumns(
            {c: F.col("_asof_payload").getField(c) for c in [*right_cols, asof_col]}
        )
        .drop("_side", "_asof_payload")
    )
    if tolerance is not None:
        gap = (
            (F.col(on) - F.col(asof_col))
            if direction == "backward"
            else (F.col(asof_col) - F.col(on))
        )
        ok = F.col(asof_col).isNotNull() & (gap <= F.lit(tolerance))
        out = out.withColumns(
            {c: F.when(ok, F.col(c)) for c in [*right_cols, asof_col]}
        )
    return out


def downsample_minmax(
    df: DataFrame,
    bucket_ns: int,
    value_cols: list[str],
    time_col: str = "Time",
    key_cols: list[str] | None = None,
) -> DataFrame:
    """Display/archive downsampling: one row per ``bucket_ns`` time
    bucket with (min, max, first, last, avg, n) per value column — the
    envelope that preserves peaks a plain ``avg`` resample erases
    (the rendering/alerting contract for high-rate telemetry: a plot of
    min+max per pixel-bucket is visually identical to the raw series).

    One partial-aggregable groupBy on ``(keys, bucket)``; first/last
    are ``min_by/max_by`` on the timestamp — deterministic because a
    telemetry stream has at most one row per (keys, timestamp).  Time
    is int64 epoch-ns (the decode convention); ``bucket_start`` is the
    bucket's left edge in the same unit.
    """
    keys = [F.col(k) for k in (key_cols or [])]
    t = F.col(time_col)
    # integer bucket math, NOT floor(t/b)*b: epoch-ns values (~1.7e18)
    # exceed double's 53-bit mantissa, so the float round-trip would
    # misplace bucket edges; t - pmod(t, b) stays exact int64 (and
    # yields the left edge for negative times too)
    bucket = (t - F.pmod(t, F.lit(int(bucket_ns)))).alias("bucket_start")
    aggs = [F.count(F.lit(1)).alias("n")]
    for c in value_cols:
        aggs += [
            F.min(c).alias(f"{c}_min"),
            F.max(c).alias(f"{c}_max"),
            F.min_by(c, t).alias(f"{c}_first"),
            F.max_by(c, t).alias(f"{c}_last"),
            F.avg(c).alias(f"{c}_avg"),
        ]
    return (
        df.groupBy(*keys, bucket)
        .agg(*aggs)
        .orderBy(*(key_cols or []), "bucket_start")
    )


def interval_join_binned(
    points: DataFrame,
    intervals: DataFrame,
    bin_width: int,
    time_col: str = "Time",
    start_col: str = "t_start",
    end_col: str = "t_end",
    how: str = "inner",
    max_bins_per_interval: int | None = None,
) -> DataFrame:
    """Interval join for a NON-broadcastable interval side — the scale
    completion of :func:`label_samples` (J3): when the interval table
    is itself huge (per-device maintenance windows, billions of
    anomaly spans), a broadcast is impossible and the naive range
    predicate plans as a cartesian/nested-loop join.

    Standard bin-blocking rewrite (the DB range-join optimization
    Spark lacks natively): every point maps to ONE bin
    (``t - pmod(t, w)``); every interval EXPLODES to the bins it
    overlaps; the join is then a plain equi-join on the bin key with
    the exact range predicate as a residual filter.  Both sides
    shuffle hash-partitioned on the bin — no broadcast, no cartesian.

    ``bin_width`` tunes the blow-up: interval side replicates
    ~(len/bin_width + 1)x, points never replicate.  Pick it near the
    TYPICAL interval length; a pathological interval spanning the
    whole axis would explode into axis/bin_width rows —
    ``max_bins_per_interval`` (r12) turns that silent replication
    storm into a FAIL-FAST ``assert_true`` on the offending row (set
    it to ~10x your expected span/bin_width ratio; the error names
    the limit so the fix — clamp the span or widen the bin — is in
    the message).  Works on any int64 axis
    (epoch-ns, µs, ids) — pure integer arithmetic, no double
    round-trip.  Time semantics match ``label_samples``:
    ``start <= t < end``.

    ``how="left"`` costs exactly the same plan as inner: because each
    point lands in exactly ONE bin and an interval contributes at most
    one exploded row per bin, a single left OUTER equi-join on the bin
    with the range predicate as a residual join condition yields exact
    left semantics directly — a point with no qualifying interval in
    its bin is emitted once with null interval columns.  No second
    pass, no distinct, no anti-join (the r6 left path paid two extra
    wide shuffles re-deriving unmatched points; this is the narrow
    replacement).
    """
    w = int(bin_width)
    if w <= 0:
        raise ValueError("bin_width must be positive")
    if how not in ("inner", "left"):
        raise ValueError(f"unsupported how={how!r} (inner or left)")
    t = F.col(time_col)
    pts = points.withColumn("_bin", t - F.pmod(t, F.lit(w)))
    s, e = F.col(start_col), F.col(end_col)
    first_bin = s - F.pmod(s, F.lit(w))
    # last covered bin: intervals are half-open, so end-1 is the last
    # contained point; guard empty intervals (end <= start -> no bins)
    last_bin = (e - 1) - F.pmod(e - 1, F.lit(w))
    seq = F.sequence(first_bin, last_bin, F.lit(w))
    if max_bins_per_interval is not None:
        mb = int(max_bins_per_interval)
        if mb < 1:
            raise ValueError("max_bins_per_interval must be >= 1")
        n_bins = (last_bin - first_bin) / F.lit(w) + 1
        seq = F.when(
            F.assert_true(
                n_bins <= F.lit(mb),
                F.concat(
                    F.lit(
                        "interval_join_binned: an interval spans more than "
                        f"max_bins_per_interval={mb} bins of width {w} "
                        "(span "
                    ),
                    (e - s).cast("string"),
                    F.lit("); clamp the span upstream or widen bin_width"),
                ),
            ).isNull(),
            seq,
        )
    ivs = intervals.withColumn(
        "_bin",
        F.explode(
            F.when(e > s, seq).otherwise(F.array().cast("array<long>"))
        ),
    )
    cond = (
        (pts["_bin"] == ivs["_bin"])
        & (pts[time_col] >= ivs[start_col])
        & (pts[time_col] < ivs[end_col])
    )
    return pts.join(ivs, cond, how).drop(pts["_bin"]).drop(ivs["_bin"])


def windowed_fft(
    df: DataFrame,
    sample_rate: float,
    window_s: float = 1.0,
    value_col: str = "A_x_g",
    time_col: str = "Time",
    key_cols: Sequence[str] = ("comp_name",),
    top_k: int | None = None,
) -> DataFrame:
    """Per-window magnitude spectrum of a telemetry channel — the
    vibration-analysis step after RMS (machine-health monitoring reads
    bearing defects off spectral peaks, not energy totals).

    Spark has no FFT expression, so this is the legitimate-Python class
    (same contract as the media kernels): ``applyInPandas`` over
    ``(keys, window)`` groups — ONE shuffle keyed by (keys, bucket),
    each group a window's samples (bounded: window_s * sample_rate
    rows), numpy ``rfft`` inside.  Emits one row per frequency bin
    ``(keys…, window_start, freq_hz, magnitude)`` — or only the
    ``top_k`` highest-magnitude bins per window (the sparse form a
    100 TB fleet persists; DC excluded from ranking).  Magnitudes are
    amplitude-normalized (2/N, DC and Nyquist 1/N) so a unit sine reads
    ~1.0 at its bin.  ``time_col`` is int64 epoch-ns (the decode
    convention); windows shorter than 4 samples are dropped
    (spectrally meaningless).
    """
    import numpy as np

    keys = list(key_cols)
    w_ns = int(window_s * NS_PER_S)
    t = F.col(time_col)
    bucketed = df.select(
        *[F.col(k) for k in keys],
        (t - F.pmod(t, F.lit(w_ns))).alias("window_start"),
        t.alias("_t"),
        F.col(value_col).cast("double").alias("_v"),
    )
    dtypes = dict(df.dtypes)
    out_schema = ", ".join(
        [*(f"`{k}` {dtypes[k]}" for k in keys),
         "window_start long", "freq_hz double", "magnitude double"]
    )

    def _fft(key, pdf):
        import pandas as pd

        vals = pdf.sort_values("_t")["_v"].to_numpy(dtype=np.float64)
        n = len(vals)
        if n < 4:
            return pd.DataFrame(
                columns=[*keys, "window_start", "freq_hz", "magnitude"]
            )
        spec = np.abs(np.fft.rfft(vals))
        scale = np.full(len(spec), 2.0 / n)
        scale[0] = 1.0 / n
        if n % 2 == 0:
            scale[-1] = 1.0 / n
        mags = spec * scale
        freqs = np.fft.rfftfreq(n, d=1.0 / sample_rate)
        idx = np.arange(len(mags))
        if top_k is not None:
            nz = idx[1:]  # rank without DC
            order = nz[np.argsort(-mags[1:], kind="stable")][: int(top_k)]
            idx = np.sort(order)
        out = {k: key[i] for i, k in enumerate(keys)}
        out["window_start"] = key[len(keys)]
        return pd.DataFrame(
            {**{k: out[k] for k in keys},
             "window_start": out["window_start"],
             "freq_hz": freqs[idx],
             "magnitude": mags[idx]}
        )

    return bucketed.groupBy(*keys, "window_start").applyInPandas(
        _fft, out_schema
    )
