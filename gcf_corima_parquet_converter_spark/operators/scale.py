"""Scale toolkit: co-located (bucketed) joins and skew salting.

These are the two shuffle levers SURVEY §0/§4 calls out for the 100 TB
posture beyond what AQE does automatically:

* **Bucketing** — persist both sides of a repeated big⋈big join
  pre-hash-partitioned on the key (``bucketBy`` + ``saveAsTable``).
  Spark then plans the join with ZERO Exchange on either side: at
  100 TB that deletes the single most expensive stage of a fact-fact
  join, and the bucket files co-locate for every future join on the
  same key, not just this one.
* **Salting** — when one key dominates (power-law user_ids, null-heavy
  foreign keys), hash joins put the hot key on one reducer.  AQE's
  skew-join splits oversized partitions *of the probe side*; salting
  goes further by splitting the hot key itself: explode the build side
  k ways, scatter the probe side uniformly, join on (key, salt).
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession


def write_bucketed(
    df: DataFrame,
    table: str,
    bucket_cols: list[str],
    n_buckets: int = 32,
    sort_cols: list[str] | None = None,
    mode: str = "overwrite",
    path: str | None = None,
) -> None:
    """Persist ``df`` hash-bucketed (and optionally sorted) on the join
    key.  ``n_buckets`` should match across co-joined tables and be
    sized so one bucket of the BIGGER table fits an executor's memory
    at target scale (100 TB / 32 buckets is too coarse; think
    1024-4096 buckets there — the local default keeps tests light).
    ``path`` makes it an external table (bucketing metadata still lands
    in the catalog, which is what the join planner reads).
    """
    w = df.write.mode(mode).format("parquet").bucketBy(n_buckets, *bucket_cols)
    if sort_cols:
        w = w.sortBy(*sort_cols)
    if path:
        w = w.option("path", path)
    w.saveAsTable(table)


def bucketed_join(
    spark: SparkSession,
    left_table: str,
    right_table: str,
    on: list[str],
    how: str = "inner",
) -> DataFrame:
    """Join two tables previously written by :func:`write_bucketed` on
    the bucket key — planned with no Exchange on either side (assert
    via ``.explain``: the SortMergeJoin's children are scans, not
    shuffles)."""
    return spark.table(left_table).join(spark.table(right_table), on, how)


def salted_join(
    big: DataFrame,
    skewed: DataFrame,
    on: str,
    salt: int = 8,
    how: str = "inner",
) -> DataFrame:
    """Equi-join robust to heavy key skew in ``big``.

    The small/skew-target side ``skewed`` is replicated ``salt`` ways
    (explode of a literal range — ``salt``x its size, so keep it the
    smaller side); ``big`` scatters each row to one salt uniformly via
    a hash of monotonically_increasing_id.  The hot key's rows now
    spread over ``salt`` reducers instead of one.  Columns returned =
    big's columns + skewed's non-key columns (join key deduped).
    """
    salt_col = "_sg_salt"
    big_s = big.withColumn(
        salt_col, F.pmod(F.hash(F.monotonically_increasing_id()), F.lit(salt))
    )
    skew_s = skewed.withColumn(
        salt_col, F.explode(F.sequence(F.lit(0), F.lit(salt - 1)))
    )
    return big_s.join(skew_s, [on, salt_col], how).drop(salt_col)


def pinned_shuffle_partitions(spark: SparkSession) -> int | None:
    """``spark.sql.shuffle.partitions`` as an int, or None when the
    conf is non-numeric (e.g. Databricks "auto") — the single source of
    the fallback policy for every operator that pins an exchange
    against AQE's CPU-blind coalescer."""
    try:
        return int(spark.conf.get("spark.sql.shuffle.partitions", "200"))
    except (ValueError, TypeError):
        return None


def ensure_min_parallelism(df: DataFrame, *key_cols: str) -> DataFrame:
    """Spread a small scan across the cluster before CPU-heavy NARROW
    work (tokenize/shingle/hash/explode chains).

    Narrow compute inherits the SOURCE's parallelism — input splits.  A
    single small parquet file (or one gzip) exposes 1-2 splits, so a
    32-core host runs the whole corpus's per-row CPU on 2 cores
    (measured: the q26 shingle stage and the q60 contamination scan
    both serialized ~1 s this way).  When the scan exposes fewer than
    half the cluster's cores, insert one raw-row exchange pinned to
    ``spark.sql.shuffle.partitions``; pinning matters because AQE's
    coalescer is byte-proportional (advisory/minPartitionSize) and
    CPU-blind — it happily folds a tiny-but-expensive stage back to one
    task.  Any real at-scale scan has orders of magnitude more splits
    than cores, so the plan-time probe makes this a no-op there.

    Probe cost is tiered so the at-scale no-op stays cheap: input
    splits >= input FILES, so a leaf file count (read off the already-
    built FileIndex — no physical planning) settles the common at-scale
    case first; only a file-poor scan pays the precise
    ``df.rdd.getNumPartitions()`` probe, whose analysis+planning pass
    is then amortized against a query that was about to serialize on
    1-2 cores anyway.
    """
    spark = df.sparkSession
    target = spark.sparkContext.defaultParallelism
    try:
        if len(df.inputFiles()) * 2 >= target:
            return df
    except Exception:
        pass  # non-file source / connect-mode quirk: precise probe below
    try:
        if df.rdd.getNumPartitions() * 2 >= target:
            return df
    except Exception:
        return df  # plan-time probe only; never fail the query over it
    n_part = pinned_shuffle_partitions(spark)
    if n_part is None:
        return df
    if key_cols:
        return df.repartition(n_part, *key_cols)
    return df.repartition(n_part)


# ------------------------------------------------------------- Z-order


def zorder_key(
    df: DataFrame, cols: list[str], quantiles: dict[str, list[float]], bits: int = 8
) -> "F.Column":
    """The Morton (Z-order) key for ``cols`` as one JVM expression.

    Each column is quantile-binned into ``2^bits`` ranks against its
    precomputed boundary list (rank = how many boundaries <= value — an
    array ``filter``/``size`` fold over a literal array; rank-based,
    so skewed distributions still spread over all bins), then the
    per-column bin bits are interleaved LSB-first.  Everything is
    built-in expressions — no UDF, no shuffle; the key is just a
    projection.
    """
    n = len(cols)
    bins = []
    for c in cols:
        b = quantiles[c]
        if len(b) != (1 << bits) - 1:
            raise ValueError(
                f"need {(1 << bits) - 1} boundaries for {c!r}, got {len(b)}"
            )
        col = F.col(c).cast("double")
        rank = F.size(
            F.filter(F.array(*[F.lit(float(x)) for x in b]), lambda x: x <= col)
        )
        bins.append(rank.cast("long"))
    key = F.lit(0).cast("long")
    for bit in range(bits):
        for d, bn in enumerate(bins):
            key = key + F.shiftleft(
                F.shiftright(bn, bit).bitwiseAND(F.lit(1)), bit * n + d
            )
    return key


def zorder_by(
    df: DataFrame,
    cols: list[str],
    n_partitions: int,
    bits: int = 8,
    relative_error: float = 0.001,
    key_col: str = "_zorder",
    keep_key: bool = False,
) -> DataFrame:
    """Cluster ``df`` so that MULTIPLE columns prune well at once (the
    Delta/Iceberg ``OPTIMIZE ZORDER BY`` layout, composed from public
    Spark primitives).

    A sort on ``(a, b)`` gives perfect parquet min/max pruning on ``a``
    and none on ``b``; a Z-order sort tiles the (a, b) space so each
    output file covers a small RANGE OF BOTH — a filter on either
    column (or both) skips most row groups at scan time, which at
    100 TB is the difference between reading one machine's worth and
    the whole table.

    Three steps, all scale-shaped: (1) one ``approxQuantile`` pass
    computes per-column bin boundaries (driver gets ``2^bits`` doubles
    per column); (2) the Morton key is a pure-JVM projection
    (:func:`zorder_key`); (3) ``repartitionByRange`` on the key (the
    same range-exchange a global sort pays — there is no cheaper way to
    co-locate) + an in-partition sort.  Write the result with
    ``sinks.write_parquet``: one file per partition, row groups in
    Z-order.
    """
    # one pass for ALL columns (approxQuantile accepts a column list)
    per_col = df.stat.approxQuantile(
        list(cols),
        [i / (1 << bits) for i in range(1, 1 << bits)],
        relative_error,
    )
    qs = dict(zip(cols, per_col))
    keyed = df.withColumn(key_col, zorder_key(df, cols, qs, bits=bits))
    out = keyed.repartitionByRange(n_partitions, key_col).sortWithinPartitions(
        key_col
    )
    return out if keep_key else out.drop(key_col)


# --------------------------------------------------- file-skipping stats


def file_stats(df: DataFrame, cols: list[str]) -> DataFrame:
    """Per-input-file column statistics →
    ``(file, n_rows, <c>_min, <c>_max, <c>_nulls …)`` — the data-
    skipping artifact (Delta's per-file stats / Iceberg's manifest
    metrics) from public Spark primitives: group by
    ``input_file_name()`` and min/max/count each column.

    Persist next to the table after every write/compaction; planners
    (and :func:`prune_files`) then answer "which files can contain
    rows matching this predicate" from KBs of stats instead of opening
    footers — at 100 TB the stats table is ~1 row per file while the
    data is billions of rows, and the aggregation partial-combines
    map-side so only per-file partials shuffle.

    ``file`` is the path as the scan reports it (scheme-qualified);
    normalize with ``F.regexp_replace(file, '^file:', '')`` when
    comparing against os paths.
    """
    # the input_file_* expressions are nondeterministic, so they must be
    # PROJECTED to columns before any aggregate consumes them
    proj = df.select(
        F.input_file_name().alias("file"),
        (F.input_file_block_start() + F.input_file_block_length()).alias(
            "_block_end"
        ),
        *[F.col(c) for c in cols],
    )
    aggs = [
        F.count(F.lit(1)).alias("n_rows"),
        # file length = end of the furthest block this scan read — exact
        # for a whole-file scan, and free (no filesystem round-trip)
        F.max("_block_end").alias("n_bytes"),
    ]
    for c in cols:
        aggs += [
            F.min(c).alias(f"{c}_min"),
            F.max(c).alias(f"{c}_max"),
            F.sum(F.col(c).isNull().cast("long")).alias(f"{c}_nulls"),
        ]
    return proj.groupBy("file").agg(*aggs).orderBy("file")


def prune_files(
    stats: DataFrame, col: str, lo=None, hi=None, keep_nulls: bool = False
) -> DataFrame:
    """Select the files that CAN contain rows with ``col`` in
    ``[lo, hi]`` from a :func:`file_stats` artifact → the pruned file
    list (a driver-sized frame; feed the collected paths back to
    ``spark.read.parquet(*files)``).

    Skipping logic is the standard min/max interval overlap — sound
    (never skips a file that could match) but not exact (a kept file
    may still contain no matching rows; the scan's own predicate
    finishes the job).  ``keep_nulls`` retains files whose only
    candidate rows are nulls (for IS NULL predicates).
    """
    cond = F.lit(True)
    if lo is not None:
        cond = cond & (F.col(f"{col}_max") >= F.lit(lo))
    if hi is not None:
        cond = cond & (F.col(f"{col}_min") <= F.lit(hi))
    # an all-null file has null min/max: interval logic yields NULL ->
    # dropped unless keep_nulls
    if keep_nulls:
        cond = cond | (F.col(f"{col}_nulls") > 0)
    else:
        cond = F.coalesce(cond, F.lit(False))
    return stats.where(cond)


def compaction_plan(
    stats: DataFrame, target_bytes: int, small_file_bytes: int | None = None
) -> list[list[str]]:
    """Group small files into compaction bins of ~``target_bytes`` from
    a :func:`file_stats` artifact — the OPTIMIZE/rewrite planner's
    input (the small-files problem: a 100 TB table written by many
    jobs accretes millions of KB-scale files whose per-file open cost
    dominates scans).

    Driver-side first-fit-decreasing over the stats rows (one per file
    — driver-sized by construction); only files smaller than
    ``small_file_bytes`` (default ``target_bytes // 2``) are
    candidates, and singleton bins are dropped (rewriting one file
    buys nothing).  Returns ``[[file, ...], ...]``; feed each group to
    ``spark.read.parquet(*group).coalesce(1).write`` (or the S8
    compaction sink) to execute.
    """
    small = small_file_bytes if small_file_bytes is not None else target_bytes // 2
    rows = (
        stats.select("file", "n_bytes")
        .where(F.col("n_bytes") < small)
        .collect()
    )
    files = sorted(rows, key=lambda r: (-r["n_bytes"], r["file"]))
    bins: list[tuple[int, list[str]]] = []
    for r in files:
        for i, (used, group) in enumerate(bins):
            if used + r["n_bytes"] <= target_bytes:
                bins[i] = (used + r["n_bytes"], group + [r["file"]])
                break
        else:
            bins.append((r["n_bytes"], [r["file"]]))
    return [group for _, group in bins if len(group) > 1]


def key_skew_report(
    df: DataFrame, key: str, k: int = 10, max_items: int = 8192
) -> dict:
    """One-pass skew diagnostic for a join/agg key → the numbers that
    decide between a plain shuffle, AQE skew-join, and
    :func:`salted_join`:

    ``{n_rows, approx_n_keys, top: [(key, count)...], max_share,
    skew_factor, exact}`` where ``skew_factor`` = hottest-key count
    over the MEAN per-key count (1.0 = uniform; >> cores means the hot
    key serializes a reducer).  Built on the heavy-hitters sketch
    (``approx_top_k``) + HLL, so the scan shuffles only constant-size
    sketch state — safe to run on the full 100 TB key column.

    ``exact`` flags whether the top counts (hence ``max_share`` /
    ``skew_factor``) are trustworthy: the sketch counts exactly while
    distinct keys fit ``max_items``, but ABOVE that it can
    OVER-estimate the hot key — i.e. the diagnostic is least reliable
    in exactly the high-cardinality regime where the salted-join
    decision matters.  When ``exact`` is False treat ``skew_factor``
    as an upper bound (an inflated reading may recommend salting that
    a uniform key doesn't need; it will not hide real skew) and
    re-measure with a larger ``max_items`` before acting on it.
    ``approx_n_keys`` is itself an HLL estimate (±~2%), so the flag
    uses a small safety margin.
    """
    from .sketches import heavy_hitters

    agg = df.agg(
        F.count(F.lit(1)).alias("n"),
        F.approx_count_distinct(key).alias("nk"),
    ).first()
    n, nk = agg["n"], max(agg["nk"], 1)
    top = [
        (r["item"], r["est_count"])
        for r in heavy_hitters(df, [], key, k=k, max_items=max_items).collect()
    ]
    max_count = top[0][1] if top else 0
    mean = n / nk
    return {
        "n_rows": n,
        "approx_n_keys": nk,
        "top": top,
        "max_share": max_count / n if n else 0.0,
        "skew_factor": max_count / mean if mean else 0.0,
        # 5% HLL margin: only claim exactness when the estimated key
        # count sits comfortably inside the sketch's tracking capacity
        "exact": nk <= int(max_items * 0.95),
    }


def sized_write(
    df: DataFrame,
    path: str,
    target_bytes: int = 128 * 1024 * 1024,
    sample_rows: int = 2048,
    fmt: str = "parquet",
    mode: str = "overwrite",
    **options,
) -> dict:
    """Write ``df`` with per-file sizing — the WRITE-time twin of
    :func:`compaction_plan` (prevention instead of repair): estimate
    bytes/row from a ``sample_rows`` head written to a scratch file,
    derive ``maxRecordsPerFile = target_bytes / bytes_per_row``, and
    let every writer task roll files at that record count.  Unlike a
    blind ``coalesce(n)``, this caps file SIZE without collapsing
    write parallelism — each task still writes concurrently, it just
    splits its output at the target.

    The estimate inherits parquet's encoding on the real data (sample
    written in the target format, then deleted), so it tracks column
    compressibility rather than in-memory width.  Skewed row sizes
    make it an estimate, not a bound — tighten ``sample_rows`` or feed
    the written tree to :func:`file_stats` + :func:`compaction_plan`
    for repair when it matters.

    Returns ``{"bytes_per_row": float, "max_records_per_file": int}``.
    """
    spark = df.sparkSession
    scratch = path.rstrip("/") + ".sizing.tmp"
    head = df.limit(int(sample_rows)).coalesce(1)
    head.write.mode("overwrite").format(fmt).save(scratch)
    jvm = spark._jvm
    HPath = jvm.org.apache.hadoop.fs.Path
    fs = HPath(scratch).getFileSystem(spark._jsc.hadoopConfiguration())
    n_sampled = spark.read.format(fmt).load(scratch).count()
    size = fs.getContentSummary(HPath(scratch)).getLength()
    fs.delete(HPath(scratch), True)
    if n_sampled == 0:
        raise ValueError("sized_write: input frame is empty")
    bytes_per_row = size / n_sampled
    max_records = max(int(target_bytes / max(bytes_per_row, 1e-9)), 1)
    (
        df.write.mode(mode)
        .format(fmt)
        .option("maxRecordsPerFile", max_records)
        .options(**options)
        .save(path)
    )
    return {
        "bytes_per_row": round(bytes_per_row, 2),
        "max_records_per_file": max_records,
    }


def plan_audit(df: DataFrame, python_ok: bool = False) -> dict:
    """Static scale audit of a DataFrame's physical plan — the repo's
    plan-invariant gate (tests/test_plan_invariants.py) packaged as a
    library call, so users can vet THEIR queries against the same
    100 TB antipatterns before launching them:

    * ``cartesian_products`` — an unkeyed join anywhere is an outage
      at scale (row count multiplies).
    * ``broadcast_nested_loop_joins`` — a non-equi join that re-scans
      the broadcast side per row; fine for tiny sides, a trap when the
      "small" side grows.
    * ``row_python_stages`` (``BatchEvalPython``) — row-at-a-time
      Python; 10-100x slower than Arrow-batched, never acceptable.
    * ``arrow_python_stages`` — Arrow-batched Python (pandas_udf /
      InPandas / MapInArrow).  Legitimate for kernels with no JVM twin (codecs,
      FFT); flagged so the reader can check each one is deliberate.
      Suppressed from ``findings`` when ``python_ok=True``.
    * ``single_partition_exchanges`` — global funnels.  Benign only as
      the final reduce of a scalar aggregate (one row per upstream
      task); a global window/sort funnels FULL-WIDTH data through one
      reducer.
    * ``unguarded_rank_funnels`` — the shape the raw SinglePartition
      COUNT cannot grade: a ranking window (``row_number``/``rank``/
      ``ntile``) with a constant/empty partition key, fed by an
      ``Exchange SinglePartition`` whose subtree carries NO bounding
      operator.  A rank-then-``filter rank <= k`` source shape is
      normally rewritten by Catalyst (SPARK-37099) into
      ``TakeOrderedAndProject`` or a pre-exchange ``WindowGroupLimit
      ... Partial`` — a partition-local top-k BEFORE the funnel — so
      a surviving unbounded constant-key rank exchange means the
      rewrite did not fire (k above
      ``spark.sql.optimizer.windowGroupLimitThreshold``, the filter
      detached from the window, or ranks consumed unbounded): at
      100x that single reducer receives the full frame.  Bounding
      operators recognized below the exchange: ``WindowGroupLimit``,
      ``TakeOrderedAndProject``, ``GlobalLimit``/``LocalLimit``/
      ``CollectLimit``, or another ranking window (a manual
      partition-local guard, similarity.py's pattern).  Inputs
      bounded by CONTRACT rather than by plan (rrf_fuse over
      persisted top-k lists) are invisible statically — allowlist
      those call sites deliberately, the test_plan_invariants
      regime.
    * ``exchanges`` / ``broadcast_joins`` — counted for context (every
      exchange is a shuffle; is each one expected?).

    Returns counts plus a human-readable ``findings`` list; empty
    findings = the plan passes the same bar the graded corpus is held
    to.  Plans are analyzed, not executed (the plan is built via
    ``queryExecution().executedPlan()``; AQE may still improve it at
    runtime — this audits the static shape).
    """
    plan = df._jdf.queryExecution().executedPlan().toString()
    counts = {
        "cartesian_products": plan.count("CartesianProduct"),
        "broadcast_nested_loop_joins": plan.count("BroadcastNestedLoopJoin"),
        "row_python_stages": plan.count("BatchEvalPython"),
        "arrow_python_stages": (
            plan.count("ArrowEvalPython")
            + plan.count("InPandas")
            + plan.count("MapInArrow")
        ),
        "single_partition_exchanges": plan.count("Exchange SinglePartition"),
        "unguarded_rank_funnels": _count_unguarded_rank_funnels(plan),
        "exchanges": plan.count("Exchange"),
        "broadcast_joins": plan.count("BroadcastHashJoin"),
    }
    findings = []
    if counts["cartesian_products"]:
        findings.append(
            f"{counts['cartesian_products']} CartesianProduct join(s): "
            "unkeyed join — add an equi-key or bin-block the range "
            "predicate (see telemetry.interval_join_binned)"
        )
    if counts["broadcast_nested_loop_joins"]:
        findings.append(
            f"{counts['broadcast_nested_loop_joins']} BroadcastNestedLoop"
            "Join(s): non-equi join re-scanning the broadcast side per "
            "row — keep only if the broadcast side is provably tiny"
        )
    if counts["row_python_stages"]:
        findings.append(
            f"{counts['row_python_stages']} row-at-a-time Python stage(s) "
            "(BatchEvalPython): rewrite as built-in expressions or an "
            "Arrow-batched pandas_udf"
        )
    if counts["arrow_python_stages"] and not python_ok:
        findings.append(
            f"{counts['arrow_python_stages']} Arrow Python stage(s): "
            "legitimate only for kernels with no JVM twin — verify, "
            "then pass python_ok=True"
        )
    if counts["single_partition_exchanges"]:
        findings.append(
            f"{counts['single_partition_exchanges']} SinglePartition "
            "exchange(s): benign only as a scalar-aggregate final "
            "reduce; a global window/sort here is the single-reducer "
            "trap (see pipeline.global_running_sum)"
        )
    if counts["unguarded_rank_funnels"]:
        findings.append(
            f"{counts['unguarded_rank_funnels']} unguarded constant-key "
            "rank window(s): a ranking window over Exchange "
            "SinglePartition with no partition-local bound below — "
            "filter rank <= k adjacent to the window (so Catalyst's "
            "WindowGroupLimit/TakeOrdered rewrite fires), raise "
            "spark.sql.optimizer.windowGroupLimitThreshold above k, "
            "or pre-top-k per input partition "
            "(similarity.batch_cosine_topk's guard)"
        )
    counts["findings"] = findings
    counts["ok"] = not findings
    return counts


_RANK_FNS = ("row_number(", "rank(", "ntile(")
_RANK_BOUNDS = (
    "WindowGroupLimit",
    "TakeOrderedAndProject",
    "GlobalLimit",
    "LocalLimit",
    "CollectLimit",
)
_PASSTHROUGH_OPS = ("Sort ", "Project ", "Filter ", "InputAdapter",
                    "WholeStageCodegen", "AQEShuffleRead",
                    "ShuffleQueryStage", "ColumnarToRow", "Exchange ")


def _plan_nodes(plan: str) -> list[tuple[int, str]]:
    """Parse an ``executedPlan().toString()`` into (depth, op-text)
    nodes.  Depth derives from the ``+-``/``:-`` marker column (3
    chars per level); the op text strips the codegen ``*(n)``
    prefix."""
    import re

    nodes = []
    for line in plan.splitlines():
        m = re.search(r"[+:]- ", line)
        if m is None:
            if line.strip():
                nodes.append((0, re.sub(r"^\*\(\d+\) ", "", line.strip())))
            continue
        depth = m.start() // 3 + 1
        text = re.sub(r"^\*\(\d+\) ", "", line[m.end():].strip())
        nodes.append((depth, text))
    return nodes


def _count_unguarded_rank_funnels(plan: str) -> int:
    """Count ranking windows feeding an unbounded ``Exchange
    SinglePartition`` — the constant-key window funnel the raw
    SinglePartition count cannot distinguish from a benign scalar
    reduce (see :func:`plan_audit`).  For each SinglePartition
    exchange: the nearest non-passthrough ANCESTOR must be a Window
    computing a rank function (else the funnel is graded by the
    scalar-reduce rule, not this one), and the exchange's DESCENDANT
    subtree must carry no bounding operator (WindowGroupLimit /
    TakeOrdered / Limit / another rank window)."""
    nodes = _plan_nodes(plan)
    n_flagged = 0
    for i, (depth, text) in enumerate(nodes):
        if not text.startswith("Exchange SinglePartition"):
            continue
        # ancestor walk: nearest shallower node, skipping pass-through
        # operators that preserve row count/width
        anc = None
        want = depth - 1
        for j in range(i - 1, -1, -1):
            d, t = nodes[j]
            if d == want:
                if t.startswith(_PASSTHROUGH_OPS):
                    want -= 1
                    continue
                anc = t
                break
            if d < want:
                want = d - 1
        if anc is None or anc.startswith("WindowGroupLimit"):
            # a WindowGroupLimit(Final) directly above IS the bound
            continue
        if not (
            anc.startswith("Window")
            and any(fn in anc for fn in _RANK_FNS)
        ):
            continue
        bounded = False
        for j in range(i + 1, len(nodes)):
            d, t = nodes[j]
            if d <= depth:
                break
            if t.startswith(_RANK_BOUNDS) or (
                t.startswith("Window")
                and any(fn in t for fn in _RANK_FNS)
            ):
                bounded = True
                break
        if not bounded:
            n_flagged += 1
    return n_flagged

