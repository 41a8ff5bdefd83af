"""Mergeable sketch artifacts for incremental / cross-shard analytics.

At 100 TB you cannot re-scan history to answer "how many distinct users so
far" — the scalable pattern is: compute a constant-size *mergeable* sketch
per shard/day/partition at ingest time, persist the sketch bytes next to the
data, and answer global (or sliding-window) questions by merging sketches,
never re-reading rows.  This module is the scale-out completion of the
reference's approx-distinct surface (SURVEY §2.4 A6, graded q37): A6 gives a
one-shot estimate inside a single query; these operators make the estimate a
*materializable artifact* that composes across time and shards.

Three tiers, all pure JVM built-in aggregates (partial-aggregable,
codegen'd, no Python in the hot path):

* HLL (Datasketches HllSketch via ``hll_sketch_agg`` / ``hll_union_agg``,
  SPARK-16484 family) — approximate, ~1.04/sqrt(2^lg_k) relative error,
  fixed ≤ 2^lg_k bytes per group regardless of cardinality.  Works for any
  input type.  Merging shard sketches is *lossless* relative to sketching
  the full corpus in one pass: the merged estimate equals the global-sketch
  estimate bit-for-bit (test-pinned).
* bitmap (``bitmap_construct_agg`` / ``bitmap_or_agg``) — EXACT, for dense
  int64 id spaces (user ids, doc ids; any sign — bucket numbering covers
  negatives; nulls are ignored, matching COUNT(DISTINCT)).  Each group holds one
  4 KB bitmap per 32768-id bucket actually seen; merge is bitwise OR, count
  is a popcount.  Unlike ``countDistinct`` this never re-shuffles raw ids on
  merge — only bitmaps move — and it is the only exact distinct that
  composes incrementally (day N+1 = OR one new sketch, not rescan N days).
* histogram (``width_bucket`` + count) — mergeable fixed-grid QUANTILES:
  <= n_bins+2 rows per group, merge = per-bucket sum, percentile error
  bounded by one bin width; under/overflow buckets keep mass when a later
  shard exceeds the planned range.

Layout contract: a "sketch table" is ``group keys… , _bucket?, sketch
binary`` — written with any sink (parquet keeps binary columns intact) and
merged later by ``hll_merge`` / ``bitmap_merge`` on the union of any number
of such tables.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame

__all__ = [
    "hll_shard_sketch",
    "hll_merge",
    "bitmap_shard_sketch",
    "bitmap_merge",
    "bitmap_distinct",
    "histogram_shard_sketch",
    "histogram_merge",
    "histogram_percentiles",
    "topk_shard_sketch",
    "topk_merge",
    "topk_estimate",
    "heavy_hitters",
]

_HLL_COL = "hll_sketch"
_BMP_COL = "bitmap"
_BUCKET_COL = "_bucket"


def _cols(keys: list[str]) -> list[Column]:
    return [F.col(k) for k in keys]


# ------------------------------------------------------------------ HLL


def hll_shard_sketch(
    df: DataFrame, keys: list[str], value: str, lg_k: int = 12
) -> DataFrame:
    """One HLL sketch of ``value`` per ``keys`` group → ``(keys…, hll_sketch)``.

    Run this per shard/day at ingest and persist the result; the sketch
    column is ≤ 2^lg_k bytes however many distinct values the group holds.
    One shuffle on ``keys`` with map-side partial sketches — raw values
    never cross the wire, only partially-built sketches do.
    """
    return df.groupBy(*_cols(keys)).agg(
        F.hll_sketch_agg(value, F.lit(lg_k)).alias(_HLL_COL)
    )


def hll_merge(
    df: DataFrame, keys: list[str], sketch_col: str = _HLL_COL
) -> DataFrame:
    """Merge sketch tables → ``(keys…, approx_distinct)``.

    ``df`` is any union of ``hll_shard_sketch`` outputs (different shards,
    days, or finer-grained keys being rolled up).  Only sketch bytes
    shuffle.  ``allowDifferentLgConfigK=True`` so shards sketched at
    different precisions still merge (result degrades to the coarsest).
    """
    return df.groupBy(*_cols(keys)).agg(
        F.hll_sketch_estimate(
            F.hll_union_agg(sketch_col, F.lit(True))
        ).alias("approx_distinct")
    )


# ---------------------------------------------------------------- bitmap


def _bucketized(df: DataFrame, keys: list[str], value: str):
    v = F.col(value)
    return df.select(
        *_cols(keys),
        F.bitmap_bucket_number(v).alias(_BUCKET_COL),
        F.bitmap_bit_position(v).alias("_pos"),
    )


def bitmap_shard_sketch(df: DataFrame, keys: list[str], value: str) -> DataFrame:
    """Exact mergeable bitmaps → ``(keys…, _bucket, bitmap)``.

    ``value`` is an int64 id (any sign; nulls ignored).  Each output row is one 4 KB
    bitmap covering one 32768-id bucket the group actually touched, so the
    artifact size tracks the *id-space density*, not the row count.  One
    shuffle on ``(keys, bucket)`` of (keys, two int64s) — with map-side
    partial OR, never the payload.
    """
    return (
        _bucketized(df, keys, value)
        .groupBy(*_cols(keys), F.col(_BUCKET_COL))
        .agg(F.bitmap_construct_agg("_pos").alias(_BMP_COL))
    )


def bitmap_merge(
    df: DataFrame, keys: list[str], bitmap_col: str = _BMP_COL
) -> DataFrame:
    """Merge bitmap sketch tables → exact ``(keys…, n_distinct)``.

    Two-level: OR bitmaps per ``(keys, bucket)`` (bitwise, associative —
    duplicate coverage across shards collapses), then popcount-sum per
    ``keys``.  Both aggregations partial-combine map-side.
    """
    return (
        df.groupBy(*_cols(keys), F.col(_BUCKET_COL))
        .agg(F.bitmap_or_agg(bitmap_col).alias(_BMP_COL))
        .groupBy(*_cols(keys))
        .agg(F.sum(F.bitmap_count(F.col(_BMP_COL))).alias("n_distinct"))
    )


def bitmap_distinct(df: DataFrame, keys: list[str], value: str) -> DataFrame:
    """One-shot exact distinct via bitmaps → ``(keys…, n_distinct)``.

    Semantically ``groupBy(keys).agg(countDistinct(value))`` (oracle-backed,
    q82) but with the 100 TB shuffle shape: ``countDistinct`` expands to a
    distinct-on-(keys, value) exchange carrying every raw id; this carries
    at most one 4 KB bitmap per (group, 32768-id bucket) with map-side OR.
    For a 1e9-distinct dense id space that is ~30k bitmap rows per group vs
    1e9 id rows per group — and the intermediate is exactly the persistable
    ``bitmap_shard_sketch`` artifact.
    """
    return bitmap_merge(bitmap_shard_sketch(df, keys, value), keys)


# ------------------------------------------------------------- histogram


def histogram_shard_sketch(
    df: DataFrame,
    keys: list[str],
    value: str,
    lo: float,
    hi: float,
    n_bins: int = 256,
) -> DataFrame:
    """Fixed-grid histogram sketch → ``(keys…, _bucket, n)`` — the
    QUANTILE member of the mergeable-artifact family (distinct counts:
    HLL/bitmap above).

    ``[lo, hi)`` splits into ``n_bins`` equal buckets (``width_bucket``,
    pure JVM); bucket 0 / n_bins+1 catch underflow/overflow, so merging
    never loses mass when a later shard exceeds the planned range.  The
    grid must be FIXED across shards (that is what makes addition the
    merge operator) — pick it from domain knowledge (score in [0,1],
    doc length in [0, 1e6]) rather than a data pass, or the artifact
    isn't stable across days.  At most ``n_bins+2`` rows per group
    regardless of row count; merge = per-bucket sum; percentile error
    is bounded by one bin width.
    """
    v = F.col(value).cast("double")
    return (
        df.where(v.isNotNull())
        .groupBy(
            *_cols(keys),
            F.width_bucket(v, F.lit(float(lo)), F.lit(float(hi)), F.lit(n_bins)).alias(
                _BUCKET_COL
            ),
        )
        .agg(F.count(F.lit(1)).alias("n"))
    )


def histogram_merge(df: DataFrame, keys: list[str]) -> DataFrame:
    """Merge histogram sketch tables: per-(keys, bucket) count sum."""
    return df.groupBy(*_cols(keys), F.col(_BUCKET_COL)).agg(
        F.sum("n").alias("n")
    )


def histogram_percentiles(
    df: DataFrame,
    keys: list[str],
    qs: list[float],
    lo: float,
    hi: float,
    n_bins: int = 256,
) -> DataFrame:
    """Per-group percentile estimates from a (merged) histogram sketch →
    ``(keys…, q, value)``.

    Distributed and tiny: the cumulative walk is a window over at most
    ``n_bins+2`` rows per group (partitioned by the group keys — no
    global funnel).  Each percentile reports the LEFT EDGE of the first
    bucket whose cumulative count reaches q*total: error <= one bin
    width by construction; underflow/overflow buckets clamp to lo/hi.
    """
    from pyspark.sql import Window

    width = (float(hi) - float(lo)) / n_bins
    w = Window.partitionBy(*_cols(keys)).orderBy(_BUCKET_COL)
    cum = df.withColumn("_cum", F.sum("n").over(w)).withColumn(
        "_total", F.sum("n").over(Window.partitionBy(*_cols(keys)))
    )
    edge = F.least(
        F.greatest(
            F.lit(float(lo)) + (F.col(_BUCKET_COL) - 1) * F.lit(width),
            F.lit(float(lo)),
        ),
        F.lit(float(hi)),
    )
    out = None
    for q in qs:
        hit = (
            cum.where(F.col("_cum") >= F.lit(q) * F.col("_total"))
            .groupBy(*_cols(keys))
            .agg(F.min(_BUCKET_COL).alias(_BUCKET_COL))
            .select(*keys, F.lit(q).alias("q"), edge.alias("value"))
        )
        out = hit if out is None else out.unionByName(hit)
    return out


# ---------------------------------------------------------- heavy hitters
# The FREQUENCY member of the mergeable-artifact family (distinct counts:
# HLL/bitmap; quantiles: histogram): "which items dominate" — top domains
# per language, hottest tokens per source, the skew probe every corpus
# audit runs.  Spark 4's approx_top_k_accumulate / _combine / _estimate
# aggregate family (SPARK-49979) is the engine-native sketch: bounded
# state (maxItemsTracked entries per group), partial-aggregable, and the
# accumulate output is a plain STRUCT column that writes to parquet —
# the persistable shard artifact, same contract as the other tiers.
# EXACT whenever a group's distinct-item count <= max_items (the sketch
# degenerates to a complete counting map), which is what makes an
# oracle-backed query possible (q91); above that it is the approximate
# top-k with the usual frequent-items guarantees.
#
# The three expressions are SQL-registered but not yet wrapped in
# pyspark.sql.functions in 4.1, hence F.expr.

_TOPK_COL = "topk_sketch"


def topk_shard_sketch(
    df: DataFrame, keys: list[str], value: str, max_items: int = 1024
) -> DataFrame:
    """One frequency sketch of ``value`` per ``keys`` group →
    ``(keys…, topk_sketch)``.  Persist per shard/day; ``max_items``
    MUST match across shards you intend to merge (it is carried inside
    the sketch and ``approx_top_k_combine`` rejects mismatches)."""
    agg = F.expr(
        f"approx_top_k_accumulate(`{value}`, {int(max_items)})"
    ).alias(_TOPK_COL)
    return df.groupBy(*_cols(keys)).agg(agg)


def topk_merge(
    df: DataFrame, keys: list[str], max_items: int = 1024,
    sketch_col: str = _TOPK_COL,
) -> DataFrame:
    """Merge frequency-sketch tables → ``(keys…, topk_sketch)``;
    partial-aggregable, only sketches ride the exchange."""
    agg = F.expr(
        f"approx_top_k_combine(`{sketch_col}`, {int(max_items)})"
    ).alias(_TOPK_COL)
    return df.groupBy(*_cols(keys)).agg(agg)


def topk_estimate(
    df: DataFrame, keys: list[str], k: int = 10, sketch_col: str = _TOPK_COL
) -> DataFrame:
    """Extract the top-``k`` items per group from (merged) sketches →
    ``(keys…, item, est_count)``, deterministically re-sorted
    (est_count desc, item) so tie order never depends on sketch
    internals."""
    est = F.expr(f"approx_top_k_estimate(`{sketch_col}`, {int(k)})")
    return (
        df.select(*_cols(keys), F.explode(est).alias("_e"))
        .select(*_cols(keys), F.col("_e.item").alias("item"),
                F.col("_e.count").alias("est_count"))
        .orderBy(*_cols(keys), F.desc("est_count"), "item")
    )


def heavy_hitters(
    df: DataFrame, keys: list[str], value: str, k: int = 10,
    max_items: int = 1024,
) -> DataFrame:
    """One-shot per-group top-k items → ``(keys…, item, est_count)``.

    Semantically ``groupBy(keys, value).count() -> rank <= k`` but with
    the 100 TB shuffle shape: the raw (keys, value) pairs never ride an
    exchange — map-side partial sketches (<= ``max_items`` entries
    each) merge per group.  Exact when distinct values per group fit
    ``max_items`` (oracle-backed q91).  Caveat shared with every top-k:
    if the count at the k-boundary is TIED, which of the tied items
    make the cut is arbitrary (the estimate truncates before our
    deterministic re-sort); counts themselves are still exact."""
    return topk_estimate(
        topk_shard_sketch(df, keys, value, max_items), keys, k
    )


# ------------------------------------------------- artifact compaction
# maintain_sketch_shards grows one epoch directory per micro-batch; the
# merges stay CORRECT over any number of epochs (that is the mergeable-
# sketch contract) but every reader pays an open-per-epoch listing cost
# that grows without bound.  These folds rewrite N epochs as ONE
# equivalent shard table.  hll/bitmap get sketch-PRESERVING folds here
# (hll_merge/bitmap_merge produce estimates, which don't re-merge);
# histogram_merge and topk_merge are already shard-schema-preserving.


def hll_union_shards(
    df: DataFrame, keys: list[str], sketch_col: str = _HLL_COL
) -> DataFrame:
    """Union HLL shard tables into ONE shard table (same schema, still
    mergeable) — the sketch-preserving fold ``compact_sketch_shards``
    needs, vs :func:`hll_merge` which finalizes to an estimate."""
    return df.groupBy(*_cols(keys)).agg(
        F.hll_union_agg(sketch_col, F.lit(True)).alias(sketch_col)
    )


def bitmap_or_shards(
    df: DataFrame, keys: list[str], bitmap_col: str = _BMP_COL
) -> DataFrame:
    """OR bitmap shard tables into ONE shard table (same schema, still
    exact-mergeable) — the sketch-preserving fold for the bitmap tier."""
    return df.groupBy(*_cols(keys), F.col(_BUCKET_COL)).agg(
        F.bitmap_or_agg(bitmap_col).alias(bitmap_col)
    )


def load_sketch_shards(spark, path: str) -> DataFrame:
    """Read a ``maintain_sketch_shards`` artifact through its manifest
    (``operators.manifest.read_artifact``: folded base version ∪ live
    streamed epochs, replayed-folded epochs filtered).  The ``epoch``
    bookkeeping column is dropped — the merge functions see shard rows
    only."""
    from .manifest import read_artifact

    return read_artifact(spark, path, drop_epoch=True)


def compact_sketch_shards(spark, path: str, fold_fn) -> dict:
    """Fold the epochs a ``streaming.ingest.maintain_sketch_shards``
    loop has written into the next base version — same answers, one
    directory, bounded files — committed via
    ``operators.manifest.compact_artifact`` (ONE small-object PUT:
    readers see the old version or the new one, never a mix).

    ``fold_fn`` maps the union-of-shards frame to ONE equivalent shard
    table and must be sketch-PRESERVING for the tier:
    ``lambda df: hll_union_shards(df, keys)``,
    ``bitmap_or_shards(df, keys)``, ``histogram_merge(df, keys)`` or
    ``topk_merge(df, keys)``.

    Stream coordination: NONE needed.  Epochs appended while the fold
    runs stay visible through the epochs union, and the stream resumes
    with its EXISTING checkpoint — a replayed micro-batch that
    re-materializes an epoch this fold consumed is masked by the
    manifest's ``folded_epochs`` filter, so even the SUM-semantics
    tiers (histogram / top-k) cannot double-count.

    Returns ``{"version", "epochs_folded", "rows", "manifest"}``."""
    from .manifest import compact_artifact

    return compact_artifact(spark, path, fold_fn)
