"""Structured Streaming twin of the ingest path (SURVEY §2.9).

Reference live path (stdatalog_dtk/HSD_DataToolkit.py): a Qt signal
pushes byte chunks into a queue (T1); a consumer thread keeps a
per-component byte buffer, emits only complete packets and carries the
remainder (T2, :53-66); the trailing float64 per packet is event time
(T3).  Batch-only in the reference, the 1 s RMS becomes a streaming
window aggregate here (T4) with a watermark standing in for the
"retry on next event" completeness dance (T5).

Spark mapping:
  chunk stream (any source: file/kafka/socket; tests use a file source)
    -> groupBy(comp_name).applyInPandasWithState   # stateful reassembly,
       state = leftover bytes carried ACROSS micro-batches
    -> per-sample event-time rows
    -> withWatermark + window(ts, "1 second") RMS, span completeness
       re-checked post-agg for semantic parity with main.py:148-153.

Ordering contract: chunks must arrive in (comp_name, chunk_id) order
within the stream (the reference's queue guarantees the same); rows
within a micro-batch are sorted by chunk_id before feeding the framer.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
import pyspark.sql.functions as F
from pyspark.sql import DataFrame
from pyspark.sql.streaming import StreamingQuery
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import (
    BinaryType,
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from ..operators.telemetry import MIN_SPAN_FRAC, NS_PER_S
from ..sources.dat import DecodeParams, frame_packets, sample_times

CHUNK_SCHEMA = StructType(
    [
        StructField("comp_name", StringType()),
        StructField("chunk_id", LongType()),
        StructField("chunk", BinaryType()),
    ]
)

SAMPLE_SCHEMA = StructType(
    [
        StructField("comp_name", StringType()),
        StructField("Time", DoubleType()),
        StructField("sample_idx", LongType()),
        StructField("A_x_g", DoubleType()),
        StructField("A_y_g", DoubleType()),
        StructField("A_z_g", DoubleType()),
    ]
)

_STATE_SCHEMA = StructType(
    [StructField("leftover", BinaryType()), StructField("n_samples", LongType())]
)


def _start_loop(
    stream: DataFrame, batch_fn, checkpoint: str
) -> StreamingQuery:
    """Start ``batch_fn`` as the ``foreachBatch`` sink of ``stream`` —
    the one way every loop in the streaming tier starts.  The
    checkpoint makes a restart resume (and a replayed batch re-run)
    where the last run stopped; ``availableNow`` drains what the
    source holds at start and then terminates, so each call is one
    bounded catch-up run.  Returns the started query; callers own
    ``awaitTermination``."""
    return (
        stream.writeStream.foreachBatch(batch_fn)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )


def reassemble_packets(
    chunks: DataFrame, params_by_comp: dict[str, DecodeParams]
) -> DataFrame:
    """T2: stateful packet reassembly keyed by component.

    State is (leftover_bytes, samples_emitted); each micro-batch feeds
    the concatenated in-order chunks through the framing law and emits
    complete packets only — byte-identical to the reference's
    ``incoming_data`` remainder-carry, but distributed per component
    and restart-safe via the state store.
    """

    def reassemble(
        key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        comp = key[0]
        params = params_by_comp[comp]
        if state.exists:
            leftover, n_seen = state.get
            leftover = bytes(leftover)
        else:
            leftover, n_seen = b"", 0
        buf = leftover + b"".join(
            bytes(c)
            for pdf in pdfs
            for c in pdf.sort_values("chunk_id")["chunk"]
        )
        samples, ts, rest = frame_packets(buf, params)
        state.update((rest, n_seen + len(samples)))
        if len(samples):
            t = sample_times(ts, params, len(samples))
            # stamps restart at 0 per call; shift by samples already seen
            if ts.size:
                pass  # packet stamps are absolute-relative: already correct
            out = pd.DataFrame(
                {
                    "comp_name": comp,
                    "Time": t,
                    "sample_idx": n_seen + pd.RangeIndex(len(samples)),
                    "A_x_g": samples[:, 0],
                    "A_y_g": samples[:, 1] if params.dim > 1 else 0.0,
                    "A_z_g": samples[:, 2] if params.dim > 2 else 0.0,
                }
            )
            yield out

    return (
        chunks.groupBy("comp_name")
        .applyInPandasWithState(
            reassemble,
            outputStructType=SAMPLE_SCHEMA,
            stateStructType=_STATE_SCHEMA,
            outputMode="append",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


def sessionize(
    events: DataFrame,
    ts_col: str = "ts",
    key_col: str = "user_id",
    gap: str = "30 minutes",
    watermark: str | None = "1 hour",
) -> DataFrame:
    """T6: gap-based session windows via ``F.session_window``.

    Works identically on batch and streaming frames (``withWatermark``
    is a no-op in batch) — sessions close when ``gap`` passes with no
    event for the key; state is bounded by the watermark in streaming.
    The batch twin of the q15 lag+running-sum sessionization, but O(1)
    state per open session instead of a full-partition sort window.
    """
    src = events.withWatermark(ts_col, watermark) if watermark else events
    w = F.session_window(F.col(ts_col), gap)
    return (
        src.groupBy(F.col(key_col), w.alias("session"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.min(ts_col).alias("first_ts"),
            F.max(ts_col).alias("last_ts"),
        )
        .select(
            key_col,
            F.col("session.start").alias("session_start"),
            F.col("session.end").alias("session_end"),
            "n_events",
            "first_ts",
            "last_ts",
        )
    )


def streaming_rms(
    samples: DataFrame,
    start_ns: int = 0,
    watermark: str = "2 seconds",
) -> DataFrame:
    """T4+T5: tumbling 1 s RMS on a streaming sample table.

    ``window(ts, "1 second")`` + watermark bounds state; the reference's
    duration-based completeness gate (span >= ``telemetry.MIN_SPAN_FRAC``
    of a second, main.py:148-153) is retained as a post-aggregation
    filter so emitted rows match the batch pipeline exactly.
    """
    # Event time must bucket EXACTLY like the batch path, which rounds
    # relative seconds to int64 ns (telemetry.to_absolute_time: rint).
    # timestamp_seconds(double) would re-round at µs precision and can
    # disagree on samples 1 ulp below a second boundary — so round to ns
    # first, then truncate ns->µs (second boundaries are exact multiples
    # of both, so window membership is identical).
    ts_ns = (F.rint(F.col("Time") * F.lit(1e9))).cast("long") + F.lit(int(start_ns))
    with_ts = (
        samples.withColumn("ts_ns", ts_ns)
        .withColumn("ts", F.timestamp_micros(F.expr("ts_ns div 1000")))
        .withWatermark("ts", watermark)
    )
    win = F.window("ts", "1 second")
    agg = (
        with_ts.groupBy("comp_name", win.alias("w"))
        .agg(
            F.sqrt(F.avg(F.col("A_x_g") * F.col("A_x_g"))).alias("rms_x"),
            F.sqrt(F.avg(F.col("A_y_g") * F.col("A_y_g"))).alias("rms_y"),
            F.sqrt(F.avg(F.col("A_z_g") * F.col("A_z_g"))).alias("rms_z"),
            (
                (F.max("ts_ns") - F.min("ts_ns"))
                >= F.lit(MIN_SPAN_FRAC * NS_PER_S)
            ).alias("_full"),
        )
        .where(F.col("_full"))
        .drop("_full")
    )
    return agg.select(
        "comp_name",
        (F.unix_timestamp(F.col("w.start")) * F.lit(NS_PER_S)).alias("Time"),
        "rms_x",
        "rms_y",
        "rms_z",
        F.sqrt(
            F.col("rms_x") * F.col("rms_x")
            + F.col("rms_y") * F.col("rms_y")
            + F.col("rms_z") * F.col("rms_z")
        ).alias("rms_mod"),
    )


def dedup_stream(
    df: DataFrame,
    key_cols: list[str],
    ts_col: str = "ts",
    watermark: str = "1 hour",
) -> DataFrame:
    """Continuous exact dedup of a stream: emit the first arrival of
    each key, drop re-deliveries (at-least-once sources like Kafka or
    re-listed object-store files replay records; a continuously-fed
    training corpus must still ingest each document once).

    ``dropDuplicatesWithinWatermark`` keeps per-key state only for the
    watermark horizon, so state is bounded by arrival rate x watermark
    instead of growing with corpus size forever — the difference
    between a stream that runs for months and one that OOMs.  The
    guarantee matches the source contract: duplicates arriving within
    the watermark delay of the first copy are dropped; a replay from
    further in the past than the watermark re-emits (same as the batch
    ``exact_dedup`` run on the re-ingested slice).  The batch twin is
    ``operators/dedup.py exact_dedup`` (hash-groupBy keep-first).
    """
    return df.withWatermark(ts_col, watermark).dropDuplicatesWithinWatermark(
        key_cols
    )


def label_stream(
    samples: DataFrame,
    tags: DataFrame,
    ts_col: str = "ts",
    start_col: str = "t_start",
    end_col: str = "t_end",
    extra_keys: list[str] | None = None,
    max_duration: str = "1 hour",
    watermark: str = "10 minutes",
) -> DataFrame:
    """Streaming twin of the batch interval tag join
    (``operators/telemetry.label_samples``, J3): label live samples
    with the tag interval containing them, both sides streams.

    Stream-stream joins need BOTH a watermark per side and a bounded
    event-time relation between the sides so state can be evicted —
    an open-ended ``ts < t_end`` alone would force Spark to keep every
    tag forever.  ``max_duration`` caps how long a tag interval can be
    (sw-tags in the reference are start/stop button presses within one
    acquisition), which turns the predicate into the required bounded
    range: ``t_start <= ts < t_start + max_duration`` with the true
    ``ts < t_end`` kept as a residual filter.  Inner join: unlabeled
    samples flow through the un-joined branch of the pipeline instead
    (same split as the reference's labeled=True export, main.py:78).
    """
    # Spark additionally requires >=1 EQUALITY predicate between the
    # streams (state is keyed by it).  Tags are per-device, so the
    # natural key is alias/comp_name via extra_keys; with no key (the
    # reference's live path is one acquisition = one logical stream) a
    # constant key is semantically exact — all tag state then lives
    # under one key, fine for per-device tag volumes.
    keys = list(extra_keys or [])
    drop_cols = []
    if not keys:
        samples = samples.withColumn("_sjk", F.lit(1))
        tags = tags.withColumn("_sjk", F.lit(1))
        keys = ["_sjk"]
        drop_cols.append("_sjk")
    s = samples.withWatermark(ts_col, watermark)
    t = tags.withWatermark(start_col, watermark)
    for k in keys:
        t = t.withColumnRenamed(k, f"_tag_{k}")
    cond = (
        (s[ts_col] >= t[start_col])
        & (s[ts_col] < t[start_col] + F.expr(f"INTERVAL {max_duration}"))
        & (s[ts_col] < t[end_col])
    )
    for k in keys:
        cond = cond & (s[k] == t[f"_tag_{k}"])
    return s.join(t, cond, "inner").drop(
        *[f"_tag_{k}" for k in keys], *drop_cols
    )


def near_dup_stream(
    df: DataFrame,
    id_col: str,
    text_col: str,
    ts_col: str = "ts",
    watermark: str = "30 minutes",
    k: int = 16,
    bands: int = 4,
    n: int = 3,
    window: str = "1 minute",
) -> DataFrame:
    """Streaming MinHash-LSH novelty gate: flag or drop documents that
    are near-duplicates of anything seen within the watermark horizon —
    the continuous twin of ``operators/dedup.py minhash_dedup_pairs``'s
    recall phase, for continuously-fed training corpora where history
    cannot be re-joined per batch.

    Mechanics: each doc's k-permutation signature is banded exactly as
    in batch (same hash kernels, so stream and batch agree bucket-for-
    bucket); the (band, band_hash) rows pass through
    ``dropDuplicatesWithinWatermark`` — the FIRST doc to claim a bucket
    keeps it, later claims are dropped — and a windowed count per doc
    then says how many of its ``bands`` buckets were novel.  Emitted
    (append mode, once the watermark passes the doc's window):
    ``(window, id, n_novel_bands, is_candidate_dup)`` where
    ``is_candidate_dup`` = at least one bucket collided with an
    earlier doc (the LSH candidate rule).  A FULLY duplicate doc — all
    bands already claimed — emits nothing at all: the gate swallows it.

    Semantics and bounds, stated honestly:

    * This is the LSH CANDIDATE filter only.  Batch near-dup follows
      candidates with an exact-Jaccard verify; a stream cannot re-read
      history's shingle sets, so precision here is the banding's
      1-(1-J^r)^b curve, not exact.  Where precision matters, run
      ``operators.dedup.verify_flagged_pairs`` periodically
      (lambda-style) over the flagged ids — emitted candidates plus
      swallowed docs — against the persisted corpus slice; it
      reproduces exactly the pairs ``minhash_dedup_pairs`` would find
      on that slice (parity test-pinned).
    * State is bucket-count x watermark-horizon bounded (8-byte hashes
      + timestamps), NOT corpus-bounded: the months-running-stream
      property, same trade as ``dedup_stream``.  A duplicate arriving
      later than the watermark re-claims its buckets — by design.
    * Two near-dup docs in ONE micro-batch: one wins each contested
      bucket (arbitrary but deterministic winner); both may emit with
      reduced ``n_novel_bands`` — the conservative direction for a
      dedup gate.
    """
    from ..operators.dedup import _band_hashes, _shingles, _signature_array
    from ..operators.text import tokens

    rpb = k // bands
    nonempty = df.where(F.length(F.trim(F.col(text_col))) > 0)
    # tokens() is the SAME kernel the batch _tokenized uses — the
    # bucket-for-bucket batch/stream agreement depends on it
    toked = nonempty.select(
        F.col(id_col), F.col(ts_col), tokens(text_col).alias("_toks")
    )
    hashed = toked.select(
        F.col(id_col),
        F.col(ts_col),
        F.transform(_shingles(F.col("_toks"), n), lambda s: F.xxhash64(s)).alias("_sh"),
    )
    sigs = hashed.select(
        F.col(id_col), F.col(ts_col), _signature_array(k).alias("_sig")
    )
    band_hashes = _band_hashes(bands, rpb)
    exploded = sigs.select(
        F.col(id_col), F.col(ts_col), F.posexplode(band_hashes).alias("band", "bh")
    )
    survived = exploded.withWatermark(ts_col, watermark).dropDuplicatesWithinWatermark(
        ["band", "bh"]
    )
    return (
        survived.groupBy(F.window(ts_col, window), F.col(id_col))
        .agg(F.count(F.lit(1)).alias("n_novel_bands"))
        .withColumn("is_candidate_dup", F.col("n_novel_bands") < F.lit(bands))
    )


def windowed_distinct(
    stream: DataFrame,
    value_col: str,
    key_cols: list[str] | None = None,
    ts_col: str = "ts",
    window: str = "1 minute",
    watermark: str = "2 minutes",
    lg_k: int = 12,
) -> DataFrame:
    """Streaming windowed approx-distinct — the live twin of
    ``operators.sketches.hll_shard_sketch``/``hll_merge`` ("distinct
    users per minute", the canonical streaming-analytics ask).

    The same Datasketches ``hll_sketch_agg`` the batch tier uses runs
    as the streaming aggregate: per-micro-batch partial sketches merge
    into watermark-bounded window state — state per (keys, window) is
    one <= 2^lg_k-byte sketch however many distinct values arrive,
    which is the property that makes per-window distinct FEASIBLE in a
    stream (exact distinct state would grow with cardinality).  Append
    mode: a window emits once its watermark passes.  Batch parity is
    structural (same aggregate, same estimator) and test-pinned.
    """
    keys = key_cols or []
    win = F.window(ts_col, window)
    return (
        stream.withWatermark(ts_col, watermark)
        .groupBy(*[F.col(k) for k in keys], win.alias("w"))
        .agg(
            F.hll_sketch_estimate(
                F.hll_sketch_agg(value_col, F.lit(lg_k))
            ).alias("approx_distinct")
        )
        .select(
            *keys,
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "approx_distinct",
        )
    )


def windowed_histogram(
    stream: DataFrame,
    value_col: str,
    lo: float,
    hi: float,
    n_bins: int = 256,
    key_cols: list[str] | None = None,
    ts_col: str = "ts",
    window: str = "1 minute",
    watermark: str = "2 minutes",
) -> DataFrame:
    """Streaming windowed histogram sketch — the live twin of
    ``operators.sketches.histogram_shard_sketch`` (the quantile member;
    ``windowed_distinct`` above is the HLL member).

    Emits the SKETCH rows ``(keys…, window_start, window_end, _bucket,
    n)`` in append mode once each window's watermark passes: the same
    fixed ``[lo, hi)/n_bins`` ``width_bucket`` grid as the batch tier,
    so a window's rows ARE a ``histogram_shard_sketch`` table keyed by
    the window columns — feed the sink's accumulated rows straight to
    ``sketches.histogram_percentiles(keys=[…, "window_start"])`` for
    per-window p50/p90, or ``histogram_merge`` across windows/streams.
    Percentile extraction stays batch-side by design: the cumulative
    walk is a window function (unsupported over streaming state), and
    emitting the mergeable artifact — not a digest of it — is what
    keeps the stream's state bounded at <= n_bins+2 counters per
    (keys, window) while preserving every downstream question.
    """
    v = F.col(value_col).cast("double")
    keys = key_cols or []
    win = F.window(ts_col, window)
    bucket = F.width_bucket(
        v, F.lit(float(lo)), F.lit(float(hi)), F.lit(n_bins)
    ).alias("_bucket")
    return (
        stream.where(v.isNotNull())
        .withWatermark(ts_col, watermark)
        .groupBy(*[F.col(k) for k in keys], win.alias("w"), bucket)
        .agg(F.count(F.lit(1)).alias("n"))
        .select(
            *keys,
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "_bucket",
            "n",
        )
    )


def windowed_heavy_hitters(
    stream: DataFrame,
    value_col: str,
    k: int = 10,
    max_items: int = 1024,
    key_cols: list[str] | None = None,
    ts_col: str = "ts",
    window: str = "1 minute",
    watermark: str = "2 minutes",
) -> DataFrame:
    """Streaming windowed top-k items — the FREQUENCY member of the
    live sketch-twin family (``windowed_distinct`` = HLL,
    ``windowed_histogram`` = quantiles; batch tier:
    ``operators.sketches.heavy_hitters``).

    The same ``approx_top_k_accumulate`` aggregate runs as the
    streaming aggregate: per-micro-batch partial sketches merge into
    watermark-bounded window state of <= ``max_items`` entries per
    (keys, window) — "top domains per minute" with bounded state
    however many distinct values arrive.  Emits ``(keys…,
    window_start, window_end, item, est_count)`` rows in append mode
    once a window's watermark passes, deterministically re-sorted per
    window downstream of the estimate (same tie caveat as the batch
    tier: a TIED k-boundary picks arbitrarily).  Exact when distinct
    items per window fit ``max_items`` — pinned by the batch-parity
    test.
    """
    keys = key_cols or []
    win = F.window(ts_col, window)
    acc = F.expr(
        f"approx_top_k_estimate("
        f"approx_top_k_accumulate(`{value_col}`, {int(max_items)}), {int(k)})"
    ).alias("_topk")
    return (
        stream.withWatermark(ts_col, watermark)
        .groupBy(*[F.col(c) for c in keys], win.alias("w"))
        .agg(acc)
        .select(
            *keys,
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            F.explode("_topk").alias("_e"),
        )
        .select(
            *keys,
            "window_start",
            "window_end",
            F.col("_e.item").alias("item"),
            F.col("_e.count").alias("est_count"),
        )
    )


def maintain_dedup_indexes(
    stream: DataFrame,
    id_col: str,
    text_col: str,
    digest_path: str,
    band_path: str,
    checkpoint: str,
    k: int = 32,
    bands: int = 8,
    n: int = 3,
):
    """Continuously maintain the PERSISTED dedup indexes from a
    document stream — the glue that keeps the batch-incremental dedup
    family (``dedup.exact_dedup_incremental`` /
    ``minhash_dedup_incremental``) current without a nightly rebuild.

    One ``foreachBatch`` sink appends, per micro-batch, (a) the
    ``(digest)`` rows of ``exact_dedup_incremental``'s index and
    (b) ``minhash_index``'s ``(band, bh, id)`` rows — landed as
    manifest-layout epochs (``operators.manifest.write_epoch`` with
    ``append=True``; read back via ``dedup.load_dedup_index``).
    Appends are the whole write (the indexes are append-only by design
    — that is what makes them incremental), and exactly-once follows
    from the checkpoint: a replayed batch re-appends the same rows,
    and both consumers are set-semantics joins (anti-join / band
    equi-join), so duplicate index rows are harmless — idempotent by
    construction, the standard foreachBatch contract (and an epoch a
    compaction already folded is masked by the manifest's
    ``folded_epochs`` filter besides).

    ``k``/``bands``/``n`` MUST match every future query against
    ``band_path`` (see ``minhash_index``).  Appends accumulate one
    sliver file per micro-batch per writer task — fold them back
    periodically with ``dedup.compact_dedup_indexes`` (physical dedupe
    + re-file + one-PUT manifest commit; NO pause needed, and this
    stream resumes on its EXISTING checkpoint).  Returns the started
    ``StreamingQuery``.
    """
    from ..operators.dedup import exact_dedup_incremental, minhash_index
    from ..operators.manifest import write_epoch

    def _batch(df, epoch_id):
        if not df.head(1):
            return
        write_epoch(
            exact_dedup_incremental(df, [text_col], id_col).select("digest"),
            digest_path, int(epoch_id), append=True,
        )
        write_epoch(
            minhash_index(df, id_col, text_col, k=k, bands=bands, n=n),
            band_path, int(epoch_id), append=True,
        )

    return _start_loop(stream, _batch, checkpoint)


def maintain_sketch_shards(
    stream: DataFrame,
    shard_fn,
    path: str,
    checkpoint: str,
):
    """Continuously materialize mergeable SKETCH SHARDS from a stream —
    the persisted-artifact loop for the whole sketch family
    (``operators.sketches``): per micro-batch, ``shard_fn(batch_df)``
    (e.g. ``lambda df: hll_shard_sketch(df, ["lang"], "user_id")``)
    computes that batch's shard table, landed as a manifest-layout
    epoch (``operators.manifest.write_epoch`` under
    ``path/epochs/epoch=<id>``); readers answer global/rolling
    questions by merging the shards loaded through
    ``sketches.load_sketch_shards`` (``hll_merge`` / ``bitmap_merge``
    / ``histogram_merge`` / ``topk_merge``) without ever rescanning
    rows.

    Idempotency differs from ``maintain_dedup_indexes`` on purpose:
    histogram and top-k merges are SUM-semantics (a replayed batch
    appended twice double-counts), so each epoch OVERWRITES its own
    ``epoch=`` directory — a foreachBatch replay rewrites the same
    directory and the artifact stays exactly-once for every tier,
    including the idempotent-anyway HLL/bitmap ones (a replay of an
    epoch a compaction already folded is additionally masked by the
    manifest's ``folded_epochs`` filter).

    Epoch directories accumulate one per micro-batch; fold them back
    into the next base version periodically with
    ``sketches.compact_sketch_shards`` — NO pause needed, and this
    stream resumes with its EXISTING checkpoint afterwards.
    """
    from ..operators.manifest import write_epoch

    def _batch(df, epoch_id):
        if not df.head(1):
            return
        write_epoch(shard_fn(df), path, int(epoch_id))

    return _start_loop(stream, _batch, checkpoint)


def maintain_inverted_index(
    stream: DataFrame,
    root: str,
    checkpoint: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_buckets: int = 64,
):
    """Continuously grow the incremental INVERTED INDEX
    (``retrieval.index_append`` artifact) from a document stream — the
    lexical-retrieval freshness loop: documents ingested today are
    phrase-searchable and BM25-rankable today, no nightly rebuild.

    Per micro-batch, the batch's postings land as a committed epoch
    under ``root/postings`` and its SUM-mergeable ``(n_docs,
    total_dl)`` stats row under ``root/stats``.  Exactly-once follows
    the sketch-stream contract, NOT the dedup-index one: the stats
    artifact is SUM-semantics (a replayed batch appended twice would
    double-count corpus stats and silently deflate every BM25 idf), so
    ``index_append`` rides ``write_epoch``'s epoch-OWNED overwrite — a
    foreachBatch replay rewrites exactly its own epoch for both
    artifacts.  ``n_buckets`` is pinned in the postings manifest on
    the first epoch; epoch sliver files fold back periodically with
    ``retrieval.index_compact`` (pause-free — this stream resumes on
    its existing checkpoint).  Incremental contract: each doc appears
    in ONE batch (re-ingest after purge is a new batch; see
    ``read_index_artifact``'s pending-deletes overlay)."""
    from ..operators.retrieval import index_append, inverted_index

    def _batch(df, epoch_id):
        if not df.head(1):
            return
        index_append(
            inverted_index(df, id_col, text_col),
            root,
            int(epoch_id),
            n_buckets=n_buckets,
            id_col=id_col,
        )

    return _start_loop(stream, _batch, checkpoint)


def maintain_fuzzy_vocab(
    stream: DataFrame,
    path: str,
    checkpoint: str,
    id_col: str = "doc_id",
    text_col: str = "text",
):
    """Continuously grow the persisted FUZZY-VOCAB artifact
    (``retrieval.write_fuzzy_vocab`` / ``fuzzy_vocab_append``) from a
    document stream — the typo-correction freshness loop: a term first
    seen today is fuzzy-matchable today, closing the "static offline
    build" boundary the artifact previously had (the
    ``maintain_inverted_index`` lifecycle applied to the fuzzy tier;
    typically run alongside it on the SAME document stream so
    corrections and postings stay in lockstep).

    Per micro-batch, the batch docs' vocabulary (deletion variants +
    delta df) lands as committed ``epoch=<batch_id>`` through
    ``manifest.write_epoch`` (r18 — the fuzzy artifact joined the
    manifest contract): a replayed batch rewrites exactly its own
    epoch so the readers' cross-epoch df SUM cannot double-count (the
    sum-semantics exactly-once contract of ``maintain_sketch_shards``),
    and a half-written epoch is invisible to readers — the commit
    marker lands only after the data write, so a correction can never
    see a partial epoch's df.  The artifact must exist
    (``write_fuzzy_vocab`` bootstrap — its manifest pins
    max_edits/n_buckets; appends can never diverge).  Serving reads
    through ``fuzzy_match_terms`` re-resolve the manifest per call, so
    ``serve_search_queries``' per-batch correction sees every
    committed epoch — and every ``fuzzy_vocab_compact`` fold — with
    no restart."""
    from ..operators.retrieval import fuzzy_vocab_append, inverted_index

    def _batch(df, epoch_id):
        if not df.head(1):
            return
        fuzzy_vocab_append(
            inverted_index(df, id_col, text_col), path, int(epoch_id)
        )

    return _start_loop(stream, _batch, checkpoint)


def maintain_ivf_index(
    stream: DataFrame,
    index_path: str,
    checkpoint: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    pq: bool = False,
):
    """Continuously grow a persisted IVF index (``similarity.ivf_save``
    artifact) from a stream of new embeddings — the serving-side
    freshness loop: documents embedded today are searchable today,
    without a nightly full re-assign.

    The codebook is loaded ONCE at start (centroids are the stable
    part of an IVF index; re-training them is a deliberate offline
    rebuild via ``ivf_save``).  Per micro-batch, the new vectors are
    assigned to their nearest centroid (same JVM/matmul path as the
    batch build) and landed via ``operators.manifest.write_epoch``
    under ``assignments/epochs/epoch=<id>/centroid_id=*`` with DYNAMIC
    partition overwrite: a replayed batch rewrites exactly its own
    epoch partitions, so the artifact is exactly-once under retries —
    the same epoch-ownership contract as ``maintain_sketch_shards``
    (and an epoch a compaction already folded is additionally masked
    by the manifest's ``folded_epochs`` filter, so even a replay that
    races a compaction cannot double-count).  ``ivf_topk`` probes over
    ``ivf_load``'s base ∪ epochs union stay partition-pruned on
    ``centroid_id``.

    ``pq=True`` maintains an **IVF-PQ** artifact instead
    (``similarity.ivfpq_save`` layout): the PQ codebooks — and the
    residual flag — load once from the artifact itself, and each
    micro-batch lands as (id, codes) rows via ``ivfpq_encode``, so the
    streamed epochs are byte-compatible with the base build and every
    probe/rerank works unchanged across the union.

    Epochs accumulate (that is the exactly-once contract); fold them
    back into the next base version periodically with
    ``similarity.ivf_compact`` — NO pause needed (epochs appended
    during the fold stay visible through the epochs union) and the
    stream resumes with its EXISTING checkpoint afterwards.

    Drift caveat: vectors keep assigning to the FROZEN codebook; if
    the embedding distribution shifts, probe recall decays until the
    next offline rebuild — monitor list-size skew (``key_skew_report``
    on ``centroid_id``) to schedule it.  Returns the started
    ``StreamingQuery``.
    """
    from ..operators.manifest import write_epoch
    from ..operators.similarity import (
        ivf_assign,
        ivf_load,
        ivfpq_encode,
        ivfpq_load,
    )

    spark = stream.sparkSession
    if pq:
        _, cents, books, meta = ivfpq_load(spark, index_path, with_meta=True)
        residual = meta["residual"]
    else:
        _, cents = ivf_load(spark, index_path)
    apath = index_path.rstrip("/") + "/assignments"

    def _batch(df, epoch_id):
        if not df.head(1):
            return
        if pq:
            rows = ivfpq_encode(
                df, cents, books, id_col=id_col, vec_col=vec_col,
                residual=residual,
            ).select(id_col, "codes", "centroid_id")
        else:
            rows = ivf_assign(df, cents, id_col=id_col, vec_col=vec_col).select(
                id_col, vec_col, "centroid_id"
            )
        write_epoch(
            rows, apath, int(epoch_id), partition_cols=("centroid_id",)
        )

    return _start_loop(stream, _batch, checkpoint)


def serve_ann_queries(
    stream: DataFrame,
    index_path: str,
    output_path: str,
    checkpoint: str,
    k: int = 10,
    n_probe: int = 4,
    raw_index_path: str | None = None,
    shortlist: int | None = None,
    q_id_col: str = "q_id",
    q_vec_col: str = "q_vec",
    adc_only: bool = False,
    _pre_batch_hook=None,
):
    """Streaming ANN query serving: answer a STREAM of query vectors
    against a persisted IVF-PQ index — the online half of the index
    lifecycle (``similarity.ivfpq_save`` builds it,
    :func:`maintain_ivf_index` keeps it fresh, this serves it).

    The MODEL loads once at start (centroids + codebooks + residual
    flag from the artifact's meta — a few KB of driver state; these
    are the stable parts of the index, re-trained only by an offline
    rebuild).  The CODES are re-resolved through the artifact's
    manifest at every micro-batch (one small-file read + one listing —
    negligible against a search job), so epochs a
    :func:`maintain_ivf_index` loop appends and versions an
    ``ivf_compact`` commits become searchable MID-STREAM, no restart
    needed.  Each micro-batch of (q_id, q_vec) rows is answered with
    ONE ``similarity.ivfpq_topk_batch`` pass over the pruned codes;
    with ``raw_index_path`` (an ``ivf_save`` artifact holding the raw
    vectors list-partitioned, re-resolved per batch the same way) the
    batch is instead served by ``ivfpq_topk_rerank_batch`` — ADC
    shortlist then ONE probe-pruned exact re-rank job, the full
    serving recipe.  One freshness boundary remains by design: a full
    OFFLINE REBUILD (``ivfpq_save`` — new centroids/codebooks) changes
    the model state this query loaded at start, so restart serving
    after a rebuild; epoch appends and compactions need no restart.

    RECALL CONTRACT: without ``raw_index_path`` the rankings are pure
    ADC — quantization error is the ranking error, and measured
    recall@10 can be NEAR ZERO at coarse PQ configs (m=8/n_codes=16 at
    200k rows scored 0.0–0.1 in this repo's bench; see
    ``bench_ann_1m``'s ``adc_recall_1m``).  That mode must be an
    explicit choice: pass ``adc_only=True`` to serve without a re-rank
    index, otherwise this function raises.

    Results land under ``output_path/epoch=<id>/`` with dynamic
    overwrite — the same epoch-ownership contract as every maintenance
    loop here, so a foreachBatch replay rewrites its own epoch and the
    result log is exactly-once under retries.  Schema: (q_id, vec_id,
    adc_score) for ADC-only, (q_id, vec_id, sim_fx) with re-rank.

    ``_pre_batch_hook(batch_id)`` is a test seam, called before the
    batch's index resolution (lets a test inject a maintenance append
    or compaction and assert the batch sees it).
    Returns the started StreamingQuery."""
    from ..operators.manifest import read_artifact
    from ..operators.similarity import (
        ivfpq_load,
        ivfpq_topk_batch,
        ivfpq_topk_rerank_batch,
    )

    if raw_index_path is None and not adc_only:
        raise ValueError(
            "serve_ann_queries without raw_index_path serves pure-ADC "
            "rankings whose recall can be near zero at coarse PQ "
            "configs; pass a raw ivf_save artifact for the exact "
            "re-rank, or opt in explicitly with adc_only=True"
        )
    spark = stream.sparkSession
    _, cents, books, meta = ivfpq_load(spark, index_path, with_meta=True)
    residual = meta["residual"]
    codes_root = index_path.rstrip("/") + "/assignments"
    raw_root = (
        raw_index_path.rstrip("/") + "/assignments"
        if raw_index_path else None
    )

    def _batch(df, epoch_id):
        if _pre_batch_hook is not None:
            _pre_batch_hook(int(epoch_id))
        if not df.head(1):
            return
        # freshness: re-resolve the manifest(s) so epochs appended and
        # compactions committed since the last batch are served now
        base = read_artifact(spark, codes_root)
        if raw_root is not None:
            raw = read_artifact(spark, raw_root)
            out = ivfpq_topk_rerank_batch(
                base, raw, cents, books, df, k=k, n_probe=n_probe,
                shortlist=shortlist, q_id_col=q_id_col, q_vec_col=q_vec_col,
                residual=residual,
            )
        else:
            out = ivfpq_topk_batch(
                base, cents, books, df, k=k, n_probe=n_probe,
                q_id_col=q_id_col, q_vec_col=q_vec_col, residual=residual,
            )
        (
            out.withColumn("epoch", F.lit(int(epoch_id)))
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("epoch")
            .parquet(output_path)
        )

    return _start_loop(stream, _batch, checkpoint)


def windowed_fft_stream(
    stream: DataFrame,
    sample_rate: float,
    window_s: float = 1.0,
    value_col: str = "A_x_g",
    time_col: str = "Time",
    key_cols: list[str] | None = None,
    watermark: str = "2 seconds",
    top_k: int | None = None,
) -> DataFrame:
    """Live twin of ``operators.telemetry.windowed_fft`` (T4 family
    completion): per-(keys, tumbling window) magnitude spectra over a
    stream of telemetry samples.

    A spectrum is NOT mergeable — unlike the sketch twins, a window's
    samples must be seen together — so this is the stateful-buffer
    class (same machinery as packet reassembly): ``applyInPandasWithState``
    keyed by ``(keys…, window_start)`` accumulates the window's samples
    (state bounded by ``window_s * sample_rate`` rows, packed as two
    binary buffers so only bytes sit in the state store), arms an
    EVENT-TIME timeout at the window's end, and emits the numpy ``rfft``
    rows exactly once when the watermark passes the window — identical
    bucket math (int64 ``t - pmod(t, w_ns)``), normalization (2/N, DC
    and Nyquist 1/N), ``top_k`` ranking, and n<4 drop as the batch
    operator, so a replay equals the batch result row-for-row
    (test-pinned).  ``time_col`` is int64 epoch-ns; the watermark clock
    is its µs truncation.
    """
    import numpy as np

    keys = list(key_cols) if key_cols is not None else ["comp_name"]
    w_ns = int(window_s * 1_000_000_000)
    t = F.col(time_col)
    prepared = stream.select(
        *[F.col(k) for k in keys],
        (t - F.pmod(t, F.lit(w_ns))).alias("window_start"),
        t.alias("_t"),
        F.col(value_col).cast("double").alias("_v"),
        # integer `div`, NOT float /: epoch-ns exceeds double's 53-bit
        # mantissa, so a float division would wobble the µs clock
        F.timestamp_micros(F.expr(f"`{time_col}` div 1000")).alias("_ts"),
    ).withWatermark("_ts", watermark)

    in_fields = {f.name: f.dataType for f in stream.schema.fields}
    out_schema = StructType(
        [
            *[StructField(k, in_fields[k]) for k in keys],
            StructField("window_start", LongType()),
            StructField("freq_hz", DoubleType()),
            StructField("magnitude", DoubleType()),
        ]
    )
    state_schema = StructType(
        [StructField("tbuf", BinaryType()), StructField("vbuf", BinaryType())]
    )

    def _fft_state(key, pdfs: Iterator[pd.DataFrame], state: GroupState):
        if state.hasTimedOut:
            tbuf, vbuf = state.get
            state.remove()
            ts = np.frombuffer(tbuf, dtype=np.int64)
            vs = np.frombuffer(vbuf, dtype=np.float64)
            vals = vs[np.argsort(ts, kind="stable")]
            n = len(vals)
            if n < 4:
                return
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
            yield pd.DataFrame(
                {
                    **{k: key[i] for i, k in enumerate(keys)},
                    "window_start": key[len(keys)],
                    "freq_hz": freqs[idx],
                    "magnitude": mags[idx],
                }
            )
            return
        new_t, new_v = [], []
        for pdf in pdfs:
            new_t.append(pdf["_t"].to_numpy(np.int64))
            new_v.append(pdf["_v"].to_numpy(np.float64))
        ts = np.concatenate(new_t)
        vs = np.concatenate(new_v)
        if state.exists:
            tbuf, vbuf = state.get
            ts = np.concatenate([np.frombuffer(tbuf, dtype=np.int64), ts])
            vs = np.concatenate([np.frombuffer(vbuf, dtype=np.float64), vs])
        state.update((ts.tobytes(), vs.tobytes()))
        # fire once the watermark (which already embodies the allowed
        # lateness) passes the window's end
        state.setTimeoutTimestamp((int(key[len(keys)]) + w_ns) // 1_000_000)
        return
        yield  # pragma: no cover — marks this branch a generator too

    return prepared.groupBy(*keys, "window_start").applyInPandasWithState(
        _fft_state,
        out_schema,
        state_schema,
        "append",
        GroupStateTimeout.EventTimeTimeout,
    )


def decontaminate_stream(
    stream: DataFrame,
    benchmark: DataFrame,
    id_col: str,
    text_col: str,
    output_path: str,
    checkpoint: str,
    n: int = 8,
    fpp: float = 0.001,
    expected_grams: int | None = None,
):
    """Streaming twin of ``pipeline.bloom_ngram_decontaminate``: gate a
    continuously-ingested document stream against a STATIC benchmark
    suite, landing only uncontaminated docs — so contamination is
    enforced at ingest time instead of by a later full-corpus sweep.

    The benchmark's gram bloom builds ONCE at start (the suite is the
    stable side; rebuild the stream to pick up a new suite — same
    model-reload contract as ``serve_ann_queries``'s codebooks) and its
    packed words ride each micro-batch as the usual one-row broadcast;
    the EXACT verify joins the batch's maybe-grams against the static
    benchmark gram frame (stream side stays tiny: true overlaps + ~fpp
    of the batch's gram stream).  Per batch the survivors land via
    ``manifest.write_epoch`` — epoch-owned dynamic overwrite, so
    replays rewrite exactly their own epoch and the output artifact is
    exactly-once (decisions depend only on the STATIC suite, so unlike
    ``bloom_dedup_stream`` a replay re-decides identically and needs no
    watermark guard).  Returns the started StreamingQuery."""
    from ..operators.dedup import _shingles, _tokenized
    from ..operators.manifest import write_epoch
    from ..operators.membership import bloom_build
    from ..operators.pipeline import bloom_ngram_decontaminate

    bench_grams = (
        _tokenized(
            benchmark.where(
                F.col(text_col).isNotNull()
                & (F.length(F.trim(F.col(text_col))) > 0)
            ),
            id_col, text_col,
        )
        .select(F.explode(_shingles(F.col("_toks"), n)).alias("gram"))
        .where(F.length("gram") > 0)
        .distinct()
    )
    bloom = bloom_build(
        bench_grams, "gram", expected_items=expected_grams, fpp=fpp
    )

    def _batch(df, epoch_id):
        if not df.head(1):
            return
        clean = bloom_ngram_decontaminate(
            df, benchmark, id_col, text_col, n=n, bloom=bloom
        )
        write_epoch(clean, output_path, int(epoch_id))

    return _start_loop(stream, _batch, checkpoint)


def bloom_dedup_stream(
    stream: DataFrame,
    key_col: str,
    output_path: str,
    bloom_path: str,
    checkpoint: str,
    expected_items: int,
    fpp: float = 0.01,
    pending_deletes: DataFrame | None = None,
):
    """Unbounded-horizon seen-keys gate with BOUNDED memory: emit only
    rows whose key has never been seen across the stream's whole
    lifetime, tracking "seen" in a growable Bloom artifact
    (``operators.membership``) instead of per-key state.

    Where it sits in the dedup family: ``dedup_stream`` /
    ``dropDuplicates`` are EXACT but their state grows with distinct
    keys (or needs a watermark horizon that forgets); this gate's
    state is a fixed ``m``-bit filter sized once from
    ``expected_items`` (≈10 bits per lifetime key at fpp=0.01) — the
    months-running-ingest posture where "URL seen last quarter" must
    still gate today.  The trade is explicit and one-sided: NO
    duplicate ever passes (no false negatives), but ~fpp of genuinely
    novel keys are wrongly swallowed.  Size generously; monitor the
    artifact's summed ``n_items`` against ``expected_items``.

    Per micro-batch: load the filter as of the PREVIOUS batches only
    (``bloom_artifact_load(before_epoch=batch)`` — a replayed batch
    must not see its own keys, or the replay would emit nothing), keep
    the definitely-unseen rows (plus exact within-batch first-wins),
    land them under ``output_path`` and their batch-bloom under the
    artifact — both as epoch-owned dynamic overwrites, so replays
    rewrite exactly their own epoch: exactly-once end to end.

    Fold the accumulated epoch rows periodically with
    ``membership.bloom_compact`` — AFTER a graceful stop
    (availableNow completion) or between runs, never concurrently:
    unlike the additive artifacts, this one makes decisions, so a
    replay of a folded-but-then-replayed epoch would read its own keys
    from the base.  That rule is ALSO enforced mechanically: the batch
    fn consults the bloom artifact's ``folded_watermark`` and turns a
    replay of an already-folded epoch into a NO-OP — without the
    guard, the replay would load its own keys from the folded base
    (``epoch=-1`` passes the ``before_epoch`` filter), compute an
    empty ``fresh``, and dynamic-overwrite its output epoch as empty,
    permanently losing that batch's emitted rows.

    ``pending_deletes`` (one-column frame of purged keys) is the
    deletion overlay for the one artifact class that can NEVER
    physically delete — a Bloom filter cannot unset bits, so a purged
    key would otherwise be swallowed as "seen" forever.  Listed keys
    bypass the filter's verdict (their prior sightings are void);
    within-batch first-wins still applies, and the re-ingested key
    lands in that batch's bloom like any other.  The exemption is
    STANDING while the key is listed — drop keys from the list once
    their re-ingest is confirmed in ``output_path``, or later
    duplicates of the key pass the gate too.  Replays re-evaluate
    against the CURRENT list, so only shrink it after the epochs that
    re-admitted the key are committed.  Returns the started
    StreamingQuery."""
    from ..operators.membership import (
        bloom_artifact_geometry,
        bloom_artifact_init,
        bloom_artifact_load,
        bloom_build,
        bloom_filter_members,
        bloom_write_epoch,
    )
    from ..operators.manifest import manifest_resolve, write_epoch

    spark = stream.sparkSession
    if manifest_resolve(spark, bloom_path) is None:
        bloom_artifact_init(spark, bloom_path, expected_items, fpp=fpp)
    m_bits, n_hashes = bloom_artifact_geometry(spark, bloom_path)

    def _batch(df, epoch_id):
        if not df.head(1):
            return
        # replay-of-a-folded-epoch guard: once a compaction's
        # folded_watermark passes this batch id, the batch's keys live
        # in the base (epoch=-1) and its output epoch already exists —
        # re-deciding would see its own keys and overwrite the output
        # with nothing.  The replay must be a no-op.
        m_now = manifest_resolve(spark, bloom_path)
        if m_now is not None and (
            int(m_now.get("folded_watermark", -1)) >= int(epoch_id)
        ):
            return
        seen = bloom_artifact_load(
            spark, bloom_path, before_epoch=int(epoch_id)
        )
        if seen is None:
            fresh = df
        elif pending_deletes is not None:
            # purge overlay: listed keys skip the bloom verdict (their
            # prior sightings are void), everything else is gated
            dels = F.broadcast(
                pending_deletes.select(
                    F.col(pending_deletes.columns[0]).alias(key_col)
                ).distinct()
            )
            exempt = df.join(dels, key_col, "left_semi")
            gated = bloom_filter_members(
                df.join(dels, key_col, "left_anti"),
                key_col, seen, "definitely_not",
            )
            fresh = gated.unionByName(exempt)
        else:
            fresh = bloom_filter_members(df, key_col, seen, "definitely_not")
        # exact first-wins INSIDE the batch (the filter only knows
        # about previous batches)
        fresh = fresh.dropDuplicates([key_col])
        fresh.persist()
        try:
            n_new = fresh.count()
            write_epoch(fresh, output_path, int(epoch_id))
            batch_bloom = bloom_build(
                fresh, key_col, expected_items=n_new,
                m_bits=m_bits, n_hashes=n_hashes,
            )
            bloom_write_epoch(spark, batch_bloom, bloom_path, int(epoch_id))
        finally:
            fresh.unpersist()

    return _start_loop(stream, _batch, checkpoint)


def _batch_postings(
    spark,
    df: DataFrame,
    caller: str,
    index_root: str,
    terms_col: str,
    id_col: str,
    max_pruned_terms: int,
    pending_deletes_path: str | None,
) -> tuple[list[str], DataFrame | None, DataFrame | None] | None:
    """Per-batch BM25 prep shared by :func:`serve_bm25_queries` and
    :func:`serve_search_queries`: the batch's distinct usable query
    terms and the ``(postings, stats)`` that serve them.

    Returns ``([], None, None)`` when the batch carries no usable term
    (null/blank elements are dropped — they match no posting, and a
    null would break ``sorted``), and ``None``, with a warning, while
    the index artifact is not initialized: such a batch commits with
    no results instead of wedging the stream, and its queries are not
    retried once the index appears.  The term pool is capped at
    ``max_pruned_terms + 1``; past ``max_pruned_terms`` the read falls
    back to the unpruned manifest read instead of shipping a huge
    IN-list into the scan.

    The pending-deletes overlay is localized driver-side (one bounded
    collect) so the batch's task plan never references the overlay
    files a purge loop may be rewriting.  A missing path means no
    pending deletions; a read that fails mid-rewrite serves the batch
    without the overlay and warns (bounded staleness —
    merge-on-compact deletion stays authoritative)."""
    import warnings

    from pyspark.errors import AnalysisException

    from ..operators.manifest import manifest_resolve
    from ..operators.retrieval import (
        _POSTINGS_SUBDIR,
        load_postings_artifact,
        read_index_artifact,
    )

    term_rows = (
        df.select(F.explode(terms_col).alias("t"))
        .where(F.col("t").isNotNull() & (F.col("t") != ""))
        .distinct()
        .limit(int(max_pruned_terms) + 1)
        .collect()
    )
    terms = sorted(r["t"] for r in term_rows)
    if not terms:
        return [], None, None
    if manifest_resolve(spark, f"{index_root}/{_POSTINGS_SUBDIR}") is None:
        warnings.warn(
            f"{caller}: index artifact {index_root!r} not initialized "
            "yet; batch served with no results"
        )
        return None
    dels = None
    if pending_deletes_path is not None:
        try:
            overlay = spark.read.option(
                "ignoreMissingFiles", "true"
            ).parquet(pending_deletes_path)
            rows = overlay.collect()
            if rows:
                dels = spark.createDataFrame(rows, overlay.schema)
        except AnalysisException:
            dels = None  # path absent/cleared: nothing pending
        except Exception as exc:  # mid-rewrite torn state
            warnings.warn(
                f"{caller}: pending-deletes overlay at "
                f"{pending_deletes_path!r} unreadable this batch "
                f"({type(exc).__name__}); serving without it "
                "(bounded staleness — rewrite the overlay "
                "atomically via temp dir + rename)"
            )
            dels = None
    if len(terms) > max_pruned_terms:
        post, stats = read_index_artifact(
            spark, index_root, pending_deletes=dels, id_col=id_col
        )
    else:
        post, stats = load_postings_artifact(
            spark, index_root, terms, pending_deletes=dels, id_col=id_col
        )
    return terms, post, stats


def serve_bm25_queries(
    stream: DataFrame,
    index_root: str,
    output_path: str,
    checkpoint: str,
    k: int = 10,
    k1: float = 1.2,
    b: float = 0.75,
    idf: str = "robertson",
    id_col: str = "doc_id",
    q_id_col: str = "q_id",
    terms_col: str = "terms",
    scale: int | None = None,
    max_pruned_terms: int = 10_000,
    pending_deletes_path: str | None = None,
    _pre_batch_hook=None,
):
    """Streaming BM25 query serving: answer a STREAM of term queries
    against the persisted incremental inverted index — the lexical
    twin of :func:`serve_ann_queries`, completing the same lifecycle
    (``retrieval.index_append``/:func:`maintain_inverted_index` keep
    the index fresh, ``retrieval.index_compact`` folds it, this serves
    it).

    The index is re-resolved through its manifest at EVERY micro-batch
    (one small-file read + one listing), so epochs a maintenance loop
    appends and versions a compaction commits become searchable
    MID-STREAM, no restart needed — and unlike the ANN tier there is
    no offline-rebuild freshness boundary at all: the index has no
    trained model state.

    Term-bounded reads: each batch's distinct query terms are
    collected driver-side (queries are human-sized) and the postings
    scan partition-prunes to their md5 buckets via
    ``retrieval.load_postings_artifact``; a degenerate batch with more
    than ``max_pruned_terms`` distinct terms falls back to the
    unpruned manifest read instead of shipping a huge IN-list into the
    scan.  Corpus stats (n_docs/avgdl) come from the artifact's
    SUM-mergeable stats rows — per-batch, so they too are always
    current.

    Results land under ``output_path/epoch=<id>/`` with dynamic
    overwrite — the epoch-ownership contract of every loop here, so a
    foreachBatch replay rewrites its own epoch and the result log is
    exactly-once under retries.  Schema: (q_id, rank, doc_id, score).

    ``pending_deletes_path`` — an optional parquet path of purged doc
    ids (first column), RE-READ per micro-batch and applied as the
    pending-deletes overlay (``retrieval.load_postings_artifact``'s
    ``pending_deletes=``): a purge loop lands ids there the moment a
    doc must stop being served, they vanish from every later batch's
    top-k immediately — postings AND corpus stats corrected — and the
    physical rows die at the next ``index_compact(delete_ids=...)``,
    after which the purge loop clears/rewrites the file.  A missing or
    empty path is simply "no pending deletions".  The overlay is
    LOCALIZED driver-side at batch-plan time (collected once per
    batch — it is bounded by contract: ids pending between two
    compactions, the same smallness the overlay's broadcast anti-join
    already assumes), so the batch's task plan never references the
    overlay files: a purge loop rewriting the path mid-batch can no
    longer raise an executor-side FileNotFound that fails the batch
    and forces a checkpoint replay.  Files deleted between the read's
    listing and its scan are skipped (``ignoreMissingFiles``), and a
    read that still fails because the overlay is mid-rewrite degrades
    to "no overlay this batch" with a warning — bounded staleness
    (merge-on-compact deletion stays authoritative), never a wedged
    stream.  Purge loops should still replace the overlay atomically
    (write a temp dir, then rename) where the store allows it.

    Robustness: a query whose ``terms`` are null/empty (or contain
    null/blank elements) cannot poison the stream — bad elements are
    filtered, a batch with no usable terms (and queries arriving
    before the first ``index_append`` initializes the artifact)
    commits with no result rows instead of raising, because a raising
    batch would replay from the checkpoint forever.

    ``_pre_batch_hook(batch_id)`` is the test seam shared with the ANN
    server (inject an append/compaction, assert the batch sees it).
    Returns the started StreamingQuery."""
    from ..operators.retrieval import bm25_topk_batch

    spark = stream.sparkSession

    def _batch(df, epoch_id):
        if _pre_batch_hook is not None:
            _pre_batch_hook(int(epoch_id))
        if not df.head(1):
            return
        # a batch with no usable terms is a valid no-answer batch:
        # every query scores zero docs, so it commits with no rows
        got = _batch_postings(
            spark, df, "serve_bm25_queries", index_root, terms_col,
            id_col, max_pruned_terms, pending_deletes_path,
        )
        if got is None or not got[0]:
            return
        _, post, stats = got
        out = bm25_topk_batch(
            post, df, k=k, k1=k1, b=b, idf=idf, id_col=id_col,
            q_id_col=q_id_col, terms_col=terms_col, stats=stats, scale=scale,
        )
        (
            out.withColumn("epoch", F.lit(int(epoch_id)))
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("epoch")
            .parquet(output_path)
        )

    return _start_loop(stream, _batch, checkpoint)


def serve_search_queries(
    stream: DataFrame,
    index_root: str,
    output_path: str,
    checkpoint: str,
    k: int = 10,
    k1: float = 1.2,
    b: float = 0.75,
    idf: str = "robertson",
    id_col: str = "doc_id",
    q_id_col: str = "q_id",
    terms_col: str = "terms",
    mode_col: str = "mode",
    slop_col: str = "slop",
    scale: int | None = None,
    rrf_k0: int = 60,
    max_pruned_terms: int = 10_000,
    pending_deletes_path: str | None = None,
    ann_index_path: str | None = None,
    q_vec_col: str = "q_vec",
    n_probe: int = 4,
    fuzzy_vocab_path: str | None = None,
    fuzzy_max_edits: int | None = None,
    champion_m: int | None = None,
    fusion: str = "rrf",
    fusion_weights: tuple[float, float] = (1.0, 1.0),
    fused_span_scope: str = "all",
    _pre_batch_hook=None,
):
    """Mixed-mode search serving (r15 verdict #5): one query stream,
    FIVE query shapes, ONE pruned index load per micro-batch.  Real
    serving is fused — the tier's own capstones (q123/q131/q136) rank
    by BM25 *and* positional or dense evidence — so the server accepts
    per-row modes instead of forcing a BM25-only loop next to offline
    proximity jobs:

    * ``'bm25'``   — Okapi top-k (:func:`retrieval.bm25_topk_batch`),
      set-based over the whole batch, exactly
      :func:`serve_bm25_queries`' answer shape.  ``score`` = BM25.
    * ``'phrase'`` — exact adjacency (:func:`retrieval.phrase_search`)
      ranked by (n_matches DESC, doc); ``score`` = n_matches.
    * ``'proximity'`` — ordered slop windows
      (:func:`retrieval.proximity_search`, per-row ``slop``, null →
      0 ≡ phrase semantics); ``score`` = n_matches.
    * ``'fused'``  — the q131 recipe: BM25 top-``4k`` fused with the
      MinDist tightness ranking (:func:`retrieval.min_span` ASC) by
      reciprocal-rank fusion; ``score`` = RRF score.
    * ``'hybrid'`` — the q136 recipe, dense+lexical: BM25 top-``4k``
      fused by RRF with an IVF ANN top-``4k`` over the row's
      ``q_vec_col`` vector against the ``ann_index_path`` artifact
      (an :func:`similarity.ivf_save` layout whose vector ids ARE
      document ids — document embeddings); ``score`` = RRF score.
      Requires ``ann_index_path``; hybrid rows are skipped with a
      warning without it.  A hybrid row with a vector but NO terms is
      legal — it serves its dense arm alone (r18: a batch of pure
      vector-only rows serves too; the postings artifact is only
      loaded when some row carries terms).  The ANN model state (centroids) loads once
      at start and the assignments re-resolve through their manifest
      per batch — :func:`serve_ann_queries`'s freshness contract, so
      :func:`maintain_ivf_index` appends and ``ivf_compact`` commits
      are searchable mid-stream here too (a full rebuild still needs
      a serving restart, same boundary).

    Index resolution, term-bounded pruning, pending-deletes overlay,
    epoch-owned output and poison-pill hardening are all inherited
    from :func:`serve_bm25_queries` — same manifest re-resolve per
    batch, so maintenance appends/compactions are searchable
    mid-stream in every mode.

    ``fuzzy_vocab_path`` (typo-robust serving): a
    :func:`retrieval.write_fuzzy_vocab` artifact; when set, ``bm25``
    rows' terms spelling-correct per batch through the pruned
    variant-bucket lookup (:func:`retrieval.fuzzy_match_terms` +
    :func:`retrieval.fuzzy_best_match` — dist asc, df desc, term asc;
    exact terms correct to themselves at distance 0, no-match terms
    drop, a fully-dropped query goes unanswered: the q138 recipe
    online).  Positional modes stay exact-match by contract (their
    semantics ARE the literal tokens); fused/hybrid compose their own
    lexical arms uncorrected.  The artifact is a static offline
    build — rebuild it when the vocabulary drifts (same boundary as
    the ANN model state).

    ``champion_m`` (hot-query pruning): when set, ``bm25`` rows score
    only the union of their terms' top-``champion_m`` impact-ordered
    champions instead of every doc containing any term
    (:func:`retrieval.champion_lists` over the batch's pruned
    postings — term-wise COMPLETE lists, so champion selection over
    them equals selection over the full index; scoring stays exact
    over the same postings with the artifact's full stats).  The
    m-vs-recall trade is the caller's; ``bench.py``'s ``champion``
    block measures it.

    ``fusion`` — how the fused/hybrid arms combine: ``'rrf'``
    (default, the calibration-free q131/q136 recipes) or ``'score'``
    (``retrieval.score_fuse_batch``'s CombSUM: per-arm min-max
    normalization into [0, 1] then a weighted sum, each arm tagged
    with its weight at construction — lexical arms carry
    ``fusion_weights[0]``, the tightness/dense arm
    ``fusion_weights[1]``, so a hybrid row with a vector but no terms
    still fuses under the dense weight — the q143 recipe online, for
    callers who want to tune the lexical/dense balance; the fused
    arm's tightness score is ``-min_span``, orientation being all
    min-max needs).
    bm25/phrase/proximity rows are single-arm and ignore the setting.

    ``fused_span_scope`` — which documents the fused arm's MinDist
    leg folds spans for: ``'all'`` (default — every doc containing
    all terms, the q131 recipe verbatim) or ``'lex'`` (only the BM25
    top-``4k`` candidates already materialized for the fused arm — a
    (q_id, doc) broadcast restriction BEFORE the span fold's shuffle,
    the candidate-generation-then-rerank shape).  ``'lex'`` bounds
    the heaviest fused subplan at 4k rows per query however common
    the terms, at a recall trade: a doc whose tightness alone would
    have fused in no longer can (mode_floor's ``fused_lex`` row
    measures the wall difference; pick per workload).

    Scale posture: the batch's DISTINCT terms (all modes pooled)
    drive ONE partition-pruned postings load, PERSISTED for the batch
    so every arm scores from the same cached scan (r17 arm fusion —
    pre-fusion each arm's subtree re-read the artifact and mixed-batch
    p50 ran ~4x the bm25-only p50); the micro-batch itself persists
    too (the term pools, presence probe and every arm re-read it), and
    arm presence is ONE aggregation job instead of per-arm head(1)
    probes.  EVERY arm is set-based over the whole batch — the bm25
    arm, the fused arm's BM25 leg and the hybrid arm's lexical leg
    are ONE :func:`retrieval.bm25_topk_batch` pass keyed by
    (q_id, mode) at the largest k any consumer needs (each arm slices
    its own k; a champion-pruned bm25 arm keeps a dedicated pass so
    its candidate restriction cannot leak); phrase/proximity ride
    :func:`retrieval.positional_search_batch` (per-row slop; phrase =
    slop 0), fused adds :func:`retrieval.min_span_batch` +
    :func:`retrieval.rrf_fuse_batch` — a bounded number of subplans
    per batch regardless of query count, no driver-side per-query
    planning.  Each ranking bounds before its exchange (the
    WindowGroupLimit/TakeOrdered contract pinned in
    ``retrieval.bm25_topk_batch``).  Rows with an unknown mode are
    skipped with a warning — a malformed producer must not wedge the
    stream.

    Output schema: ``(q_id, mode, rank, doc_id, score)`` under
    ``output_path/epoch=<id>/``.  Returns the started StreamingQuery."""
    import warnings

    from pyspark.sql import Window

    from ..operators.retrieval import (
        bm25_topk_batch,
        min_span_batch,
        positional_search_batch,
        rrf_fuse_batch,
        score_fuse_batch,
    )

    if fusion not in ("rrf", "score"):
        raise ValueError(f"fusion must be 'rrf' or 'score', got {fusion!r}")
    if fused_span_scope not in ("all", "lex"):
        raise ValueError(
            f"fused_span_scope must be 'all' or 'lex', got "
            f"{fused_span_scope!r}"
        )

    def _fuse(arms):
        """Combine the fused/hybrid arms per the configured fusion
        mode.  ``arms`` is a list of ``(frame, weight)`` pairs — each
        frame carries ``(q_id, id, rank, score)`` and its weight at
        construction (lexical arms ``fusion_weights[0]``, the
        tightness/dense arm ``fusion_weights[1]``), so a query whose
        lexical arm is ABSENT (e.g. a hybrid row with a vector but no
        terms) still fuses its dense scores under the dense weight —
        a positional ``weights[:len(arms)]`` slice would silently
        hand it the lexical weight (ADVICE r17).  rrf consumes the
        ranks and ignores the weights (q131/q136's calibration-free
        recipe); score consumes the scores (score_fuse_batch's
        CombSUM: per-arm min-max into [0,1], weighted sum).  Both
        return ``(q_id, rank, id, score)`` top-k per query."""
        if fusion == "rrf":
            f = rrf_fuse_batch(
                [a.select(q_id_col, id_col, "rank") for a, _ in arms],
                id_col=id_col, q_id_col=q_id_col, k=rrf_k0,
                topk=int(k), scale=scale,
            )
            return f.select(
                q_id_col, "rank", id_col,
                F.col("rrf_score").cast("double").alias("score"),
            )
        f = score_fuse_batch(
            [a.select(q_id_col, id_col, "score") for a, _ in arms],
            weights=[w for _, w in arms],
            id_col=id_col, q_id_col=q_id_col, score_col="score",
            topk=int(k), scale=scale or 10**6,
        )
        return f.select(
            q_id_col, "rank", id_col,
            F.col("fused_score").cast("double").alias("score"),
        )

    spark = stream.sparkSession
    _MODES = ("bm25", "phrase", "proximity", "fused", "hybrid")
    ann_cents = None
    ann_codes_root = None
    if ann_index_path is not None:
        if q_vec_col not in stream.columns:
            raise ValueError(
                f"ann_index_path set but the query stream has no "
                f"{q_vec_col!r} column for hybrid rows"
            )
        from ..operators.similarity import ivf_load

        # model state (centroids) loads ONCE — the stable part of the
        # index (serve_ann_queries's contract); assignments re-resolve
        # per batch below for freshness
        _, ann_cents = ivf_load(spark, ann_index_path)
        ann_codes_root = ann_index_path.rstrip("/") + "/assignments"

    def _batch(df, epoch_id):
        # arm fusion (r16 verdict #3): the five mode arms and the
        # driver-side term pools all read the SAME micro-batch and the
        # SAME pruned postings — persist both for the batch so each is
        # computed once (the batch re-reads from memory across the
        # probes/pools, the postings scan serves every arm of the one
        # union write), and fold the per-arm head(1) presence probes
        # into ONE aggregation job
        if _pre_batch_hook is not None:
            _pre_batch_hook(int(epoch_id))
        df = df.persist()
        hold = {}
        try:
            _batch_fused(df, epoch_id, hold)
        finally:
            df.unpersist()
            for h in ("post", "lex"):
                cached = hold.get(h)
                if cached is not None:
                    cached.unpersist()

    def _batch_fused(df, epoch_id, _hold):
        if not df.head(1):
            return
        if fuzzy_vocab_path is not None:
            from ..operators.retrieval import (
                fuzzy_best_match,
                fuzzy_match_terms,
            )

            bm_rows = (
                df.where(F.col(mode_col) == "bm25")
                .select(F.explode(terms_col).alias("t"))
                .where(F.col("t").isNotNull() & (F.col("t") != ""))
                .distinct()
                .limit(int(max_pruned_terms) + 1)
                .collect()
            )
            if len(bm_rows) > int(max_pruned_terms):
                # the limit(N+1) pool overflowed: some distinct terms
                # never reached fuzzy_match_terms, and the inner join
                # below would silently DROP them from queries — serve
                # the batch uncorrected instead (the read_index_artifact
                # fallback's sibling; correctness over correction)
                warnings.warn(
                    "serve_search_queries: batch has more than "
                    f"{max_pruned_terms} distinct bm25 terms; fuzzy "
                    "correction skipped for this batch (terms served "
                    "uncorrected)"
                )
                bm_terms = []
            else:
                bm_terms = sorted(r["t"] for r in bm_rows)
            if bm_terms:
                best = fuzzy_best_match(
                    fuzzy_match_terms(
                        spark, fuzzy_vocab_path, bm_terms,
                        max_edits=fuzzy_max_edits,
                    )
                )
                cor = (
                    df.where(F.col(mode_col) == "bm25")
                    .select(
                        q_id_col, F.explode(terms_col).alias("q_term")
                    )
                    .join(F.broadcast(best), "q_term")
                    .groupBy(q_id_col)
                    .agg(F.collect_set("term").alias("_cterms"))
                )
                df = (
                    df.join(F.broadcast(cor), q_id_col, "left")
                    .withColumn(
                        terms_col,
                        F.when(
                            F.col(mode_col) == "bm25",
                            F.coalesce(
                                F.col("_cterms"),
                                F.array().cast("array<string>"),
                            ),
                        ).otherwise(F.col(terms_col)),
                    )
                    .drop("_cterms")
                )
        got = _batch_postings(
            spark, df, "serve_search_queries", index_root, terms_col,
            id_col, max_pruned_terms, pending_deletes_path,
        )
        if got is None:
            return
        terms, post, stats = got
        # a batch can legitimately carry no terms at all — e.g. pure
        # vector-only hybrid rows — and must still serve its dense
        # arm: the postings artifact is only needed by the lexical and
        # positional scorers
        dense_only = not terms
        if dense_only and ann_codes_root is None:
            return
        if post is not None:
            # one pruned postings load serves EVERY arm of the union
            # write below — without the persist each arm's subtree
            # re-scans the artifact (measured: mixed-batch p50 ~4x the
            # bm25-only p50 pre-fusion, BENCH_LOCAL serving.mixed)
            post = post.persist()
            _hold["post"] = post

        # null/empty term CELLS drop row-side (a producer convenience
        # the single-query path also had); fully-empty rows are then
        # skipped by the batch operators' contracts
        clean_terms = F.filter(
            F.col(terms_col), lambda t: t.isNotNull() & (t != "")
        )
        # ONE presence aggregation replaces the six per-arm head(1)
        # probes and the unknown-mode probe — each was its own job
        # over the batch
        def _n(cond):
            return F.sum(F.when(cond, 1).otherwise(0))

        is_hybrid = F.col(mode_col) == "hybrid"
        pres = df.agg(
            _n(F.col(mode_col) == "bm25").alias("bm"),
            _n(F.col(mode_col).isin("phrase", "proximity")).alias("pos"),
            _n(
                (F.col(mode_col) == "fused") & (F.size(clean_terms) > 0)
            ).alias("fq"),
            _n(is_hybrid).alias("hy"),
            _n(is_hybrid & (F.size(clean_terms) > 0)).alias("hl"),
            (
                _n(is_hybrid & F.col(q_vec_col).isNotNull())
                if q_vec_col in df.columns
                else F.lit(0)
            ).alias("hv"),
            _n(
                ~F.col(mode_col).isin(*_MODES) | F.col(mode_col).isNull()
            ).alias("bad"),
        ).collect()[0]
        if pres["bad"]:
            warnings.warn(
                f"serve_search_queries: {pres['bad']} row(s) with "
                "unknown mode skipped"
            )
        # with no terms in the batch, fq/hl are structurally 0 (both
        # require a non-empty cleaned terms array); bm/pos rows, if
        # any, carry only null/empty terms and have nothing to score
        n_bm = 0 if dense_only else pres["bm"]
        n_pos = 0 if dense_only else pres["pos"]
        if dense_only and not pres["hv"]:
            return
        outs = []
        # UNIFIED lexical scoring (r17, r16 verdict #3): the bm25
        # arm, the fused arm's BM25 leg and the hybrid arm's lexical
        # leg are the SAME operator over the SAME cached postings —
        # score them in ONE bm25_topk_batch pass keyed by a
        # (q_id, mode) struct (a q_id may legally recur across
        # modes), at the largest k any consumer needs; each arm
        # slices its mode at its own k (the top-k prefix of a top-4k
        # ranking IS the top-k ranking).  A champion-pruned bm25 arm
        # keeps its dedicated pass — its candidate restriction must
        # not leak into fused/hybrid.
        bm_dedicated = champion_m is not None
        lex_modes = []
        if n_bm and not bm_dedicated:
            lex_modes.append("bm25")
        if pres["fq"]:
            lex_modes.append("fused")
        if pres["hl"] and ann_codes_root is not None:
            lex_modes.append("hybrid")
        lex = None
        if lex_modes:
            k_lex = (
                4 * int(k)
                if any(m != "bm25" for m in lex_modes)
                else int(k)
            )
            lexq = df.where(F.col(mode_col).isin(*lex_modes)).select(
                F.struct(
                    F.col(q_id_col).alias("q"),
                    F.col(mode_col).alias("m"),
                ).alias("_qm"),
                clean_terms.alias(terms_col),
            ).where(F.size(terms_col) > 0)
            lex = bm25_topk_batch(
                post, lexq, k=k_lex, k1=k1, b=b, idf=idf,
                id_col=id_col, q_id_col="_qm", terms_col=terms_col,
                stats=stats, scale=scale,
            ).select(
                F.col("_qm.q").alias(q_id_col),
                F.col("_qm.m").alias("_m"),
                F.col(id_col),
                "rank",
                "score",
            )
            # MATERIALIZE the unified ranking (<= k_lex rows per
            # query): up to three arms consume it inside the one
            # union write, and an unpersisted frame would re-execute
            # the whole scoring subtree under each consumer — the
            # exact re-computation this pass exists to remove
            lex = lex.persist()
            _hold["lex"] = lex
        if n_bm and not bm_dedicated:
            outs.append(
                lex.where(
                    (F.col("_m") == "bm25") & (F.col("rank") <= int(k))
                ).select(
                    F.col(q_id_col),
                    F.lit("bm25").alias("mode"),
                    "rank",
                    F.col(id_col).alias("doc_id"),
                    F.col("score").cast("double").alias("score"),
                )
            )
        elif n_bm:
            from ..operators.retrieval import (
                champion_candidates,
                champion_lists,
            )

            bm = df.where(F.col(mode_col) == "bm25").select(
                q_id_col, clean_terms.alias(terms_col)
            )
            bm_cands = champion_candidates(
                champion_lists(
                    post, m=int(champion_m), k1=k1, b=b,
                    id_col=id_col, stats=stats,
                ),
                bm, id_col=id_col, q_id_col=q_id_col,
                terms_col=terms_col,
            )
            outs.append(
                bm25_topk_batch(
                    post, bm, k=k, k1=k1, b=b, idf=idf, id_col=id_col,
                    q_id_col=q_id_col, terms_col=terms_col, stats=stats,
                    scale=scale, candidates=bm_cands,
                ).select(
                    F.col(q_id_col),
                    F.lit("bm25").alias("mode"),
                    "rank",
                    F.col(id_col).alias("doc_id"),
                    F.col("score").cast("double").alias("score"),
                )
            )
        # phrase + proximity: ONE batched positional pass (phrase =
        # slop 0), ranked (n_matches desc, doc) per query with the
        # rank-then-filter WindowGroupLimit shape
        # keyed by the same (q_id, mode) struct as the lexical pass —
        # positional_search_batch requires UNIQUE query ids, and a
        # q_id may legally recur as both a phrase and a proximity row
        posq = df.where(
            F.col(mode_col).isin("phrase", "proximity")
        ).select(
            F.struct(
                F.col(q_id_col).alias("q"),
                F.col(mode_col).alias("m"),
            ).alias("_qm"),
            clean_terms.alias(terms_col),
            F.when(
                F.col(mode_col) == "proximity",
                F.coalesce(
                    (
                        F.col(slop_col).cast("int")
                        if slop_col in df.columns
                        else F.lit(0)
                    ),
                    F.lit(0),
                ),
            ).otherwise(F.lit(0)).alias("_slop"),
        )
        if n_pos:
            matches = positional_search_batch(
                post, posq, id_col=id_col, q_id_col="_qm",
                terms_col=terms_col, slop_col="_slop",
            )
            wp = Window.partitionBy("_qm").orderBy(
                F.desc("n_matches"), F.col(id_col)
            )
            ranked = (
                matches.withColumn("rank", F.row_number().over(wp))
                .where(F.col("rank") <= int(k))
            )
            outs.append(
                ranked.select(
                    F.col("_qm.q").alias(q_id_col),
                    F.col("_qm.m").alias("mode"),
                    "rank",
                    F.col(id_col).alias("doc_id"),
                    F.col("n_matches").cast("double").alias("score"),
                )
            )
        # fused — the q131 recipe, batched: batch BM25 top-4k + batch
        # MinDist tightness ranking, RRF-fused per query
        fq = df.where(F.col(mode_col) == "fused").select(
            q_id_col, clean_terms.alias(terms_col)
        ).where(F.size(terms_col) > 0)
        if pres["fq"]:
            bm4 = lex.where(F.col("_m") == "fused").select(
                q_id_col, id_col, "rank", "score"
            )
            spans = min_span_batch(
                post, fq, id_col=id_col, q_id_col=q_id_col,
                terms_col=terms_col,
                candidates=(
                    bm4.select(q_id_col, id_col)
                    if fused_span_scope == "lex"
                    else None
                ),
            )
            ws = Window.partitionBy(q_id_col).orderBy(
                "min_span", F.col(id_col)
            )
            prox = (
                spans.withColumn("rank", F.row_number().over(ws))
                .where(F.col("rank") <= 4 * int(k))
                # tightness as a SCORE for the fusion="score" path:
                # smaller span = better, so negate — min-max
                # normalization is shift/scale-invariant, only the
                # orientation matters
                .select(
                    q_id_col, id_col, "rank",
                    (-F.col("min_span")).cast("double").alias("score"),
                )
            )
            outs.append(
                _fuse(
                    [(bm4, fusion_weights[0]), (prox, fusion_weights[1])]
                ).select(
                    F.col(q_id_col),
                    F.lit("fused").alias("mode"),
                    "rank",
                    F.col(id_col).alias("doc_id"),
                    "score",
                )
            )
        # hybrid — the q136 recipe: batch BM25 + batch IVF ANN over
        # the persisted vector artifact, RRF-fused per query
        hyq = df.where(F.col(mode_col) == "hybrid")
        if pres["hy"]:
            if ann_codes_root is None:
                warnings.warn(
                    "serve_search_queries: hybrid row(s) skipped — no "
                    "ann_index_path configured"
                )
            else:
                from ..operators.manifest import read_artifact
                from ..operators.similarity import ivf_topk_batch

                arms = []
                if pres["hl"]:
                    arms.append((
                        lex.where(F.col("_m") == "hybrid").select(
                            q_id_col, id_col, "rank", "score"
                        ),
                        fusion_weights[0],
                    ))
                hv = hyq.where(F.col(q_vec_col).isNotNull()).select(
                    q_id_col, q_vec_col
                )
                if pres["hv"]:
                    sims = ivf_topk_batch(
                        read_artifact(spark, ann_codes_root),
                        ann_cents, hv, k=4 * int(k), n_probe=n_probe,
                        q_id_col=q_id_col, q_vec_col=q_vec_col,
                    )
                    # bounded frame (<= 4k rows per query from the
                    # batch probe's own two-phase top-k)
                    wv = Window.partitionBy(q_id_col).orderBy(
                        F.desc("sim_fx"), F.col("vec_id")
                    )
                    arms.append((
                        sims.withColumn("rank", F.row_number().over(wv))
                        .where(F.col("rank") <= 4 * int(k))
                        .select(
                            q_id_col,
                            F.col("vec_id").alias(id_col),
                            "rank",
                            F.col("sim_fx").cast("double").alias(
                                "score"
                            ),
                        ),
                        fusion_weights[1],
                    ))
                if arms:
                    outs.append(
                        _fuse(arms).select(
                            F.col(q_id_col),
                            F.lit("hybrid").alias("mode"),
                            "rank",
                            F.col(id_col).alias("doc_id"),
                            "score",
                        )
                    )
        if not outs:
            return
        out = outs[0]
        for o in outs[1:]:
            out = out.unionByName(o)
        (
            out.withColumn("epoch", F.lit(int(epoch_id)))
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("epoch")
            .parquet(output_path)
        )

    return _start_loop(stream, _batch, checkpoint)


def lm_gate_stream(
    stream: DataFrame,
    model: DataFrame,
    output_path: str,
    checkpoint: str,
    min_score: float,
    quarantine_path: str | None = None,
    n: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
    scale: int = 10**6,
    group_cols: list[str] | None = None,
    salt: int | None = None,
):
    """Streaming LM quality gate: score each ingested document against
    a FROZEN n-gram model (``text.ngram_lm_train`` /
    ``text.load_ngram_lm``, optionally per-group with ``group_cols``)
    and land only those clearing ``min_score`` — the CCNet perplexity
    filter enforced at ingest time instead of by a later full-corpus
    sweep (the streaming stage q126 is the batch capstone of).

    The threshold is a frozen NUMBER, not a per-batch quantile: a
    corpus-relative cut recomputed per micro-batch would drift with
    batch composition (a batch of good docs would start rejecting good
    docs).  Freeze it offline — score a reference corpus, take the
    quantile (``pipeline.quantile_threshold_filter``'s aggregate, or
    q126's plan), and pass the value; rebuild the stream to move it,
    the same model-reload contract as ``serve_ann_queries``.

    The model persists ONCE at start (it is the stable side; counts
    are vocabulary-sized).  Because a persisted model side blocks
    AQE's skew-join (no shuffle stage to split against), ``salt`` is
    THE stopword-skew knob for this stream — hot-gram salting in
    ``ngram_lm_score``, bit-identical results.  Per batch: one ``ngram_lm_score`` pass
    (fixed-point ``scale`` — deterministic, so a replayed batch
    re-decides identically), one id join back to the full rows, and
    the kept docs land via ``manifest.write_epoch`` — epoch-owned
    overwrite, exactly-once.  ``quarantine_path`` additionally lands
    the rejects (kept ∪ quarantined == batch, the audit invariant);
    unscoreable docs (null/blank text — no LM evidence) go to
    quarantine, the CCNet drop-empty convention.  Returns the started
    StreamingQuery; the persisted model is released automatically when
    the query terminates (a QueryTerminatedEvent listener keyed on the
    query id — availableNow runs clean up after themselves, and
    callers of long-lived streams need no handle)."""
    from ..operators.manifest import write_epoch
    from ..operators.text import ngram_lm_score

    model = model.persist()
    model.count()  # materialize once, before the first batch

    def _batch(df, epoch_id):
        if not df.head(1):
            return
        scored = ngram_lm_score(
            df, model, n=n, scale=scale, group_cols=group_cols,
            salt=salt,
        ).select(id_col, "n_tokens", "lm_score")
        # persist: the scored join (the expensive 2n-1-lookup subtree)
        # is consumed twice when quarantine_path is set — without this
        # every batch re-scores once per sink, and a nondeterministic
        # source could even break kept ∪ quarantined == batch
        joined = df.join(scored, id_col, "left").persist()
        try:
            keep = F.col("lm_score").isNotNull() & (
                F.col("lm_score") >= F.lit(float(min_score))
            )
            write_epoch(joined.where(keep), output_path, int(epoch_id))
            if quarantine_path is not None:
                write_epoch(
                    joined.where(~F.coalesce(keep, F.lit(False))),
                    quarantine_path,
                    int(epoch_id),
                )
        finally:
            joined.unpersist()

    query = _start_loop(stream, _batch, checkpoint)

    from pyspark.sql.streaming import StreamingQueryListener

    spark = model.sparkSession

    class _Release(StreamingQueryListener):
        # releases the cached model when THIS query ends, so
        # availableNow runs don't leak executor memory for the
        # application lifetime (ADVICE r15)
        def onQueryStarted(self, event):
            pass

        def onQueryProgress(self, event):
            pass

        def onQueryTerminated(self, event):
            if str(event.id) == str(query.id):
                try:
                    model.unpersist()
                finally:
                    spark.streams.removeListener(self)

    listener = _Release()
    spark.streams.addListener(listener)
    # the listener registers AFTER the query starts: a fast availableNow
    # query can have already terminated, in which case its
    # QueryTerminatedEvent was delivered before we subscribed and the
    # persisted model would leak — the exact leak this listener exists
    # to fix (ADVICE r16).  isActive is False only after termination,
    # so release inline; unpersist() is idempotent if the event DID
    # race in between.
    if not query.isActive:
        try:
            model.unpersist()
        finally:
            spark.streams.removeListener(listener)
    return query
