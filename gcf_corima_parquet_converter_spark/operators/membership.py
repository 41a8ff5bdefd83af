"""Bloom-filter membership — the 100 TB shape of "drop every row whose
key is on a blocklist".

The naive plan is an anti-join: the corpus shuffles on the key (or the
blocklist broadcasts raw — fine for thousands of keys, dead for
hundreds of millions).  A Bloom filter replaces that with a NARROW map:
the blocklist compresses into ``m`` bits (~10 bits/key at 1% false
positives — 100M keys ≈ 120 MB, broadcastable where the raw keys are
not), every corpus row tests k bit positions with zero shuffle, and
because a Bloom filter has NO false negatives the test is a safe
PRE-filter: definitely-not rows pass for free, and only the tiny
maybe-set (true hits + fpp·corpus) pays the exact verification join —
so :func:`bloom_decontaminate` returns EXACT results while the corpus
crosses the wire never.

Spark's own ``bloom_filter_agg``/``might_contain`` expressions are not
exposed through the public SQL/Python surface, so the filter here is
built from public primitives and stays whole-stage-codegen JVM:

* k hash functions = ``xxhash64(key, seed_i)`` for seeds 0..k-1
  (xxhash64 over (column, literal) — one JVM hash per seed, the same
  double-hashing family every production Bloom uses);
* the bit array is packed into ``array<long>`` words; the probe is
  ``element_at(words, pos div 64) & (1 << pos % 64)`` via ``bit_get``
  — a few long ops per row, no UDF anywhere;
* the words array rides as a ONE-ROW broadcast-joined frame, so the
  plan stays O(k) expressions regardless of filter size (a literal
  array would inline megabytes into the plan tree).

Build is distributed: keys explode to k (seed, position) rows, the
positions group-reduce into words with ``bit_or`` — one narrow map +
one aggregation over positions (≤ k·n rows of 8 bytes), never the raw
keys to the driver.  The packed filter persists as one row in the
manifest-versioned layout (:func:`bloom_save`, read back with
:func:`bloom_artifact_load`), with its geometry pinned in the manifest
so a saved filter can keep growing through :func:`bloom_write_epoch`.
"""

from __future__ import annotations

import math
import warnings
from functools import reduce

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

# 2^30 bits = 128 MB of words — beyond this the "broadcastable" premise
# bends; shard the blocklist or raise fpp instead
_MAX_BITS = 1 << 30


def bloom_params(n_items: int, fpp: float = 0.01) -> tuple[int, int]:
    """Optimal (m_bits, n_hashes) for ``n_items`` at false-positive
    rate ``fpp``: ``m = -n ln p / (ln 2)^2`` rounded up to a whole
    number of 64-bit words, ``k = (m/n) ln 2`` (standard sizing)."""
    if not 0.0 < fpp < 1.0:
        raise ValueError(f"fpp must be in (0, 1), got {fpp}")
    n = max(1, int(n_items))
    m = int(math.ceil(-n * math.log(fpp) / (math.log(2) ** 2)))
    m = min(_MAX_BITS, ((m + 63) // 64) * 64)
    k = max(1, round(m / n * math.log(2)))
    return m, min(k, 16)


def _positions(col, m_bits: int, n_hashes: int) -> list[Column]:
    # seed i -> xxhash64(key, i) mod m; pmod keeps the signed hash
    # in [0, m).  Probe and build MUST use this same kernel.
    return [
        F.pmod(F.xxhash64(col, F.lit(int(i))), F.lit(int(m_bits)))
        for i in range(int(n_hashes))
    ]


def bloom_build(
    df: DataFrame,
    key_col: str,
    expected_items: int | None = None,
    fpp: float = 0.01,
    m_bits: int | None = None,
    n_hashes: int | None = None,
) -> dict:
    """Build a Bloom filter over ``df[key_col]`` — distributed: keys
    never reach the driver, only the set bit POSITIONS do (bounded by
    ``m``, not by the key count; collected packed as m/64 longs).

    ``expected_items=None`` counts the distinct keys first (one extra
    aggregate over the column) — pass the known cardinality to skip it.
    Pass explicit ``m_bits``/``n_hashes`` (both) to pin the geometry —
    required when this filter will be OR-merged with others
    (:func:`bloom_or`): merge needs every side on identical params.
    Returns ``{"m_bits", "n_hashes", "n_items", "words"}``; feed to
    :func:`bloom_filter_members` / :func:`bloom_might_contain` /
    :func:`bloom_save`."""
    keys = df.select(F.col(key_col).alias("_k"))
    if (m_bits is None) != (n_hashes is None):
        raise ValueError("pass m_bits and n_hashes together, or neither")
    n = (
        int(expected_items)
        if expected_items is not None
        else keys.distinct().count()
    )
    if m_bits is not None:
        if m_bits % 64 or not 0 < m_bits <= _MAX_BITS:
            raise ValueError(f"m_bits must be a multiple of 64 <= {_MAX_BITS}")
        m_bits, n_hashes = int(m_bits), int(n_hashes)
    else:
        m_bits, n_hashes = bloom_params(n, fpp)
    pos = keys.select(
        F.explode(
            F.array(*_positions(F.col("_k"), m_bits, n_hashes))
        ).alias("_pos")
    )
    words_rows = (
        pos.select(
            (F.col("_pos") - F.pmod("_pos", F.lit(64)))
            .cast("long").alias("_w64"),
            F.pmod("_pos", F.lit(64)).cast("int").alias("_b"),
        )
        .select((F.col("_w64") / 64).cast("int").alias("_w"), "_b")
        .groupBy("_w")
        .agg(F.bit_or(F.expr("shiftleft(1L, _b)")).alias("_bits"))
        .collect()
    )
    words = [0] * (m_bits // 64)
    for r in words_rows:
        words[r["_w"]] = r["_bits"]
    return {
        "m_bits": m_bits,
        "n_hashes": n_hashes,
        "n_items": n,
        "words": words,
    }


def bloom_might_contain(col, words_col, m_bits: int, n_hashes: int) -> Column:
    """The probe predicate: true iff ALL k bit positions of ``col`` are
    set in the ``words_col`` array — pure long arithmetic
    (element_at + bit_get), whole-stage-codegen JVM.  No false
    negatives ever; false positives at the built fpp."""
    tests = []
    for pos in _positions(col, m_bits, n_hashes):
        word_idx = ((pos - F.pmod(pos, F.lit(64))) / F.lit(64)).cast("int")
        word = F.element_at(words_col, word_idx + F.lit(1))
        tests.append(
            F.bit_get(word, F.pmod(pos, F.lit(64)).cast("int")) == 1
        )
    return reduce(lambda a, b: a & b, tests)


def bloom_filter_members(
    df: DataFrame, key_col: str, bloom: dict, keep: str = "maybe"
) -> DataFrame:
    """Filter ``df`` through a built filter.  ``keep="maybe"`` returns
    the candidate members (true members + ~fpp false positives — the
    small side an exact verify join then trims);
    ``keep="definitely_not"`` returns the complement, which is EXACT
    non-membership (no false negatives).  The words array joins as ONE
    broadcast row, so the executed plan is a broadcast nested loop of
    exactly one row followed by a narrow filter — no shuffle of df."""
    if keep not in ("maybe", "definitely_not"):
        raise ValueError(f"keep must be 'maybe' or 'definitely_not': {keep}")
    spark = df.sparkSession
    wdf = spark.createDataFrame(
        [(bloom["words"],)], "_bloom_words array<long>"
    )
    pred = bloom_might_contain(
        F.col(key_col), F.col("_bloom_words"),
        bloom["m_bits"], bloom["n_hashes"],
    )
    if keep == "definitely_not":
        pred = ~pred
    return df.join(F.broadcast(wdf)).where(pred).drop("_bloom_words")


def bloom_decontaminate(
    corpus: DataFrame,
    blocklist: DataFrame,
    key_col: str,
    block_col: str | None = None,
    fpp: float = 0.01,
    expected_items: int | None = None,
    bloom: dict | None = None,
    advise: bool = True,
    strategy: str = "union",
) -> DataFrame:
    """Drop every corpus row whose key appears in ``blocklist`` —
    EXACT anti-join semantics at narrow-map cost: rows the filter
    rejects pass without touching the blocklist (no false negatives),
    and only the maybe-set (true hits + fpp·corpus) is verified with
    a real anti-join against the blocklist keys.  At 100 TB that
    means the full corpus never shuffles for the membership test —
    the verify join's left side is ~fpp of it.

    Pass a prebuilt ``bloom`` (from :func:`bloom_build` /
    :func:`bloom_artifact_load`) to reuse one filter across many
    corpora; the blocklist frame is still needed for the exact
    verification.

    Semantics match ``corpus.join(blocklist, key, "left_anti")``
    exactly — including nulls (null never equals null, so null keys
    are never blocked) — which is also why the result is oracle-
    checkable against a plain SQL anti-join.  The corpus is scanned
    twice (clean branch + maybe branch), both narrow; only the
    maybe-set crosses the wire.

    DETERMINISM REQUIREMENT: because the two branches are
    complementary predicates over separate scans, the corpus must
    evaluate identically on both — true for any parquet/table source,
    FALSE for a non-deterministic frame (``sample()`` without a seed,
    ``limit`` without an order, a source mutating between scans),
    where the branches can disagree and drop or duplicate rows
    relative to the single-pass anti-join.  For such inputs persist
    the corpus upstream, so both branches read one materialization.

    Measured regime (bench ``membership``): on a single JVM the plain
    anti-join WINS (~0.5-0.6x at 4-8M rows) — a local shuffle is
    RAM-speed, so the avoided Exchange saves nothing while the second
    scan and the k-hash probe are real.  Use the plain anti-join when
    the blocklist broadcasts or the corpus is one machine's worth; this
    operator is for the cluster regime — a corpus whose shuffle means
    network+disk, and a blocklist (100M+ keys) past the broadcast
    limit, where the plan contract (zero corpus Exchange, test-pinned)
    is the difference between touching 100 TB once and shipping it.

    ``advise=False`` silences the broadcastable-blocklist advisory —
    for callers exercising the bloom path deliberately at small scale
    (demos, tests) rather than choosing it for performance.

    ``strategy`` picks how the maybe-set is verified:

    * ``"union"`` (default, the r10 shape): two complementary WIDE
      scans — definitely-clean rows pass untouched, maybe rows verify
      with a real anti-join.  Never broadcasts anything derived from
      the corpus, so it works whatever the true-hit count is.
    * ``"hits"`` (r12 — the wide-payload winner): one NARROW scan
      (``key_col`` only — parquet column pruning makes it a fraction
      of the wide scan) bloom-filters the key stream to maybe-keys,
      a semi-join against the blocklist reduces those to the TRUE-HIT
      key list, and the hit list broadcasts back into a single
      anti-join over ONE wide scan.  The wide payload is scanned once
      and never shuffled (and never SORTED — the plain anti-join's
      SMJ sort of the wide side is what spills first) — measured
      ~1.8x the plain anti-join on an 8M x 1KB corpus (bench
      ``membership.wide``), where ``"union"``'s second wide scan
      loses.  Requires the true-hit list to fit
      a broadcast (decontamination corpora: hits are the rare case by
      construction); fall back to ``"union"`` when a large fraction
      of the corpus is blocked."""
    bcol = block_col or key_col
    if strategy not in ("union", "hits"):
        raise ValueError(f"strategy must be 'union' or 'hits', got {strategy!r}")
    if advise:
        _advise_if_antijoin_cheaper(corpus, blocklist, "bloom_decontaminate")
    block_keys = blocklist.select(F.col(bcol).alias(key_col)).distinct()
    if bloom is None:
        bloom = bloom_build(
            block_keys, key_col, expected_items=expected_items, fpp=fpp
        )
    if strategy == "hits":
        maybe_keys = bloom_filter_members(
            corpus.select(F.col(key_col)), key_col, bloom, "maybe"
        )
        hit_keys = block_keys.join(maybe_keys, key_col, "left_semi")
        return corpus.join(F.broadcast(hit_keys), key_col, "left_anti")
    clean = bloom_filter_members(corpus, key_col, bloom, "definitely_not")
    maybe = bloom_filter_members(corpus, key_col, bloom, "maybe")
    survivors = maybe.join(block_keys, key_col, "left_anti")
    return clean.unionByName(survivors)


def _plan_size_bytes(df: DataFrame) -> int:
    """Catalyst's size estimate for a frame — file-stat-based for table
    scans, computed for generated relations.  No job runs; the same
    number the planner itself uses for broadcast decisions."""
    return int(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())


def _broadcast_threshold_bytes(spark: SparkSession) -> int:
    raw = str(
        spark.conf.get("spark.sql.autoBroadcastJoinThreshold", "10MB")
    ).strip()
    try:  # plain (possibly negative: -1 = disabled) byte count
        return int(raw)
    except ValueError:
        pass
    return int(
        spark._jvm.org.apache.spark.util.Utils.byteStringAsBytes(raw)
    )


def _advise_if_antijoin_cheaper(
    corpus: DataFrame, blocklist: DataFrame, caller: str
) -> None:
    """The measured regime (bench ``membership``, r10): when the
    blocklist fits the broadcast threshold, the plain broadcast
    anti-join beats the bloom path EVERYWHERE (no shuffle to avoid, and
    the k-hash probe + second corpus scan are pure cost).  Callers who
    reach for the bloom in that regime get one warning with the fix —
    estimate from Catalyst plan stats, zero jobs run."""
    try:
        spark = corpus.sparkSession
        thresh = _broadcast_threshold_bytes(spark)
        if thresh > 0 and _plan_size_bytes(blocklist) <= thresh:
            warnings.warn(
                f"{caller}: the blocklist's estimated size fits the "
                "broadcast threshold — a plain "
                "corpus.join(blocklist, key, 'left_anti') broadcasts it "
                "and wins (no corpus shuffle to avoid, and the bloom "
                "probe + second scan are pure overhead).  Use "
                "decontaminate_auto() to pick the path from size "
                "estimates automatically.",
                stacklevel=3,
            )
    except Exception:
        pass  # advisory only — never fail the operator over telemetry


def decontaminate_auto(
    corpus: DataFrame,
    blocklist: DataFrame,
    key_col: str,
    block_col: str | None = None,
    fpp: float = 0.01,
    corpus_factor: float = 4.0,
    bloom_strategy: str = "hits",
) -> DataFrame:
    """Exact blocklist decontamination with the PATH chosen from size
    estimates (Catalyst plan stats — no job runs):

    1. blocklist fits the broadcast threshold → plain ``left_anti``
       (the planner broadcasts it; nothing for a bloom to save);
    2. blocklist too big to broadcast, corpus estimated at least
       ``corpus_factor`` x larger, and the bloom's bit array fits the
       broadcast premise → :func:`bloom_decontaminate` with
       ``strategy="hits"`` (the wide corpus is scanned once and never
       shuffles — the narrow key stream bloom-filters down to the
       true-hit list, which broadcasts back; the measured winner in
       the wide-payload regime, bench ``membership.wide``);
    3. otherwise → plain shuffle ``left_anti`` (comparable sizes: both
       sides shuffle once, the bloom's second scan buys nothing).

    All three paths return EXACTLY ``corpus.join(blocklist, key,
    'left_anti')`` rows; the choice is a plan decision only.

    ``bloom_strategy`` is the verify shape the bloom branch uses —
    ``"hits"`` (default) assumes the TRUE-HIT key list broadcasts,
    which is the decontamination posture this branch exists for
    (corpus >> blocklist and blocked keys are the rare case); pass
    ``"union"`` when a large fraction of the corpus may be blocked
    (the hit list then approaches the past-broadcast blocklist
    itself, and the union shape never broadcasts anything derived
    from the data)."""
    bcol = block_col or key_col
    block_keys = blocklist.select(F.col(bcol).alias(key_col)).distinct()
    spark = corpus.sparkSession
    thresh = _broadcast_threshold_bytes(spark)
    block_bytes = _plan_size_bytes(blocklist)
    if thresh > 0 and block_bytes <= thresh:
        return corpus.join(F.broadcast(block_keys), key_col, "left_anti")
    corpus_bytes = _plan_size_bytes(corpus)
    # ~10 bits/key at 1%: estimate keys from bytes via a conservative
    # 16 B/key, so the bloom-size check errs toward "too big"
    est_keys = max(1, block_bytes // 16)
    m_bits, _ = bloom_params(est_keys, fpp)
    if corpus_bytes >= corpus_factor * block_bytes and m_bits < _MAX_BITS:
        with warnings.catch_warnings():
            warnings.simplefilter("ignore")  # the advisory doesn't apply
            return bloom_decontaminate(
                corpus, blocklist, key_col, block_col=block_col, fpp=fpp,
                strategy=bloom_strategy,
            )
    return corpus.join(block_keys, key_col, "left_anti")


def bloom_save(spark: SparkSession, bloom: dict, path: str) -> None:
    """Persist a built filter as the one base row of a bloom artifact
    (``manifest.write_base``), its ``m_bits``/``n_hashes`` pinned in
    the manifest so :func:`bloom_write_epoch` can grow it.  Read it
    back with :func:`bloom_artifact_load`."""
    from . import manifest as M

    M.write_base(
        _bloom_row_df(spark, bloom), path,
        extra={"m_bits": int(bloom["m_bits"]),
               "n_hashes": int(bloom["n_hashes"])},
    )


# ------------------------------------------------ growing bloom artifact
# Blooms with identical geometry merge by OR — which makes a blocklist
# GROWABLE with the same manifest-versioned epoch machinery as the
# sketch shards: each micro-batch lands its batch-bloom as one epoch
# row, readers OR the base ∪ live epochs, and compaction folds them
# into one row with a one-PUT commit.  The geometry is pinned in the
# artifact's manifest metadata so every writer agrees.


def bloom_or(blooms: list[dict]) -> dict:
    """OR-merge filters with identical geometry (driver-side numpy;
    each filter is m/64 longs).  ``n_items`` sums — an UPPER bound on
    distinct keys (duplicates across sides double-count), kept for
    saturation monitoring against the geometry's design capacity."""
    import numpy as np

    if not blooms:
        raise ValueError("nothing to merge")
    m_bits, n_hashes = blooms[0]["m_bits"], blooms[0]["n_hashes"]
    words = np.zeros(m_bits // 64, dtype=np.int64)
    n = 0
    for b in blooms:
        if (b["m_bits"], b["n_hashes"]) != (m_bits, n_hashes):
            raise ValueError("bloom geometry mismatch — cannot OR-merge")
        np.bitwise_or(words, np.asarray(b["words"], dtype=np.int64),
                      out=words)
        n += int(b["n_items"])
    return {
        "m_bits": m_bits, "n_hashes": n_hashes, "n_items": n,
        "words": [int(w) for w in words],
    }


def _bloom_row_df(spark: SparkSession, bloom: dict) -> DataFrame:
    return spark.createDataFrame(
        [(int(bloom["m_bits"]), int(bloom["n_hashes"]),
          int(bloom["n_items"]), bloom["words"])],
        "m_bits long, n_hashes int, n_items long, words array<long>",
    ).coalesce(1)


def bloom_or_rows(df: DataFrame) -> DataFrame:
    """DataFrame-level OR-fold: N bloom rows → ONE merged row (the
    ``fold_fn`` for ``manifest.compact_artifact``).  posexplode the
    word arrays, ``bit_or`` per position, re-pack — stays distributed
    until the single output row."""
    merged = (
        df.select(F.posexplode("words").alias("_p", "_w"))
        .groupBy("_p")
        .agg(F.bit_or("_w").alias("_w"))
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("_p", "_w"))),
                lambda s: s["_w"],
            ).alias("words")
        )
    )
    meta = df.groupBy("m_bits", "n_hashes").agg(
        F.sum("n_items").alias("n_items")
    )
    # geometry agreement is enforced at write time (the manifest pins
    # it); a crossJoin of two 1-row frames keeps the fold lazy
    return meta.crossJoin(merged).select(
        "m_bits", "n_hashes", "n_items", "words"
    )


def bloom_artifact_init(
    spark: SparkSession,
    path: str,
    expected_items: int,
    fpp: float = 0.01,
) -> dict:
    """Create an empty growable bloom artifact: geometry derived from
    the TOTAL expected key horizon (a bloom cannot resize — size for
    the lifetime, monitor ``n_items`` for saturation) and pinned in
    the manifest metadata every future epoch writer reads back."""
    from . import manifest as M

    m_bits, n_hashes = bloom_params(expected_items, fpp)
    return M.init_artifact(
        spark, path,
        extra={"m_bits": m_bits, "n_hashes": n_hashes, "fpp": fpp,
               "expected_items": int(expected_items)},
    )


def bloom_artifact_geometry(spark: SparkSession, path: str) -> tuple[int, int]:
    from . import manifest as M

    m = M.manifest_resolve(spark, path)
    if m is None or "m_bits" not in m:
        raise ValueError(
            f"{path!r} is not a bloom artifact (no pinned geometry) — "
            "create it with bloom_artifact_init"
        )
    return int(m["m_bits"]), int(m["n_hashes"])


def bloom_write_epoch(
    spark: SparkSession, bloom: dict, path: str, epoch_id: int
) -> None:
    """Land one batch-bloom as epoch ``epoch_id`` (manifest layout,
    epoch-owned dynamic overwrite — a foreachBatch replay rewrites
    exactly its own row).  Geometry must match the artifact's pin."""
    from . import manifest as M

    if (int(bloom["m_bits"]), int(bloom["n_hashes"])) != \
            bloom_artifact_geometry(spark, path):
        raise ValueError("bloom geometry does not match the artifact pin")
    M.write_epoch(_bloom_row_df(spark, bloom), path, int(epoch_id))


def bloom_artifact_load(
    spark: SparkSession, path: str, before_epoch: int | None = None
) -> dict | None:
    """Resolve the artifact and OR-merge base ∪ live epochs into one
    in-memory filter (``None`` while the artifact is empty; a root
    without a manifest raises ``ValueError``).

    ``before_epoch=N`` merges only the folded base and epochs < N —
    what a foreachBatch gate must read while processing batch N, so a
    REPLAY of batch N never sees its own keys as already-present (the
    self-read would turn the replay into an empty overwrite)."""
    from . import manifest as M

    m = M.manifest_resolve(spark, path)
    if m is None:
        raise M._not_versioned(path)
    try:
        df = M.read_artifact(spark, path, manifest=m)
    except ValueError:
        return None  # versioned but empty: no base, no epochs yet
    if before_epoch is not None and "epoch" in df.columns:
        df = df.where(
            (F.col("epoch") == -1) | (F.col("epoch") < int(before_epoch))
        )
    rows = df.select("m_bits", "n_hashes", "n_items", "words").collect()
    if not rows:
        return None
    # a short words array would broadcast through bloom_or's bitwise OR
    if any(len(r["words"]) * 64 != r["m_bits"] for r in rows):
        raise ValueError(f"bloom artifact at {path!r} is corrupt")
    return bloom_or([
        {"m_bits": r["m_bits"], "n_hashes": r["n_hashes"],
         "n_items": r["n_items"], "words": r["words"]}
        for r in rows
    ])


def bloom_compact(spark: SparkSession, path: str) -> dict:
    """Fold the accumulated epoch rows into one base row via the
    manifest commit (``manifest.compact_artifact`` + the OR fold).
    SAFE only for epochs whose micro-batch already committed its
    checkpoint — i.e. after a graceful stop (availableNow completion)
    or between runs: a replay of a folded epoch would see its own keys
    in the base and overwrite its output as empty.  Additive artifacts
    tolerate compact-during-append; this DECISION-making one does not."""
    from . import manifest as M

    return M.compact_artifact(spark, path, bloom_or_rows)
