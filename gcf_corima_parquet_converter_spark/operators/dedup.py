"""Deduplication operators for LLM-data pipelines (north star).

Four families, all shuffle-aware and 100 TB-shaped:

* exact        — hash-groupBy on a content digest; one shuffle on the
                 digest, no data movement beyond the winning rows.
* ngram-jaccard— EXACT word-n-gram Jaccard via an inverted-index
                 self-join (explode shingles -> join on shingle ->
                 count common).  Never a cross join: cost is bounded by
                 shingle document frequency, and ultra-frequent shingles
                 can be capped (``max_df``) exactly like a search engine
                 drops stop-shingles.
* MinHash+LSH  — k min-hashes per doc computed as k aggregate
                 expressions in ONE groupBy pass (no k-fold row blowup),
                 banded into b buckets, candidate pairs from equi-joins
                 on (band, band_hash).  The scale path: candidates are
                 ~linear, verification re-checks exact Jaccard.
* SimHash      — 64-bit signature from token hashes via 64 sign-sums in
                 one aggregation; near-dup candidates join on 16-bit
                 chunks (Hamming<=3 guarantee by pigeonhole over 4
                 chunks).

Everything is built-in expressions (xxhash64, explode, groupBy) —
JVM-side, codegen'd, partially aggregable.  No Python in the hot path.
"""

from __future__ import annotations

import warnings

import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame, Window

from .text import tokens

# ------------------------------------------------------------------ exact


def exact_dedup(df: DataFrame, content_cols: list[str], id_col: str) -> DataFrame:
    """Keep the lowest-id row per distinct content (hash-groupBy dedup).

    The digest shuffle key keeps payloads local: only (digest, id) pairs
    move, then a semi-join pulls winning rows — at 100 TB the heavy text
    column crosses the wire zero times.
    """
    digest = F.md5(F.concat_ws("\x1f", *content_cols)).alias("_digest")
    winners = (
        df.select(digest, F.col(id_col))
        .groupBy("_digest")
        .agg(F.min(id_col).alias(id_col))
        .select(id_col)
    )
    return df.join(winners, id_col, "left_semi")


def exact_dedup_keep_best(
    df: DataFrame, content_cols: list[str], id_col: str, score_col: str
) -> DataFrame:
    """Keep the highest-``score_col`` row per distinct content (ties:
    lowest id) — the production survivor policy: when a document exists
    in several crawls/sources, keep the best copy, not the first seen.

    Same zero-payload-shuffle shape as ``exact_dedup``: only (digest,
    score, id) triples move; ``max_by`` over a (score, -id) struct makes
    the winner deterministic under any partitioning.
    """
    digest = F.md5(F.concat_ws("\x1f", *content_cols)).alias("_digest")
    winners = (
        df.select(digest, F.col(id_col), F.col(score_col))
        .groupBy("_digest")
        .agg(
            F.max_by(
                F.col(id_col), F.struct(F.col(score_col), -F.col(id_col))
            ).alias(id_col)
        )
        .select(id_col)
    )
    return df.join(winners, id_col, "left_semi")


def exact_dedup_incremental(
    df: DataFrame,
    content_cols: list[str],
    id_col: str,
    seen: DataFrame | None = None,
    digest_col: str = "digest",
    pending_deletes: DataFrame | None = None,
) -> DataFrame:
    """Dedup a NEW ingest batch against all history using only a
    persisted digest index — never rescanning historical text.

    The incremental twin of ``exact_dedup``: at 100 TB the corpus grows
    by daily batches, and re-deduplicating the union from scratch is an
    O(history) job per day.  Instead the caller persists a one-column
    digest index; each batch is (1) deduped within itself (keep lowest
    id) and (2) anti-joined against ``seen`` on the digest.  Returns
    the surviving rows WITH ``digest_col`` attached — append exactly
    ``result.select(digest_col)`` to the index to make it current.

    Scale shape: the index side of the anti-join carries only 32-byte
    digests (broadcast when small; shuffled hash anti-join on the
    digest — never the payload — when not), and the streaming twin of
    this contract is ``streaming.ingest.dedup_stream`` (watermark-
    bounded state instead of a persisted index).

    ``pending_deletes`` (one-column frame of ``digest_col`` values —
    the same shape ``compact_dedup_indexes(delete_digests=)`` takes)
    is the BETWEEN-compactions deletion overlay: digests of purged
    documents are voided out of ``seen`` before the anti-join, so a
    purged doc re-ingests as novel immediately — the physical index
    rows die at the next compaction, the logical deletion is already
    correct here.  Deletions are small by construction, so the
    overlay broadcasts.
    """
    dig = F.md5(F.concat_ws("\x1f", *content_cols))
    fresh = exact_dedup(df, content_cols, id_col).withColumn(digest_col, dig)
    if seen is not None:
        seen = seen.select(digest_col)
        if pending_deletes is not None:
            dels = pending_deletes.select(
                F.col(pending_deletes.columns[0]).alias(digest_col)
            )
            seen = seen.join(F.broadcast(dels), digest_col, "left_anti")
        fresh = fresh.join(seen, digest_col, "left_anti")
    return fresh


# --------------------------------------------------------------- shingles


def _shingles(toks: Column, n: int) -> Column:
    """Distinct word n-grams of a BOUND token-array column.

    ``toks`` MUST be an attribute of the input row (a prior projection's
    alias), never an inline ``split(...)`` expression: higher-order-
    function lambdas are interpreted, not codegen'd, so every reference
    to ``toks`` inside the lambda is re-evaluated PER ELEMENT — an
    inline split turns O(m) shingling into O(m^2) re-tokenization
    (measured 3x the whole operator).  try_element_at + concat_ws instead
    of slice + array_join avoids a fresh sub-array allocation per
    position; concat_ws skips the trailing NULLs a short document
    produces, which exactly reproduces slice's clamp-at-end semantics.
    (Must be try_element_at: under ANSI mode — Spark 4's default —
    plain element_at THROWS past the array end, so any document shorter
    than n tokens would kill the job.)
    """
    sh = F.transform(
        F.sequence(F.lit(1), F.greatest(F.size(toks) - n + 1, F.lit(1))),
        lambda i: F.concat_ws(
            " ", *[F.try_element_at(toks, i + j) for j in range(n)]
        ),
    )
    return F.filter(F.array_distinct(sh), lambda s: F.length(s) > 0)


def _tokenized(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """(id, _toks) projection — the binding step _shingles requires.
    Stays a separate Project: ``_toks`` is referenced several times
    downstream and split() is non-cheap, so CollapseProject keeps the
    boundary and the tokenizer runs once per row."""
    return df.select(F.col(id_col), tokens(text_col).alias("_toks"))


def shingle_df(
    df: DataFrame, id_col: str, text_col: str, n: int = 3
) -> DataFrame:
    """(id, shingle) rows: distinct word n-grams per document.

    Requires ``id_col`` unique per input row (a document table) — then
    rows are already distinct after the per-doc ``array_distinct``, so
    no dedup shuffle is needed; the only cost is the explode itself.
    """
    toked = _tokenized(df, id_col, text_col)
    return toked.select(
        F.col(id_col), F.explode(_shingles(F.col("_toks"), n)).alias("shingle")
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    threshold: float = 0.5,
    max_df: int | None = None,
) -> DataFrame:
    """Exact n-gram Jaccard near-dup pairs via inverted-index join.

    Returns (id_a, id_b, n_common, n_a, n_b) with id_a < id_b and
    jaccard = n_common/(n_a+n_b-n_common) >= threshold.  ``max_df``
    drops shingles appearing in more than that many docs (bounds the
    self-join fan-out on skewed shingles; AQE skew-join splits the
    rest).
    """
    sh = shingle_df(df, id_col, text_col, n).cache()
    if max_df is not None:
        rare = (
            sh.groupBy("shingle")
            .agg(F.count(F.lit(1)).alias("_df"))
            .where(F.col("_df") <= max_df)
            .select("shingle")
        )
        sh = sh.join(rare, "shingle", "left_semi")
    sizes = sh.groupBy(id_col).agg(F.count(F.lit(1)).alias("n_sh"))
    a = sh.select(F.col(id_col).alias("id_a"), "shingle")
    b = sh.select(F.col(id_col).alias("id_b"), "shingle")
    common = (
        a.join(b, "shingle")
        .where(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    sa = sizes.select(F.col(id_col).alias("id_a"), F.col("n_sh").alias("n_a"))
    sb = sizes.select(F.col(id_col).alias("id_b"), F.col("n_sh").alias("n_b"))
    uni = F.col("n_a") + F.col("n_b") - F.col("n_common")
    return (
        common.join(sa, "id_a")
        .join(sb, "id_b")
        .where(F.col("n_common") >= F.lit(float(threshold)) * uni)
        .select("id_a", "id_b", "n_common", "n_a", "n_b")
    )


# ------------------------------------------------------------ line dedup


def line_dedup(
    df: DataFrame,
    id_col: str,
    text_col: str,
    min_docs: int = 2,
    sep: str = "\n",
) -> DataFrame:
    """Strip lines duplicated across >= ``min_docs`` documents (CCNet /
    Gopher-style boilerplate removal: nav bars, cookie banners, license
    headers repeat verbatim across pages and poison LLM training data).

    Returns ``df`` with ``text_col`` rewritten (offending lines removed,
    remaining lines re-joined on ``sep`` in original order) plus
    ``n_lines`` (content lines before) and ``n_dropped`` columns.

    100 TB shape — the heavy text column never rides a shuffle:

    1. explode to (id, pos, xxhash64(trim(line))) triples — 16 bytes of
       payload per line; blank lines are neither counted nor droppable.
    2. line document-frequency = count over DISTINCT (hash, id) — the
       only corpus-wide shuffle, keyed on the 8-byte hash.  (Distinct-
       docs, not occurrences: a line repeated inside ONE doc is not
       boilerplate.)
    3. per-doc dropped POSITIONS via a semi-join of the triples against
       the duplicated hashes, collected to one small array per doc.
    4. one join back to the original rows on ``id_col`` (AQE broadcasts
       it when few docs are affected) and an index-filter over
       split(text) — the text is re-derived in place, never shuffled.

    ``sep`` is a LITERAL separator (it is re-joined verbatim), so the
    split pattern is regex-quoted — a sep of ``|`` or ``.`` must not be
    interpreted as a regex, which would split between every character
    and dedup over garbage units.
    """
    lines = F.split(F.col(text_col), "\\Q" + sep + "\\E")
    triples = (
        df.select(F.col(id_col), F.posexplode(lines).alias("_pos", "_line"))
        .where(F.length(F.trim("_line")) > 0)
        .select(F.col(id_col), "_pos", F.xxhash64(F.trim("_line")).alias("_lh"))
    )
    dup = (
        triples.select("_lh", id_col)
        .distinct()
        .groupBy("_lh")
        .agg(F.count(F.lit(1)).alias("_docs"))
        .where(F.col("_docs") >= min_docs)
        .select("_lh")
    )
    drops = (
        triples.join(dup, "_lh", "left_semi")
        .groupBy(id_col)
        .agg(F.collect_set("_pos").alias("_drop"))
    )
    kept = F.filter(lines, lambda x, i: ~F.array_contains("_drop", i))
    n_content = F.size(F.filter(lines, lambda x: F.length(F.trim(x)) > 0))
    return (
        df.join(drops, id_col, "left")
        .withColumn("n_lines", n_content)
        .withColumn(
            "n_dropped",
            F.coalesce(F.size("_drop"), F.lit(0)).cast("int"),
        )
        .withColumn(
            text_col,
            F.when(F.col("_drop").isNull(), F.col(text_col)).otherwise(
                F.array_join(kept, sep)
            ),
        )
        .drop("_drop")
    )


# ---------------------------------------------------------------- minhash


def _perm_hash(i: int):
    """Unary lambda hashing an element with seed column i.  MUST be
    unary: F.transform passes (element, index) to a binary callable, so
    a ``lambda s, i=i`` default-arg closure would silently receive the
    array INDEX as i instead of the permutation seed."""
    return lambda s: F.xxhash64(s, F.lit(i))


_MH_INF = (1 << 63) - 1


def _signature_array(k: int):
    """Column expr: k-permutation MinHash signature of the ``_sh``
    shingle array as ONE aggregate fold (element-wise running minimum
    of each shingle's k hashes).

    Equivalent to k separate array_min(transform(...)) projections but
    with a k-times smaller expression tree — measured 3.8s -> 1.1s cold
    at sf0.1, all of it plan/codegen compilation (warm times equal).
    """
    # Seeds come from a lambda over sequence(0,k-1), NOT k unrolled
    # xxhash64(s, lit(i)) projections: the expression tree is O(1) in k
    # instead of O(k), which is what analysis/optimizer/codegen chew on.
    # Measured ~5% faster cold at k=32/sf0.1 (A/B in fresh JVMs) and the
    # difference grows with k — the unrolled form is quadratic-ish in
    # plan-processing time as k rises.  Hashes are bit-identical: the
    # seed is hashed as an int32 value in both forms.
    return F.aggregate(
        "_sh",
        F.array_repeat(F.lit(_MH_INF).cast("long"), k),
        lambda acc, s: F.zip_with(
            acc,
            F.transform(
                F.sequence(F.lit(0), F.lit(k - 1)),
                lambda i: F.xxhash64(s, i),
            ),
            lambda a, b: F.least(a, b),
        ),
    )


def _shingle_sets(df: DataFrame, id_col: str, text_col: str, n: int) -> DataFrame:
    """(id, _sh array<long>) — per-doc shingle sets, each shingle hashed
    ONCE to a 64-bit token — with an exchange barrier.

    Hashing shingles to longs at the source is the scale lever: every
    downstream consumer (the k-permutation signature fold, the verify
    join's arrays, array_intersect) operates on fixed-width 8-byte
    values instead of ~n-word strings.  The signature permutations hash
    a LONG (one 8-byte block) instead of re-hashing the string k times,
    and the verify-phase shuffle carries ~3x fewer bytes per doc.
    Jaccard over 64-bit hashes equals string Jaccard up to hash
    collisions (~N^2/2^65 expected false merges corpus-wide —
    negligible at any feasible N).

    The ``repartition`` is load-bearing twice over: (1) it stops
    CollapseProject from inlining the tokenize+shingle expression into
    every one of the k signature columns (a 32x recompute measured 2.3x
    slower end-to-end), and (2) the exchange is identical under every
    downstream branch (signatures, verify-join left, verify-join right)
    so AQE reuses ONE materialization instead of re-scanning the corpus
    three times.  One shuffle of the hashed-shingle arrays, total.

    Docs with no shingles are dropped via the equivalent cheap text
    predicate BEFORE tokenizing — a ``where(size(_sh) > 0)`` after the
    projection gets predicate-pushed below it and re-evaluates the whole
    inline shingle expression once more per row (visible as 4 extra
    split() calls in the optimized plan).

    Small-input spread: the tokenize+shingle+hash CPU is NARROW, so its
    parallelism equals the source's input splits — a single small
    parquet file (or one .gz) runs the whole corpus's hashing on 1-2
    cores while the rest idle (measured: the q26 scan stage was 2 tasks
    on 32 cores, ~1 s of the query).  When the scan exposes fewer than
    half the cluster's cores, an extra raw-row exchange is inserted
    BEFORE the compute; the text payload is the same order of bytes as
    the hashed arrays, so the extra shuffle trades equal I/O for
    cluster-wide CPU.  Large inputs (any real 100 TB scan has orders of
    magnitude more splits than cores) skip it — the check is plan-time
    and costs nothing at scale.
    """
    from .scale import ensure_min_parallelism

    nonempty = ensure_min_parallelism(
        df.where(F.length(F.trim(F.col(text_col))) > 0), id_col
    )
    toked = _tokenized(nonempty, id_col, text_col)
    hashed = F.transform(_shingles(F.col("_toks"), n), lambda s: F.xxhash64(s))
    sets = toked.select(F.col(id_col), hashed.alias("_sh"))
    # the barrier exchange is pinned too: AQE's byte-proportional
    # coalescer would fold the CPU-bound signature/verify consumers
    # back onto 1-2 tasks (see ensure_min_parallelism)
    from .scale import pinned_shuffle_partitions

    n_part = pinned_shuffle_partitions(df.sparkSession)
    if n_part is None:  # non-numeric conf (e.g. "auto"): unpinned
        return sets.repartition(id_col)
    return sets.repartition(n_part, id_col)


def minhash_signatures(
    df: DataFrame, id_col: str, text_col: str, k: int = 32, n: int = 3
) -> DataFrame:
    """k-permutation MinHash signature per doc as ONE aggregation.

    Each "permutation" is xxhash64(shingle_hash, seed_i) over the
    64-bit shingle tokens from :func:`_shingle_sets` (the string is
    hashed once; the k permutations re-hash the fixed-width long — far
    cheaper than k string hashes); the signature row is one fold over
    the per-doc array — a pure narrow map, ZERO shuffle (no explode, no
    groupBy; the naive explode-by-seed layout multiplies rows k-fold
    and then pays a full aggregation shuffle to undo it).  Docs with no
    shingles (empty/whitespace text) are dropped, matching the grouped
    layout.
    """
    sets = _shingle_sets(df, id_col, text_col, n)
    sigs = sets.select(F.col(id_col), _signature_array(k).alias("_sig"))
    return sigs.select(
        F.col(id_col), *[F.col("_sig")[i].alias(f"mh_{i}") for i in range(k)]
    )


def _band_hashes(bands: int, rows_per_band: int):
    """Array of per-band hashes of the ``_sig`` signature column — ONE
    definition shared by the batch LSH (minhash_candidate_pairs) and
    the streaming novelty gate (streaming.ingest.near_dup_stream),
    whose bucket-for-bucket agreement depends on the kernels being
    literally the same expression."""
    return F.transform(
        F.sequence(F.lit(0), F.lit(bands - 1)),
        lambda bi: F.xxhash64(F.slice("_sig", bi * rows_per_band + 1, rows_per_band)),
    )


def lsh_params_for_threshold(k: int, target_threshold: float) -> dict:
    """Derive LSH banding parameters from an intent: among the
    ``(bands, rows_per_band)`` factorizations of a ``k``-permutation
    signature, pick the one whose S-curve threshold
    ``J* = (1/b)^(1/r)`` (see :func:`lsh_tuning_report`) lands closest
    to ``target_threshold`` — the Jaccard at which detection should
    switch from unlikely to likely.  Pure driver math.

    Returns ``{"bands", "rows_per_band", "threshold_jaccard",
    "detection_prob"}`` (the last two via :func:`lsh_tuning_report`,
    so the caller can log what the derivation actually bought)."""
    if not 0.0 < target_threshold < 1.0:
        raise ValueError(
            f"target_threshold must be in (0, 1), got {target_threshold}"
        )
    best = None
    for b in range(1, int(k) + 1):
        if k % b:
            continue
        r = k // b
        jstar = (1.0 / b) ** (1.0 / r)
        d = abs(jstar - target_threshold)
        if best is None or d < best[0]:
            best = (d, b, r)
    _, bands, rows = best
    return {
        "bands": bands,
        "rows_per_band": rows,
        **{
            key: val
            for key, val in lsh_tuning_report(k=k, bands=bands).items()
            if key in ("threshold_jaccard", "detection_prob")
        },
    }


def lsh_bucket_stats(
    sigs: DataFrame,
    id_col: str,
    bands: int = 8,
    rows_per_band: int = 4,
) -> dict:
    """Bucket-size telemetry for a banding configuration — the FULL
    measurement behind ``max_bucket`` (r12: the candidate-pair
    functions run a cheap sampled subset of this automatically via
    ``max_bucket='auto'``; reach for this function when hand-tuning a
    cap or diagnosing pair growth): one distributed
    aggregate returning ``{"n_buckets", "max_bucket_size",
    "avg_bucket_size", "pairs_uncapped", "buckets_gt": {64: n, 256: n,
    1024: n}}``.  ``pairs_uncapped`` is the exact banded-join output
    size (sum of B(B-1)/2); ``max_bucket_size`` in the thousands means
    a template family is present and the cap will bite — single-digit
    max with large ``pairs_uncapped`` means growth is DIFFUSE
    sub-threshold collisions, where the lever is the banding threshold
    (``target_threshold``), not a cap.  Accepts the same two signature
    forms as :func:`minhash_candidate_pairs`."""
    k = bands * rows_per_band
    if "_sig" not in sigs.columns:
        sigs = sigs.select(
            F.col(id_col),
            F.array(*[F.col(f"mh_{i}") for i in range(k)]).alias("_sig"),
        )
    banded = sigs.select(
        F.col(id_col),
        F.posexplode(_band_hashes(bands, rows_per_band)).alias("band", "bh"),
    )
    sizes = banded.groupBy("band", "bh").agg(F.count(F.lit(1)).alias("n"))
    row = sizes.agg(
        F.count(F.lit(1)).alias("n_buckets"),
        F.max("n").alias("mx"),
        F.avg("n").alias("avg"),
        F.sum(F.col("n") * (F.col("n") - 1) / 2).alias("pairs"),
        *[
            F.sum(F.when(F.col("n") > t, 1).otherwise(0)).alias(f"gt{t}")
            for t in (64, 256, 1024)
        ],
    ).collect()[0]
    return {
        "n_buckets": int(row["n_buckets"]),
        "max_bucket_size": int(row["mx"]),
        "avg_bucket_size": round(float(row["avg"]), 3),
        "pairs_uncapped": int(row["pairs"]),
        "buckets_gt": {t: int(row[f"gt{t}"]) for t in (64, 256, 1024)},
    }


# The production star-cap applied when the auto probe detects a hot
# bucket: ~10x the largest legitimate near-dup cluster most corpora
# carry, so the cap changes nothing until a template family actually
# appears (see minhash_candidate_pairs docstring).
AUTO_MAX_BUCKET = 1024
# The probe counts bucket membership over a deterministic 1/_PROBE_MOD
# hash-sample of DOC IDS (the filter is on the id column alone, so
# Catalyst pushes it below the shingle/signature projections — the
# probe never pays the full signature pipeline).  A bucket of true
# size B retains ~B/_PROBE_MOD sampled members, so triggering at
# AUTO_MAX_BUCKET / _PROBE_MOD / 2 detects buckets from ~AUTO/2 with
# near-certainty (a bucket the cap could even touch — >= 1024 — has
# sampled mean 64, sigma ~8, trigger 32 is 4 sigma below; a 5k
# template family samples to ~312 >> 32).  The trigger is
# deliberately BELOW the cap: a false-positive probe only selects the
# capped PLAN — the cap itself still touches nothing under
# AUTO_MAX_BUCKET members, so recall is never at stake, only the
# ~1.8x capped-plan overhead on a corpus that turned out cold.
# (1/16 halves the probe's share of the signature pipeline vs the r12
# initial 1/8 — measured ~+0.6s cold on q26's sf0.1 shingle chain at
# 1/8, the probe being the only bench delta vs r11.)
_PROBE_MOD = 16
_PROBE_TRIGGER = AUTO_MAX_BUCKET // _PROBE_MOD // 2


def _resolve_max_bucket(
    exploded: DataFrame,
    id_col: str,
    key_cols: list[str],
    max_bucket: int | str | None,
    label: str,
) -> int | None:
    """Resolve ``max_bucket='auto'`` (the default) into a concrete cap
    via a measure-first probe: one cheap Spark job counts bucket sizes
    over a deterministic 1/``_PROBE_MOD`` (= 1/16) id-sample of
    ``exploded`` (the banded /
    chunked / bucketed (id, key...) frame) and enables the
    :data:`AUTO_MAX_BUCKET` star-cap only when a sampled bucket
    crosses :data:`_PROBE_TRIGGER` — so uniform corpora keep the
    EXACT uncapped plan (probe cost only) while a planted template
    family gets bounded pair volume without the caller doing anything.
    The decision is surfaced with ``warnings.warn`` (hot) /
    silently (cold).  ``None`` = explicitly uncapped, no probe;
    an int = forced cap, no probe; streaming frames skip the probe
    (a batch job cannot run on them) and stay uncapped."""
    if max_bucket is None or isinstance(max_bucket, int):
        return max_bucket
    if max_bucket != "auto":
        raise ValueError(
            f"max_bucket must be an int, None, or 'auto'; got {max_bucket!r}"
        )
    if exploded.isStreaming:
        return None
    sampled = exploded.where(
        F.pmod(F.xxhash64(F.col(id_col)), F.lit(_PROBE_MOD)) == 0
    )
    row = (
        sampled.groupBy(*key_cols)
        .agg(F.count(F.lit(1)).alias("n"))
        .agg(F.max("n").alias("mx"))
        .first()
    )
    mx = 0 if row is None or row["mx"] is None else int(row["mx"])
    if mx > _PROBE_TRIGGER:
        warnings.warn(
            f"{label}: hot-bucket probe sampled a bucket of {mx} members "
            f"(~{mx * _PROBE_MOD} true size) — star-cap enabled at "
            f"max_bucket={AUTO_MAX_BUCKET}.  Pass max_bucket=None to "
            "force the uncapped quadratic plan, or an int to tune the "
            "cap; see lsh_bucket_stats for full telemetry.",
            stacklevel=3,
        )
        return AUTO_MAX_BUCKET
    return None


def minhash_candidate_pairs(
    sigs: DataFrame,
    id_col: str,
    bands: int = 8,
    rows_per_band: int = 4,
    target_threshold: float | None = None,
    max_bucket: int | str | None = "auto",
    _validate: bool = True,
) -> DataFrame:
    """LSH banding: equi-join docs whose signature agrees on ALL rows of
    some band.  Returns distinct (id_a, id_b) candidates, id_a < id_b.

    HOT-BUCKET CAP (``max_bucket``, measure-first by DEFAULT —
    ``'auto'`` runs :func:`_resolve_max_bucket`'s cheap sampled probe
    and enables the :data:`AUTO_MAX_BUCKET` star-cap only when a
    bucket actually crosses the trigger, warning with the decision;
    uniform corpora keep the exact uncapped plan.  ``None`` forces
    uncapped with no probe, an int forces that cap): the band
    self-join emits
    B(B-1)/2 pairs per band-hash bucket — quadratic in bucket size,
    and real corpora ARE skewed (mass-produced boilerplate puts
    thousands of near-identical docs in the SAME bucket of EVERY band:
    one 50k-doc template family is 1.25B pairs x bands without a cap).
    Buckets over the cap switch to STAR LINKING: every member pairs
    with the bucket's min-id representative only — O(B) pairs, and the
    mass-duplicate cluster that CAUSED the hotness stays fully
    connected through the rep (identical/near-identical docs all
    verify against it; downstream ``dedup_components`` /
    ``dedup_keep_first`` see one component either way).  What star
    linking can miss: a pair inside a hot bucket where BOTH sides are
    near-dups of each other but NOT of the rep — rare by construction
    (they share a full band with the rep to be in its bucket) and the
    price of boundedness; recall on planted clusters is pinned by
    tests.  Cold buckets are untouched — the cap changes nothing until
    a bucket actually goes hot.

    Why the capped plan is not unconditional: it pays the bucket-stats
    aggregate + a join-back per candidate branch (~1.8x the uncapped
    wall at sf0.1, measured; a broadcast-hot-keys variant measured
    worse — the BroadcastExchange cannot reuse the banded exchange, so
    the signature pipeline recomputes).  The ``'auto'`` default makes
    the measure-first step automatic: a one-job probe over a
    deterministic 1/``_PROBE_MOD`` (= 1/16) id-sample (filter pushed below the signature
    pipeline — the probe does NOT recompute it for every row) decides
    between the exact uncapped plan (cold corpora — the driver corpus
    measures max bucket 6 at BOTH sf0.1 and sf1; its pair growth is
    diffuse sub-threshold collisions, which a bucket cap cannot and
    should not trim — raise the banding threshold instead via
    ``target_threshold``) and the :data:`AUTO_MAX_BUCKET` = 1024 cap
    (template families — bucket sizes in the thousands).  For full
    telemetry before hand-tuning, :func:`lsh_bucket_stats` reports
    max/quantile bucket sizes; set an explicit cap to ~10x the largest
    legitimate near-dup cluster you expect.

    ``target_threshold`` replaces hand-picked banding with intent:
    when set, ``bands``/``rows_per_band`` are IGNORED and derived via
    :func:`lsh_params_for_threshold` from the signature length (the
    ``mh_*`` column count of the :func:`minhash_signatures` form — the
    array ``_sig`` form carries no length in its schema, so pass
    explicit banding there) so the S-curve threshold lands nearest the
    requested Jaccard — candidate-pair volume follows the stated
    intent instead of a default that silently over- or under-recalls.

    ``sigs`` carries either the array form ``(id, _sig)`` (the internal
    fast path: band hash = xxhash64 of an array SLICE, no k-column
    expansion in the plan) or the column form ``(id, mh_0..mh_{k-1})``
    from :func:`minhash_signatures` (re-packed into an array here).

    The array form is length-checked at runtime (``assert_true``): a
    signature shorter than bands*rows_per_band would make the trailing
    bands slice past the end, hashing the same EMPTY array for every
    doc — all docs collide in those bands and the self-join silently
    degrades toward a cartesian product.  (The column form fails fast
    on the missing ``mh_*`` column at analysis time.)

    ``_validate=False`` is the internal fast path for callers that
    construct the signature with the same ``k`` they band with
    (``minhash_dedup_pairs``) — the check cannot fire there, and the
    when(assert_true) wrapper otherwise gets CollapseProject-inlined
    into every band's slice expression (bands x the tree, pure
    plan-compile cost)."""
    if target_threshold is not None:
        sig_cols = [c for c in sigs.columns if c.startswith("mh_")]
        if not sig_cols:
            raise ValueError(
                "target_threshold needs the signature length: pass the "
                "minhash_signatures (mh_*) form, or derive banding "
                "yourself with lsh_params_for_threshold(k, ...)"
            )
        p = lsh_params_for_threshold(len(sig_cols), target_threshold)
        bands, rows_per_band = p["bands"], p["rows_per_band"]
    k = bands * rows_per_band
    if "_sig" in sigs.columns:
        if _validate:
            checked = F.when(
                F.assert_true(
                    F.size("_sig") >= k,
                    f"minhash signature shorter than bands*rows_per_band={k}",
                ).isNull(),
                F.col("_sig"),
            )
            sigs = sigs.select(F.col(id_col), checked.alias("_sig"))
    else:
        sigs = sigs.select(
            F.col(id_col),
            F.array(*[F.col(f"mh_{i}") for i in range(k)]).alias("_sig"),
        )
    band_hashes = _band_hashes(bands, rows_per_band)
    banded = sigs.select(
        F.col(id_col), F.posexplode(band_hashes).alias("band", "bh")
    )
    max_bucket = _resolve_max_bucket(
        banded, id_col, ["band", "bh"], max_bucket, "minhash_candidate_pairs"
    )
    if max_bucket is None:
        a = banded.select(F.col(id_col).alias("id_a"), "band", "bh")
        b = banded.select(F.col(id_col).alias("id_b"), "band", "bh")
        return (
            a.join(b, ["band", "bh"])
            .where(F.col("id_a") < F.col("id_b"))
            .select("id_a", "id_b")
            .distinct()
        )
    if int(max_bucket) < 2:
        raise ValueError(f"max_bucket must be >= 2, got {max_bucket}")
    # bucket stats shuffle on the SAME (band, bh) key as the self-join
    # below, so AQE reuses the exchange; the join-back is a shuffle
    # hash join on already-co-partitioned data.  (A broadcast-the-hot-
    # keys variant was measured WORSE here: the BroadcastExchange
    # materializes eagerly and cannot reuse the banded exchange, so the
    # expensive shingle/signature pipeline recomputes for the build
    # side — +1s vs the join-back's +0.2s at sf0.1.)
    stats = banded.groupBy("band", "bh").agg(
        F.count(F.lit(1)).alias("_bsz"), F.min(id_col).alias("_rep")
    )
    tagged = banded.join(stats, ["band", "bh"])
    cold = tagged.where(F.col("_bsz") <= int(max_bucket))
    a = cold.select(F.col(id_col).alias("id_a"), "band", "bh")
    b = cold.select(F.col(id_col).alias("id_b"), "band", "bh")
    cold_pairs = (
        a.join(b, ["band", "bh"])
        .where(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
    )
    # star linking: _rep is the bucket min, so id_a < id_b holds
    hot_pairs = (
        tagged.where(
            (F.col("_bsz") > int(max_bucket))
            & (F.col(id_col) != F.col("_rep"))
        )
        .select(F.col("_rep").alias("id_a"), F.col(id_col).alias("id_b"))
    )
    return cold_pairs.unionByName(hot_pairs).distinct()


def minhash_dedup_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 32,
    bands: int = 8,
    n: int = 3,
    threshold: float = 0.5,
    target_threshold: float | None = None,
    max_bucket: int | str | None = "auto",
) -> DataFrame:
    """MinHash-LSH candidates verified with exact Jaccard (the standard
    two-phase near-dup: cheap recall phase, exact precision phase).

    ``max_bucket`` is :func:`minhash_candidate_pairs`' hot-bucket cap
    (star linking above it; ``'auto'`` — the default — probes first
    and caps only when a bucket is actually hot — see there); the
    exact verify phase then
    trims the star pairs like any other candidate, so precision is
    unaffected, only worst-case pair VOLUME is bounded.

    ``target_threshold`` derives ``bands`` from ``k`` via
    :func:`lsh_params_for_threshold` so the recall phase's S-curve
    threshold lands nearest the requested Jaccard (usually you want it
    at-or-below ``threshold``: LSH recalls, the exact phase trims).

    The verify phase is restricted to the candidate pairs: candidates
    equi-join per-doc shingle sets and Jaccard is ``array_intersect`` per
    pair — O(candidates), never the all-pairs inverted-index join.  At
    100 TB the exact join over the corpus would dominate everything LSH
    saved; this keeps verification linear in LSH output size.

    Shingle sets stay in ARRAY form end-to-end: signatures are narrow
    array_min(transform(...)) projections of the same per-row arrays the
    verify join uses, sharing one exchange (see _shingle_sets) — the
    arrays cross the wire once, the candidate pairs (tiny) broadcast.
    Both phases operate on 64-bit shingle hashes, so the verify
    ``array_intersect`` compares longs, not strings (exact up to 64-bit
    collisions — see _shingle_sets).
    """
    if target_threshold is not None:
        bands = lsh_params_for_threshold(k, target_threshold)["bands"]
    sets = _shingle_sets(df, id_col, text_col, n)
    sigs = sets.select(F.col(id_col), _signature_array(k).alias("_sig"))
    # _validate=False: _signature_array(k) always yields length k >=
    # bands*(k//bands), so the length guard cannot fire here
    cand = minhash_candidate_pairs(
        sigs, id_col, bands=bands, rows_per_band=k // bands,
        max_bucket=max_bucket, _validate=False
    )
    return _verify_exact_jaccard(sets, cand, id_col, threshold)


def _verify_exact_jaccard(
    sets: DataFrame,
    cand: DataFrame,
    id_col: str,
    threshold: float,
    sets_b: DataFrame | None = None,
) -> DataFrame:
    """The exact-Jaccard precision phase shared by the batch dedup
    (``minhash_dedup_pairs``) and the streaming gate's lambda companion
    (``verify_flagged_pairs``): equi-join candidate (id_a, id_b) pairs
    onto the per-doc hashed shingle sets and keep pairs whose exact
    Jaccard clears ``threshold``.  O(candidates), arrays of 64-bit
    hashes — never strings, never all-pairs.

    ``sets_b`` binds the id_b side to a DIFFERENT sets frame — the
    cross-batch callers (``minhash_dedup_incremental``) pass the new
    batch as ``sets`` and history as ``sets_b`` so an id that appears
    in both populations cannot conflate the two documents."""
    a = sets.select(F.col(id_col).alias("id_a"), F.col("_sh").alias("_sh_a"))
    b = (sets_b if sets_b is not None else sets).select(
        F.col(id_col).alias("id_b"), F.col("_sh").alias("_sh_b")
    )
    n_common = F.size(F.array_intersect("_sh_a", "_sh_b"))
    n_a, n_b = F.size("_sh_a"), F.size("_sh_b")
    return (
        cand.join(a, "id_a")
        .join(b, "id_b")
        .select(
            "id_a",
            "id_b",
            n_common.alias("n_common"),
            n_a.alias("n_a"),
            n_b.alias("n_b"),
        )
        .where(F.col("n_common") >= F.lit(float(threshold)) * (F.col("n_a") + F.col("n_b") - F.col("n_common")))
    )


def verify_flagged_pairs(
    df: DataFrame,
    flagged: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 16,
    bands: int = 4,
    n: int = 3,
    threshold: float = 0.5,
    max_bucket: int | str | None = "auto",
) -> DataFrame:
    """Lambda-architecture precision companion to
    ``streaming.ingest.near_dup_stream``: re-run the batch LSH + exact-
    Jaccard verify over a persisted corpus slice, restricted to pairs
    that TOUCH a gate-flagged id.  Returns the same (id_a, id_b,
    n_common, n_a, n_b) frame as ``minhash_dedup_pairs``.

    ``df`` is the corpus slice covering the gate's horizon (the docs the
    stream persisted — e.g. one day's window); ``flagged`` carries
    ``id_col`` holding the suspect ids: every emitted row with
    ``is_candidate_dup`` PLUS every input doc the gate swallowed
    (absent from the gate's output — all of its buckets were already
    claimed).  Defaults mirror ``near_dup_stream``'s (k=16, bands=4).

    Completeness: any LSH band collision flags the LATER-arriving doc
    (the earlier one claimed the bucket), so every batch candidate pair
    has at least one flagged endpoint — restricting the verify to
    flagged-touching pairs loses nothing vs the full batch
    (``minhash_dedup_pairs`` parity is test-pinned).  Cost: the slice
    is re-shingled once (the same one pinned exchange as batch); the
    candidate join then shrinks by the flagged semi-join, so the verify
    phase is O(pairs touching suspects), not O(all candidate pairs).
    """
    sets = _shingle_sets(df, id_col, text_col, n)
    sigs = sets.select(F.col(id_col), _signature_array(k).alias("_sig"))
    cand = minhash_candidate_pairs(
        sigs, id_col, bands=bands, rows_per_band=k // bands,
        max_bucket=max_bucket, _validate=False
    )
    fl = flagged.select(F.col(id_col)).distinct()
    touches = cand.join(
        fl.select(F.col(id_col).alias("id_a")), "id_a", "left_semi"
    ).unionByName(
        cand.join(fl.select(F.col(id_col).alias("id_b")), "id_b", "left_semi")
    ).distinct()
    return _verify_exact_jaccard(sets, touches, id_col, threshold)


# ---------------------------------------------------------------- simhash


def simhash(df: DataFrame, id_col: str, text_col: str, bits: int = 64) -> DataFrame:
    """SimHash signature: sign of per-bit weighted sums of token hashes.

    64 sign-sums as plain aggregate expressions — one shuffle keyed by
    doc, map-side combined.  Result column ``simhash`` is a signed i64
    bit pattern.
    """
    tok = (
        df.select(F.col(id_col), F.explode(tokens(text_col)).alias("tok"))
        .where(F.length("tok") > 0)
        .withColumn("h", F.xxhash64("tok"))
    )
    sums = tok.groupBy(id_col).agg(
        *[
            F.sum(
                F.when(F.shiftright("h", i).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1)
            ).alias(f"s_{i}")
            for i in range(bits)
        ]
    )
    sig = sum(
        (
            F.when(F.col(f"s_{i}") > 0, F.lit(1).cast("long") * (1 << i) if i < 63 else F.lit(-(2**63))).otherwise(0)
            for i in range(bits)
        ),
        F.lit(0).cast("long"),
    )
    return sums.select(F.col(id_col), sig.alias("simhash"))


def simhash_candidate_pairs(
    sig_df: DataFrame, id_col: str, max_bucket: int | str | None = "auto"
) -> DataFrame:
    """Near-dup candidates: docs sharing any 16-bit chunk of the
    simhash (pigeonhole: catches all pairs with Hamming distance <= 3).

    ``max_bucket`` (``'auto'`` by default — measure-first, see
    :func:`_resolve_max_bucket`) caps hot chunk buckets exactly like
    :func:`minhash_candidate_pairs`' band buckets (the failure mode is
    identical: a mass-duplicate family shares every chunk, so one
    bucket goes quadratic): buckets over the cap emit star pairs
    against the bucket's min-id representative instead of the full
    self-join — the cluster stays connected (identical docs have
    hamming 0 to the rep), worst-case volume is linear.  Same
    cost/when-to-enable guidance as there."""
    chunks = F.array(
        *[
            F.shiftrightunsigned("simhash", 16 * c).bitwiseAND(F.lit(0xFFFF))
            for c in range(4)
        ]
    )
    e = sig_df.select(F.col(id_col), F.col("simhash"), F.posexplode(chunks).alias("chunk", "cv"))
    hamming = F.bit_count(F.col("sh_a").bitwiseXOR(F.col("sh_b")))
    max_bucket = _resolve_max_bucket(
        e, id_col, ["chunk", "cv"], max_bucket, "simhash_candidate_pairs"
    )
    if max_bucket is None:
        a = e.select(F.col(id_col).alias("id_a"), F.col("simhash").alias("sh_a"), "chunk", "cv")
        b = e.select(F.col(id_col).alias("id_b"), F.col("simhash").alias("sh_b"), "chunk", "cv")
        pairs = (
            a.join(b, ["chunk", "cv"])
            .where(F.col("id_a") < F.col("id_b"))
            .select("id_a", "id_b", "sh_a", "sh_b")
            .distinct()
        )
        return pairs.withColumn("hamming", hamming)
    if int(max_bucket) < 2:
        raise ValueError(f"max_bucket must be >= 2, got {max_bucket}")
    # hot-keys-only broadcast shape (see minhash_candidate_pairs): the
    # usually-empty hot set is the only thing materialized; cold rows
    # pay a broadcast anti-join, never a shuffle join-back
    hot_keys = (
        e.groupBy("chunk", "cv")
        .agg(
            F.count(F.lit(1)).alias("_bsz"),
            F.min(id_col).alias("_rep"),
            F.min_by("simhash", F.col(id_col)).alias("_rep_sh"),
        )
        .where(F.col("_bsz") > int(max_bucket))
    )
    cold = e.join(
        F.broadcast(hot_keys.select("chunk", "cv")), ["chunk", "cv"],
        "left_anti",
    )
    a = cold.select(F.col(id_col).alias("id_a"), F.col("simhash").alias("sh_a"), "chunk", "cv")
    b = cold.select(F.col(id_col).alias("id_b"), F.col("simhash").alias("sh_b"), "chunk", "cv")
    cold_pairs = (
        a.join(b, ["chunk", "cv"])
        .where(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", "sh_a", "sh_b")
    )
    hot_pairs = (
        e.join(F.broadcast(hot_keys), ["chunk", "cv"])
        .where(F.col(id_col) != F.col("_rep"))
        .select(
            F.col("_rep").alias("id_a"),
            F.col(id_col).alias("id_b"),
            F.col("_rep_sh").alias("sh_a"),
            F.col("simhash").alias("sh_b"),
        )
    )
    pairs = cold_pairs.unionByName(hot_pairs).distinct()
    return pairs.withColumn("hamming", hamming)


# ----------------------------------------------------- embedding near-dup


def embedding_near_dup_pairs(
    emb: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.95,
    block_col: str | None = None,
    allow_brute: bool = False,
    n_planes: int = 10,
    n_tables: int = 4,
    dim: int | None = None,
    seed: int = 42,
    max_bucket: int | str | None = "auto",
) -> DataFrame:
    """Cosine near-duplicate pairs.  With ``block_col`` the self-join is
    equi on the block (e.g. an LSH bucket from similarity.with_lsh_bucket
    or a coarse IVF centroid) — the scalable path.  Without a block
    column, sign-LSH buckets are computed INTERNALLY (``n_planes`` x
    ``n_tables`` OR-amplified tables) so the default plan is always a
    bucketed equi-join — never a cartesian product.  The exact all-pairs
    cross join survives only behind an explicit ``allow_brute=True``
    (oracle/testing use: it is O(n^2) shuffle and a scale-killer on any
    real embedding table).

    ``max_bucket`` (``'auto'`` by default — measure-first, see
    :func:`_resolve_max_bucket`; applies to the multi-table array-
    bucket path, where the quadratic hazard lives — a scalar
    ``block_col`` self-join ignores it) is the hot-bucket star-cap of
    :func:`minhash_candidate_pairs` applied to the LSH/block buckets —
    the hazard is identical (a mass-duplicate embedding family shares
    every table's bucket, so one bucket goes quadratic): buckets over
    the cap pair members against the bucket's min-id representative
    only, and since an identical-embedding cluster has cos(rep, x)=1,
    the exact cosine verify still flags the whole cluster.
    """
    from .similarity import dot, with_lsh_bucket  # local import, avoids cycle

    if block_col is None and not allow_brute:
        if dim is None:
            # The schema can't carry array length, so hyperplane seeding
            # needs a one-row peek (an eager job at plan-construction
            # time — pass dim explicitly to avoid it).  Guard the
            # empty/all-null input instead of TypeError-ing on None:
            # no vectors means no pairs, by definition.
            row = (
                emb.select(vec_col).where(F.col(vec_col).isNotNull()).first()
            )
            if row is None:
                return emb.limit(0).select(
                    F.col(id_col).alias("id_a"),
                    F.col(id_col).alias("id_b"),
                    F.lit(0.0).alias("cos_sim"),
                )
            dim = len(row[0])
        emb = with_lsh_bucket(
            emb, n_planes=n_planes, n_tables=n_tables,
            vec_col=vec_col, dim=dim, seed=seed,
        )
        block_col = "lsh_bucket"
    if block_col and dict(emb.dtypes)[block_col].startswith("array"):
        # multi-table LSH: explode (table, bucket) pairs; a pair is a
        # candidate if it collides in ANY table (distinct dedups the ORs)
        ex = emb.select(
            F.col(id_col),
            F.col(vec_col),
            F.posexplode(F.col(block_col)).alias("_tbl", "_bkt"),
        )
        a = ex.select(
            F.col(id_col).alias("id_a"), F.col(vec_col).alias("va"), "_tbl", "_bkt"
        )
        b = ex.select(
            F.col(id_col).alias("id_b"), F.col(vec_col).alias("vb"), "_tbl", "_bkt"
        )
        max_bucket = _resolve_max_bucket(
            ex.select(id_col, "_tbl", "_bkt"), id_col, ["_tbl", "_bkt"],
            max_bucket, "embedding_near_dup_pairs",
        )
        if max_bucket is not None:
            if int(max_bucket) < 2:
                raise ValueError(f"max_bucket must be >= 2, got {max_bucket}")
            stats = ex.groupBy("_tbl", "_bkt").agg(
                F.count(F.lit(1)).alias("_bsz"),
                F.min(id_col).alias("_rep"),
                F.min_by(vec_col, F.col(id_col)).alias("_repv"),
            )
            tagged = ex.join(stats, ["_tbl", "_bkt"])
            cold = tagged.where(F.col("_bsz") <= int(max_bucket))
            a = cold.select(
                F.col(id_col).alias("id_a"), F.col(vec_col).alias("va"),
                "_tbl", "_bkt",
            )
            b = cold.select(
                F.col(id_col).alias("id_b"), F.col(vec_col).alias("vb"),
                "_tbl", "_bkt",
            )
            cold_cand = (
                a.join(b, ["_tbl", "_bkt"])
                .where(F.col("id_a") < F.col("id_b"))
                .select("id_a", "id_b", "va", "vb")
            )
            hot_cand = (
                tagged.where(
                    (F.col("_bsz") > int(max_bucket))
                    & (F.col(id_col) != F.col("_rep"))
                )
                .select(
                    F.col("_rep").alias("id_a"),
                    F.col(id_col).alias("id_b"),
                    F.col("_repv").alias("va"),
                    F.col(vec_col).alias("vb"),
                )
            )
            cand = cold_cand.unionByName(hot_cand).distinct()
        else:
            cand = (
                a.join(b, ["_tbl", "_bkt"])
                .where(F.col("id_a") < F.col("id_b"))
                .select("id_a", "id_b", "va", "vb")
                .distinct()
            )
    else:
        a = emb.select(
            F.col(id_col).alias("id_a"),
            F.col(vec_col).alias("va"),
            *([F.col(block_col).alias("_blk")] if block_col else []),
        )
        b = emb.select(
            F.col(id_col).alias("id_b"),
            F.col(vec_col).alias("vb"),
            *([F.col(block_col).alias("_blk")] if block_col else []),
        )
        joined = a.join(b, ["_blk"]) if block_col else a.crossJoin(b)
        cand = joined.where(F.col("id_a") < F.col("id_b"))
    return (
        cand.withColumn("cos_sim", dot(F.col("va"), F.col("vb")))
        .where(F.col("cos_sim") >= threshold)
        .select("id_a", "id_b", "cos_sim")
    )


# ------------------------------------------------------------- keep-lists


def dedup_keep_first(pairs: DataFrame, df: DataFrame, id_col: str) -> DataFrame:
    """Resolve near-dup pairs into a keep-list: drop the higher id of
    every pair (union-find-free approximation standard in data pipelines;
    transitive chains collapse because every doc linked to any smaller
    id is dropped).

    Caveat (why ``dedup_components`` exists): this keeps every LOCAL
    minimum of the pair graph — a node smaller than all its neighbors
    survives even when it is transitively linked to another survivor.
    E.g. pairs (1,3),(2,3): 1 and 2 BOTH survive although they sit in
    one duplicate cluster.  When the cluster semantics must be the
    transitive closure (one survivor per connected component, the
    SlimPajama/Dolma resolution), use ``dedup_keep_components``."""
    drop = pairs.select(F.col("id_b").alias(id_col)).distinct()
    return df.join(drop, id_col, "left_anti")


def dedup_components(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_iter: int = 25,
) -> DataFrame:
    """Resolve a near-dup pair graph into connected components by
    distributed union-find: iterative min-label propagation with
    pointer jumping, the published MapReduce CC recipe (Kiveris et al.,
    "Connected Components in MapReduce and Beyond", SoCC'14 — hash-to-min
    family).  Returns ``(id, comp)`` for every node that appears in a
    pair, where ``comp`` is the smallest id in the node's component.

    Each round does (1) a neighbor-min pass — join labels onto the
    symmetrized edge list, ``min(comp)`` per node — and (2) a pointer
    jump — relabel through the label's own label — which halves chain
    depth, so convergence is O(log diameter) rounds, not O(diameter).
    Per-round cost is one edge-sized shuffle join + agg; the edge list
    is persisted once and reused; labels are ``localCheckpoint``-ed per
    round — caching alone is NOT enough for an iterative fixpoint,
    because the LOGICAL plan still nests the whole history (the label
    expression appears twice per round, so analysis cost is 2^rounds
    and the driver heaps out; checkpointing truncates the lineage to
    the materialized partitions).  Driver state per round is ONE scalar
    (the changed-label count for the fixpoint test) — no edge or label
    data ever reaches the driver, and AQE is free to re-plan each
    round.  Near-dup graphs are sparse with tiny diameters, so at
    100 TB this is a handful of rounds over an edge list that is orders
    of magnitude smaller than the corpus.  (On a long-lived cluster
    job, set a reliable ``sparkContext.setCheckpointDir`` and swap
    ``localCheckpoint`` for ``checkpoint`` if executor loss during the
    loop must be survivable.)
    """
    if max_iter < 1:
        raise ValueError(f"max_iter must be >= 1, got {max_iter}")
    # ids keep their NATIVE type — a long cast would null out string
    # ids (pair miners accept them) and silently destroy the labeling;
    # "min" is simply the type's ordering (lexicographic for strings)
    half = pairs.select(
        F.col(id_a).alias("src"), F.col(id_b).alias("dst")
    ).where(F.col("src").isNotNull() & F.col("dst").isNotNull())
    edges = (
        half.unionByName(
            half.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
        )
        .distinct()
        .persist()
    )
    labels = (
        edges.select(F.col("src").alias("id"))
        .distinct()
        .select("id", F.col("id").alias("comp"))
        .localCheckpoint()
    )
    for _ in range(max_iter):
        nbr_min = (
            edges.join(labels.withColumnRenamed("id", "src"), "src")
            .groupBy(F.col("dst").alias("id"))
            .agg(F.min("comp").alias("comp"))
        )
        cand = (
            labels.unionByName(nbr_min).groupBy("id").agg(F.min("comp").alias("comp"))
        )
        # pointer jump: comp <- label(comp).  Labels only decrease, so
        # label(comp) <= comp; least() is belt-and-braces.
        jump = cand.select(F.col("id").alias("comp"), F.col("comp").alias("_jc"))
        new = (
            cand.join(jump, "comp", "left")
            .select(
                "id",
                F.least(F.col("comp"), F.coalesce(F.col("_jc"), F.col("comp"))).alias(
                    "comp"
                ),
            )
            .localCheckpoint()
        )
        changed = (
            new.join(labels.withColumnRenamed("comp", "_prev"), "id")
            .where(F.col("comp") != F.col("_prev"))
            .count()
        )
        labels = new
        if changed == 0:
            break
    else:
        edges.unpersist()
        raise RuntimeError(
            f"dedup_components did not converge in max_iter={max_iter} "
            f"rounds ({changed} labels still changing) — partial labels "
            "would silently split components; raise max_iter "
            "(O(log diameter) rounds suffice)"
        )
    edges.unpersist()
    return labels


def dedup_keep_components(
    pairs: DataFrame,
    df: DataFrame,
    id_col: str,
    order_col: str | None = None,
    descending: bool = True,
) -> DataFrame:
    """Keep exactly ONE row per connected component of the pair graph
    (plus every row that appears in no pair) — the transitive-closure
    survivor policy real pipelines use (SlimPajama, Dolma).

    Default survivor is the smallest id (an anti-join against non-root
    component members — no wide shuffle of ``df``).  With ``order_col``
    the survivor is the best-quality member (ties: lowest id) via one
    row_number window partitioned by component."""
    comp = dedup_components(pairs)
    if order_col is None:
        drop = comp.where(F.col("id") != F.col("comp")).select(
            F.col("id").alias(id_col)
        )
        return df.join(drop, id_col, "left_anti")
    # underscore-prefix the helper column so a caller's own "comp"
    # column neither collides at analysis time nor gets dropped
    lab = comp.select(F.col("id").alias(id_col), F.col("comp").alias("_comp"))
    joined = df.join(lab, id_col, "left")
    # unpaired rows (comp null) become singleton groups keyed by own id
    # (comp carries the id's native type, so no cast is needed or safe)
    grp = F.coalesce(F.col("_comp"), F.col(id_col))
    order = F.col(order_col).desc() if descending else F.col(order_col).asc()
    w = Window.partitionBy(grp).orderBy(order, F.col(id_col))
    return (
        joined.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") == 1)
        .drop("_rn", "_comp")
    )


# ------------------------------------------------------ semantic dedup


def semantic_dedup(
    emb: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.95,
    n_clusters: int = 16,
    n_iter: int = 2,
    resolution: str = "keep_first",
) -> DataFrame:
    """SemDeDup (Abbas et al. 2023, arXiv:2303.09540): remove
    semantically redundant documents by clustering embeddings and
    deduplicating WITHIN clusters only.

    Pipeline (every stage an existing scale-shaped operator):

    1. spherical k-means codebook — hash-ordered seeding
       (``train_centroids_sample``) + distributed Lloyd refinement
       (``kmeans_refine``: K x dim stats to the driver per iteration,
       never the data);
    2. assign each vector to its cluster (``ivf_assign``: literal
       argmax small K, Arrow matmul large K);
    3. cosine near-dup pairs with the cluster id as the BLOCK — the
       self-join is equi on ``centroid_id``, so all-pairs cost is
       bounded by the largest cluster, not the corpus;
    4. keep-lowest-id survivor resolution (``dedup_keep_first``).

    Near-dups straddling a cluster boundary are missed by design —
    the published recall/cost trade of SemDeDup; raise ``n_clusters``
    for speed, lower it for recall.  Returns the surviving rows of
    ``emb`` (original columns).

    ``resolution``: ``"keep_first"`` (default — drop the higher id of
    every pair; keeps every local minimum) or ``"components"`` (one
    survivor per TRANSITIVE similarity cluster via ``dedup_components``
    — the paper's duplicate-group semantics exactly, at the cost of
    the iterative union-find rounds).
    """
    from .similarity import ivf_assign, kmeans_refine, train_centroids_sample

    if resolution not in ("keep_first", "components"):
        raise ValueError(f"unknown resolution {resolution!r}")
    cents = train_centroids_sample(
        emb, n_centroids=n_clusters, id_col=id_col, vec_col=vec_col
    )
    cents = kmeans_refine(
        emb, cents, n_iter=n_iter, id_col=id_col, vec_col=vec_col
    )
    assigned = ivf_assign(emb, cents, id_col=id_col, vec_col=vec_col)
    pairs = embedding_near_dup_pairs(
        assigned,
        id_col=id_col,
        vec_col=vec_col,
        threshold=threshold,
        block_col="centroid_id",
    )
    if resolution == "components":
        return dedup_keep_components(pairs, emb, id_col)
    return dedup_keep_first(pairs, emb, id_col)


# --------------------------------------------- duplicate-span dedup


def _window_structs(toks: Column, width: int) -> Column:
    """Array of (pos, whash) for every width-token sliding window of a
    BOUND token-array column (pos is 0-based; empty when the doc is
    shorter than ``width``).  md5 of the space-joined window keeps the
    hash portable to the SQL oracle."""
    n = F.size(toks)
    seq = F.sequence(F.lit(1), n - width + 1)
    return F.when(
        n >= width,
        F.transform(
            seq,
            lambda s: F.struct(
                (s - 1).cast("long").alias("pos"),
                F.md5(F.array_join(F.slice(toks, s, width), " ")).alias("whash"),
            ),
        ),
    ).otherwise(F.array().cast("array<struct<pos:bigint,whash:string>>"))


def duplicate_spans(
    df: DataFrame,
    id_col: str,
    text_col: str,
    width: int = 50,
    min_docs: int = 2,
) -> DataFrame:
    """Exact duplicated-substring detection — the distributed shape of
    Lee et al. 2021 ("Deduplicating Training Data Makes Language Models
    Better", arXiv:2107.06499), which removes exact >=50-token
    substrings shared across a corpus.  Their single-machine suffix
    array becomes sliding ``width``-token window hashes: a window
    appearing in >= ``min_docs`` distinct docs marks every position it
    covers, and runs of marked positions merge into spans
    (gaps-and-islands: consecutive positions share ``pos - row_number``).

    Returns ``(id, span_start, span_end)`` — token indices, end
    exclusive, end = last duplicated window start + width.  CONSECUTIVE
    duplicated positions merge into one span; two distinct duplicated
    runs that overlap in this doc (position gap >= 2 but < width) emit
    two OVERLAPPING spans — the covered-token UNION is identical, so
    ``strip_duplicate_spans`` is unaffected; consumers needing disjoint
    intervals compose with :func:`merge_spans`.

    100 TB shape: only (id, pos, 16-byte hash) triples ever shuffle —
    once keyed by window hash for the document-frequency semi-join,
    once keyed by doc for the island merge; the text column rides no
    exchange (same scale argument as ``line_dedup``).  Work is
    O(total tokens), the same asymptotic as the suffix array, traded
    for full distribution; stride-1 windows make detection exact for
    any shared run >= ``width`` tokens.
    """
    from .scale import ensure_min_parallelism

    nonempty = ensure_min_parallelism(
        df.where(F.length(F.trim(F.col(text_col))) > 0), id_col
    )
    toked = _tokenized(nonempty, id_col, text_col)
    wins = toked.select(
        F.col(id_col), F.explode(_window_structs(F.col("_toks"), width)).alias("w")
    ).select(F.col(id_col), F.col("w.pos").alias("pos"), F.col("w.whash").alias("whash"))
    dup_hashes = (
        wins.groupBy("whash")
        .agg(F.count_distinct(id_col).alias("_df"))
        .where(F.col("_df") >= min_docs)
        .select("whash")
    )
    dup = wins.join(dup_hashes, "whash", "left_semi")
    w = Window.partitionBy(id_col).orderBy("pos")
    grp = F.col("pos") - F.row_number().over(w)
    return (
        dup.withColumn("_g", grp)
        .groupBy(id_col, "_g")
        .agg(
            F.min("pos").alias("span_start"),
            (F.max("pos") + F.lit(width)).cast("long").alias("span_end"),
        )
        .drop("_g")
    )


def merge_spans(
    spans: DataFrame,
    id_col: str,
    start_col: str = "span_start",
    end_col: str = "span_end",
) -> DataFrame:
    """Collapse overlapping or touching spans into DISJOINT intervals
    per ``id_col`` — the consumer-side companion ``duplicate_spans``
    documents: two duplicated runs closer than ``width`` emit
    overlapping spans whose covered-token union is what matters.

    Gaps-and-islands again, this time over intervals: order spans by
    start, a span opens a NEW island iff its start lies beyond the
    running ``max(end)`` of everything before it (the running max — not
    the previous row's end — because an earlier long span can swallow a
    later short one entirely); islands then aggregate to (min start,
    max end).  Ends are exclusive, so ``start == prev_end`` means
    adjacent coverage and merges.  Cost: one window + one groupBy, both
    keyed by doc — the same shuffle key ``duplicate_spans`` already
    ends on, so AQE plans the merge without an extra exchange.  Output:
    ``(id, span_start, span_end)`` disjoint, per-doc non-adjacent.
    """
    w = Window.partitionBy(id_col).orderBy(start_col, end_col)
    prev_max_end = F.max(end_col).over(
        w.rowsBetween(Window.unboundedPreceding, -1)
    )
    new_island = F.when(
        prev_max_end.isNull() | (F.col(start_col) > prev_max_end), 1
    ).otherwise(0)
    island = F.sum(new_island).over(w.rowsBetween(Window.unboundedPreceding, 0))
    return (
        spans.withColumn("_isl", island)
        .groupBy(id_col, "_isl")
        .agg(
            F.min(start_col).alias(start_col),
            F.max(end_col).alias(end_col),
        )
        .drop("_isl")
    )


def strip_duplicate_spans(
    df: DataFrame,
    id_col: str,
    text_col: str,
    width: int = 50,
    min_docs: int = 2,
) -> DataFrame:
    """Remove every duplicated span (see ``duplicate_spans``) from the
    text — the Lee et al. dedup applied as a rewrite.  Tokens covered
    by any span are dropped and the remainder re-joined with single
    spaces (whitespace runs are normalized, the same documented trade
    as ``line_dedup``'s separator rewrite).  Docs shorter than
    ``width`` tokens pass through untouched; the span list per doc is
    tiny and arrives via one small aggregate join — the heavy text
    column again never rides an exchange."""
    spans = duplicate_spans(df, id_col, text_col, width=width, min_docs=min_docs)
    return apply_span_strip(df, spans, id_col, text_col)


def apply_span_strip(
    df: DataFrame, spans: DataFrame, id_col: str, text_col: str
) -> DataFrame:
    """Rewrite ``text_col`` dropping every token covered by a
    ``(id, span_start, span_end)`` row — the shared strip kernel of
    :func:`strip_duplicate_spans` and
    ``pipeline.strip_contaminated_spans``.  Tokens outside every span
    re-join with single spaces; docs with no spans pass through with
    their ORIGINAL text (byte-untouched).  The span list per doc is
    tiny and arrives via one small aggregate join — the heavy text
    column never rides an exchange."""
    per_doc = spans.groupBy(id_col).agg(
        F.collect_list(F.struct("span_start", "span_end")).alias("_spans")
    )
    joined = df.join(per_doc, id_col, "left")
    toks = tokens(text_col)
    covered = lambda t, i: F.exists(  # noqa: E731
        F.col("_spans"),
        lambda s: (s["span_start"] <= i.cast("long")) & (i.cast("long") < s["span_end"]),
    )
    rewritten = F.when(F.col("_spans").isNull(), F.col(text_col)).otherwise(
        F.array_join(F.filter(toks, lambda t, i: ~covered(t, i)), " ")
    )
    return joined.withColumn(text_col, rewritten).drop("_spans")


# ----------------------------------------------- incremental MinHash-LSH


def minhash_index(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 32,
    bands: int = 8,
    n: int = 3,
) -> DataFrame:
    """Persistable LSH band-bucket index of a corpus slice:
    ``(band, bh, id)`` — the near-dup twin of
    ``exact_dedup_incremental``'s digest index.

    Append each ingested batch's rows to the index table (partition by
    ``band`` for bucket-pruned joins); future batches join THIS, so
    history text is never re-shingled.  bands x one 16-byte row per doc
    — ~128 bytes/doc at the defaults, independent of document size.
    """
    sets = _shingle_sets(df, id_col, text_col, n)
    sigs = sets.select(F.col(id_col), _signature_array(k).alias("_sig"))
    return sigs.select(
        F.col(id_col),
        F.posexplode(_band_hashes(bands, k // bands)).alias("band", "bh"),
    ).select("band", "bh", id_col)


def minhash_dedup_incremental(
    new_df: DataFrame,
    index: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 32,
    bands: int = 8,
    n: int = 3,
    threshold: float = 0.5,
    history: DataFrame | None = None,
    pending_deletes: DataFrame | None = None,
    max_bucket: int | str | None = "auto",
) -> tuple[DataFrame, DataFrame]:
    """Near-dup detection of a NEW batch against all history via the
    persisted :func:`minhash_index` — the batch-incremental member of
    the MinHash family (batch: ``minhash_dedup_pairs``; streaming:
    ``streaming.ingest.near_dup_stream``).

    Returns ``(flagged, new_index)``:

    * ``flagged`` — ``(new_id, old_id)`` pairs whose signatures collide
      in some band.  With ``history`` (an ``(id, text)`` frame covering
      the index ids — e.g. the corpus table) the pairs are verified
      with EXACT Jaccard >= ``threshold``; only candidate-touching
      history docs are re-shingled (semi-join pullback, O(candidates)
      text reads however big history is), and the output gains
      (n_common, n_a, n_b).  Without ``history`` the pairs are LSH
      candidates only (the streaming gate's honesty contract).
    * ``new_index`` — this batch's ``(band, bh, id)`` rows; append them
      to the index to make it current.  Compose within-batch dedup
      separately with ``minhash_dedup_pairs(new_df, ...)``.

    ``k``/``bands``/``n`` MUST match the values the index was built
    with — a mismatch silently yields disjoint bucket spaces (zero
    recall), so pin them in the index table's metadata.

    ``pending_deletes`` (one-column frame of purged doc ids — the
    same shape ``compact_dedup_indexes(delete_ids=)`` takes) is the
    BETWEEN-compactions deletion overlay: band rows belonging to
    purged docs are voided out of ``index`` before the bucket join,
    so a purged doc's ghost can no longer flag (and suppress) its own
    re-ingest — the physical rows die at the next compaction, the
    logical deletion is already correct here.  Broadcast (deletions
    are small by construction).

    ``max_bucket`` (``'auto'`` by default) is the star-cap of
    :func:`minhash_candidate_pairs` applied to the INDEX side of the
    bucket join — the hazard is the cross product: a template family
    present in history AND in the batch makes one bucket emit
    |new| x |old| pairs.  Hot index buckets collapse to their min-id
    REPRESENTATIVE, keeping pair volume O(|new|) per bucket.  With
    ``history`` (verification on) FLAG completeness is EXACT despite
    the cap: a new doc that collides into a hot bucket but fails the
    exact-Jaccard verify against every candidate it was paired with
    gets a RESCUE pass — it re-joins the FULL membership of its hot
    buckets and those pairs are verified exactly too, so a doc whose
    true near-dup is a non-rep bucket member is still flagged.  The
    rescue set is new docs with zero verified partners (band-hash
    coincidences into the hot bucket — rare by construction, since
    template families verify against their rep), so the common case
    stays O(|new|) and only the rescued stragglers pay
    O(rescued x bucket).  Pair-level output inside hot buckets
    remains rep-first (a rescued doc contributes its full verified
    pair set; a rep-verified doc reports the rep pair only) — that
    bound IS the cap's purpose.  Without ``history`` there is no
    verify phase to anchor a rescue, so capped buckets emit rep-only
    CANDIDATES — pass ``max_bucket=None`` for strict uncapped gating
    when you cannot supply history texts.  The auto probe is an
    aggregation over the persisted (band, bh) rows on a
    1/``_PROBE_MOD`` (= 1/16) id-sample — no signature recompute.
    """
    if pending_deletes is not None:
        dels = pending_deletes.select(
            F.col(pending_deletes.columns[0]).alias(id_col)
        )
        index = index.join(F.broadcast(dels), id_col, "left_anti")
    new_index = minhash_index(new_df, id_col, text_col, k=k, bands=bands, n=n)
    old = index.withColumnRenamed(id_col, "old_id")
    max_bucket = _resolve_max_bucket(
        old.select("old_id", "band", "bh"), "old_id", ["band", "bh"],
        max_bucket, "minhash_dedup_incremental",
    )
    hot_buckets = None
    old_joinable = old
    if max_bucket is not None:
        if int(max_bucket) < 2:
            raise ValueError(f"max_bucket must be >= 2, got {max_bucket}")
        stats = old.groupBy("band", "bh").agg(
            F.count(F.lit(1)).alias("_bsz"), F.min("old_id").alias("_rep")
        )
        hot_buckets = stats.where(F.col("_bsz") > int(max_bucket)).select(
            "band", "bh"
        )
        old_joinable = (
            old.join(stats, ["band", "bh"])
            .where(
                (F.col("_bsz") <= int(max_bucket))
                | (F.col("old_id") == F.col("_rep"))
            )
            .select("old_id", "band", "bh")
        )
    pairs = (
        new_index.withColumnRenamed(id_col, "new_id")
        .join(old_joinable, ["band", "bh"])
        .select("new_id", "old_id")
        .distinct()
    )
    if history is None:
        return pairs, new_index
    old_ids = pairs.select(F.col("old_id").alias(id_col)).distinct()
    suspects = history.join(F.broadcast(old_ids), id_col, "left_semi")
    # Sides are kept SEPARATE (id_a binds only new-batch sets, id_b only
    # history sets): ids need not be unique across batches and history —
    # a colliding id would otherwise conflate the two documents in the
    # verify equi-join.
    sets_new = _shingle_sets(
        new_df.select(F.col(id_col), F.col(text_col)), id_col, text_col, n
    )
    sets_old = _shingle_sets(
        suspects.select(F.col(id_col), F.col(text_col)), id_col, text_col, n
    )
    cand = pairs.select(
        F.col("new_id").alias("id_a"), F.col("old_id").alias("id_b")
    )
    verified = _verify_exact_jaccard(
        sets_new, cand, id_col, threshold, sets_b=sets_old
    )
    if hot_buckets is not None:
        # RESCUE pass (see docstring): new docs that collided into a
        # hot bucket but verified against nothing re-join the FULL
        # bucket membership; their pairs get the same exact-Jaccard
        # verify, restoring flag completeness under the cap.  The
        # rescue set is band-hash coincidences only (family members
        # verify against the rep), so this branch is empty on the
        # corpora that made the bucket hot in the first place.
        new_hot = (
            new_index.withColumnRenamed(id_col, "new_id")
            .join(F.broadcast(hot_buckets), ["band", "bh"])
        )
        flagged = verified.select(F.col("id_a").alias("new_id")).distinct()
        rescue_pairs = (
            new_hot.join(flagged, "new_id", "left_anti")
            .join(old, ["band", "bh"])
            .select("new_id", "old_id")
            .distinct()
            .join(pairs, ["new_id", "old_id"], "left_anti")
        )
        old_ids2 = rescue_pairs.select(F.col("old_id").alias(id_col)).distinct()
        suspects2 = history.join(F.broadcast(old_ids2), id_col, "left_semi")
        sets_old2 = _shingle_sets(
            suspects2.select(F.col(id_col), F.col(text_col)), id_col, text_col, n
        )
        cand2 = rescue_pairs.select(
            F.col("new_id").alias("id_a"), F.col("old_id").alias("id_b")
        )
        verified2 = _verify_exact_jaccard(
            sets_new, cand2, id_col, threshold, sets_b=sets_old2
        )
        verified = verified.unionByName(verified2)
    return (
        verified.select(
            F.col("id_a").alias("new_id"),
            F.col("id_b").alias("old_id"),
            "n_common",
            "n_a",
            "n_b",
        ),
        new_index,
    )


def compact_dedup_indexes(
    spark,
    digest_path: str | None = None,
    band_path: str | None = None,
    target_files: int = 8,
    delete_digests: DataFrame | None = None,
    delete_ids: DataFrame | None = None,
) -> dict:
    """Compact the persisted dedup indexes that
    ``streaming.ingest.maintain_dedup_indexes`` grows append-only —
    the maintenance job that keeps a long-running ingest loop from
    degrading every future anti-join into a small-files listing storm
    (one parquet sliver per micro-batch per writer task).

    Each index is folded as ``distinct()`` rows in ``target_files``
    files — duplicates are harmless to the consumers (anti-join /
    band equi-join are set-semantics, the append contract relies on
    that) but they are not FREE: every replayed or re-appended row is
    scanned on every future join, so compaction also physically
    deduplicates.  The band index repartitions on ``band`` so bucket
    joins read co-located buckets.  The fold commits via
    ``operators.manifest.compact_artifact`` (ONE small-object PUT —
    readers see old-or-new, never a mix); the maintenance stream keeps
    appending DURING the fold (its epochs stay visible through the
    epochs union) and resumes with its EXISTING checkpoint afterwards.

    DELETION (merge-on-compact, mirroring ``similarity.ivf_compact``):
    when documents are purged from the corpus their index rows must go
    too — otherwise every future ingest deduplicates against GHOSTS
    and silently drops legitimate re-additions.  ``delete_digests`` (a
    one-column frame matching the digest index's ``digest`` values)
    and ``delete_ids`` (a one-column frame of doc ids for the band
    index) are anti-joined out during the fold; both broadcast
    (deletions are small by construction).  Until the compaction runs,
    pass the SAME frames as ``pending_deletes=`` to
    ``exact_dedup_incremental`` / ``minhash_dedup_incremental`` — the
    query-time overlay that makes the deletion logically immediate.

    Returns per-index ``{"version", "epochs_folded", "rows":
    distinct_rows, "manifest", "files_before"}``."""
    import pyspark.sql.functions as F  # noqa: F811 (module-level alias)

    from .manifest import compact_artifact

    def _files(path: str) -> int:
        jvm = spark._jvm
        HPath = jvm.org.apache.hadoop.fs.Path
        fs = HPath(path).getFileSystem(spark._jsc.hadoopConfiguration())
        it, count = fs.listFiles(HPath(path), True), 0
        while it.hasNext():
            f = it.next()
            if f.getPath().getName().endswith(".parquet"):
                count += 1
        return count

    out: dict = {}
    if digest_path is not None:
        before = _files(digest_path)

        def _fold_digest(df: DataFrame) -> DataFrame:
            if delete_digests is not None:
                dels = delete_digests.select(
                    F.col(delete_digests.columns[0]).alias(df.columns[0])
                )
                df = df.join(F.broadcast(dels), df.columns[0], "left_anti")
            return df.distinct().repartition(int(target_files))

        res = compact_artifact(spark, digest_path, _fold_digest)
        out["digest"] = {**res, "files_before": before}
    if band_path is not None:
        before = _files(band_path)

        def _fold_band(df: DataFrame) -> DataFrame:
            if delete_ids is not None:
                idc = [c for c in df.columns if c not in ("band", "bh")][0]
                dels = delete_ids.select(
                    F.col(delete_ids.columns[0]).alias(idc)
                )
                df = df.join(F.broadcast(dels), idc, "left_anti")
            return df.distinct().repartition(
                int(target_files), F.col("band")
            )

        res = compact_artifact(spark, band_path, _fold_band)
        out["band"] = {**res, "files_before": before}
    return out


def load_dedup_index(spark, path: str):
    """Read a persisted dedup index (digest or band — the artifacts
    ``streaming.ingest.maintain_dedup_indexes`` grows) through its
    manifest: folded base version ∪ live streamed epochs, with
    replayed-folded epochs filtered.  The ``epoch`` bookkeeping column
    is dropped — the consumers (``exact_dedup_incremental``'s
    anti-join, ``minhash_dedup_incremental``'s band equi-join) see
    index rows only."""
    from .manifest import read_artifact

    return read_artifact(spark, path, drop_epoch=True)


def lsh_tuning_report(
    k: int = 32,
    bands: int = 8,
    jaccards: tuple = (0.5, 0.6, 0.7, 0.8, 0.9, 0.95),
) -> dict:
    """Driver-side math for choosing MinHash-LSH parameters — the
    tuning companion the bench's candidate-pair telemetry points at
    when pairs outgrow data.

    For a ``k``-permutation signature split into ``bands`` bands of
    ``r = k // bands`` rows, a pair with true Jaccard ``J`` collides in
    at least one band with probability ``S(J) = 1 - (1 - J^r)^b`` —
    the standard S-curve (Leskovec/Rajaraman/Ullman, Mining of Massive
    Datasets §3.4).  The report gives ``S(J)`` at the requested
    Jaccards plus the curve's threshold ``J* ≈ (1/b)^(1/r)`` (the
    inflection where detection switches from unlikely to likely).

    How to use the two levers:

    * Too many candidates (``pairs_ratio`` from the bench's scaling
      block far above the data ratio, verify phase dominating): raise
      ``r`` (fewer bands at the same k, or bigger k) — J* moves UP, so
      sub-threshold pairs stop colliding.  Detection at high J barely
      moves: the S-curve is steep.
    * Missing true dups near your threshold: raise ``bands`` (or k) —
      J* moves DOWN; candidate volume rises roughly linearly in b for
      sub-threshold pairs.

    Pure driver math — call it anywhere, nothing touches the cluster.
    """
    if k % bands:
        raise ValueError(f"k={k} must divide into bands={bands}")
    r = k // bands
    jstar = (1.0 / bands) ** (1.0 / r)
    return {
        "k": k,
        "bands": bands,
        "rows_per_band": r,
        "threshold_jaccard": round(jstar, 4),
        "detection_prob": {
            j: round(1.0 - (1.0 - j ** r) ** bands, 4) for j in jaccards
        },
    }
