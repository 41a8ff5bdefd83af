"""Training-data curation operators: quota capping, deterministic
splits, PII/entity masking, benchmark decontamination.

These are the corpus-level ops a 100 TB LLM-data pipeline runs after
dedup/quality (operators/dedup.py, operators/text.py): cap per-domain
volume, carve reproducible train/val/test splits, mask sensitive
spans, and drop documents that leak evaluation benchmarks.  No
reference twin — the reference stops at telemetry conversion — but
they are first-class engine surface (BASELINE.json north-star).

Scale posture: ``hash_split`` and ``redact``/``mask_terms`` are pure
narrow maps (zero shuffle, whole-stage codegen'd JVM regex/md5).
``source_quota`` shuffles once on the group key — a single hot domain
is the classic skew case, so the cap is applied per-partition first
(local top-cap) when ``pre_rank=True``, cutting the shuffle to ≤cap
rows per source before the exact global rank.  ``ngram_contamination``
joins corpus n-grams against the (small) benchmark set — the benchmark
side broadcasts, so the 100 TB side never shuffles.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, Window

from .dedup import _shingles, _tokenized

# Java-regex (Spark) patterns; all RE2-compatible so DuckDB/others can
# run the same strings.  \b word boundaries work in both.
PII_PATTERNS: dict[str, str] = {
    "email": r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}",
    "phone": r"\+?\d{1,2}[-.\s]?\(?\d{3}\)?[-.\s]?\d{3}[-.\s]?\d{4}",
    "ipv4": r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b",
    "ssn": r"\b\d{3}-\d{2}-\d{4}\b",
}


def _md5_uniform(id_col: str, salt: str):
    """Per-row uniform in [0,1): md5(id||salt)'s leading 32 bits /
    2^32 — THE engine-portable, partitioning-independent draw every
    sampling operator here shares (weighted_sample, mixture_sample;
    hash_split's bucket and stratified_sample's rank key are the same
    hash with different reductions).  One definition so a change to
    the hashing contract cannot silently break oracle parity for a
    single operator."""
    return (
        F.conv(
            F.substring(
                F.md5(F.concat(F.col(id_col).cast("string"), F.lit(salt))), 1, 8
            ),
            16,
            10,
        ).cast("double")
        / F.lit(float(1 << 32))
    )


def source_quota(
    df: DataFrame,
    key_col: str,
    cap: int,
    order_col: str,
    pre_rank: bool = False,
) -> DataFrame:
    """Keep at most ``cap`` rows per ``key_col``, deterministically:
    the first ``cap`` by ``order_col`` (per-domain document caps).

    ``pre_rank=True`` adds a map-side pre-filter: rank within the
    *input partition* first and drop rows past ``cap`` locally, so a
    source with 10^9 rows ships at most cap×n_partitions rows into the
    exact global rank instead of all of them — the window-function
    analogue of partial aggregation.  Semantically identical because
    local rank ≥ global rank ⇒ dropping local rank > cap never drops a
    global top-cap row.
    """
    if pre_rank:
        local = Window.partitionBy(F.spark_partition_id(), key_col).orderBy(
            order_col
        )
        df = df.withColumn("_lrk", F.row_number().over(local)).where(
            F.col("_lrk") <= cap
        ).drop("_lrk")
    w = Window.partitionBy(key_col).orderBy(order_col)
    return (
        df.withColumn("_rk", F.row_number().over(w))
        .where(F.col("_rk") <= cap)
        .drop("_rk")
    )


def hash_split(
    df: DataFrame,
    id_col: str,
    salt: str = "",
    train_pct: int = 80,
    val_pct: int = 10,
    split_col: str = "split",
) -> DataFrame:
    """Reproducible train/val/test assignment by content-independent
    hash of the id: ``md5(id || salt)`` → bucket 0..99 → split.

    A narrow map — no shuffle, no RNG state, stable across reruns,
    cluster sizes and engines (md5 is engine-portable, unlike
    ``rand(seed)`` whose stream depends on partitioning).  Changing
    ``salt`` re-deals the split without touching the data.
    """
    bucket = (
        F.conv(
            F.substring(F.md5(F.concat(F.col(id_col).cast("string"), F.lit(salt))), 1, 8),
            16,
            10,
        ).cast("long")
        % 100
    )
    return df.withColumn(
        split_col,
        F.when(bucket < train_pct, "train")
        .when(bucket < train_pct + val_pct, "val")
        .otherwise("test"),
    )


def mask_terms(
    df: DataFrame,
    text_col: str,
    patterns: dict[str, str],
    token: str = "[{name}]",
    out_col: str | None = None,
) -> DataFrame:
    """Mask every regex match with a placeholder and count matches.

    Adds ``n_<name>`` (match count, pre-replacement) per pattern and
    the masked text in ``out_col`` (default: in place).  Used for PII
    redaction (``PII_PATTERNS``) and dictionary scrubs (e.g. masking
    known-contaminated strings).  All JVM-side regex — one codegen'd
    projection, zero shuffle.
    """
    out_col = out_col or text_col
    masked = F.col(text_col)
    counts = {}
    for name, pat in patterns.items():
        counts[f"n_{name}"] = F.regexp_count(text_col, F.lit(pat))
        masked = F.regexp_replace(masked, pat, token.format(name=name.upper()))
    return df.withColumns({**counts, out_col: masked})


def redact_pii(df: DataFrame, text_col: str, out_col: str | None = None) -> DataFrame:
    """PII redaction with the stock email/phone/IP/SSN patterns."""
    return mask_terms(df, text_col, PII_PATTERNS, token="[{name}]", out_col=out_col)


def ngram_contamination(
    corpus: DataFrame,
    benchmark: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 8,
    broadcast_benchmark: bool = True,
) -> DataFrame:
    """Benchmark-decontamination scan: which corpus docs share a token
    n-gram with an evaluation document (the GPT-3-style 8..13-gram
    overlap rule).

    Returns (corpus_id, bench_id, n_overlap_grams).  Both sides
    shingle with the SAME kernel as minhash dedup (one narrow map
    each); the benchmark side is tiny relative to the corpus, so its
    exploded gram set broadcasts and the 100 TB corpus side joins
    without a shuffle.  Downstream: anti-join corpus against the
    distinct corpus_ids to drop or quarantine.
    """
    from .scale import ensure_min_parallelism

    def grams(df: DataFrame, out_id: str) -> DataFrame:
        toked = _tokenized(df, id_col, text_col)
        return toked.select(
            F.col(id_col).alias(out_id),
            F.explode(_shingles(F.col("_toks"), n)).alias("gram"),
        ).where(F.length("gram") > 0)

    # the corpus-side gram explode is narrow CPU — spread a split-poor
    # scan first (no-op on any real at-scale input; see scale.py)
    c = grams(ensure_min_parallelism(corpus, id_col), "corpus_id")
    b = grams(benchmark, "bench_id")
    if broadcast_benchmark:
        b = F.broadcast(b)
    return (
        c.join(b, "gram")
        .groupBy("corpus_id", "bench_id")
        .agg(F.count_distinct("gram").alias("n_overlap_grams"))
    )


def bloom_ngram_decontaminate(
    corpus: DataFrame,
    benchmark: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 8,
    fpp: float = 0.001,
    expected_grams: int | None = None,
    bloom: dict | None = None,
    broadcast_contaminated: bool = True,
) -> DataFrame:
    """Drop every corpus doc sharing a token ``n``-gram with the
    benchmark — :func:`ngram_contamination`'s DROP decision at Bloom
    cost, for benchmark suites whose raw gram set is past the broadcast
    limit (a full eval-suite union reaches 10^8+ distinct 13-grams =
    many GB of strings; the bloom is ~1.7 GB/10^8 keys at fpp=0.001
    bits -> ~170 MB, broadcastable).  EXACT: equivalent to::

        grams(corpus) SEMI JOIN grams(benchmark) -> contaminated ids
        corpus LEFT ANTI contaminated ids

    because the filter has no false negatives — clean grams pass
    without touching the benchmark, and only the maybe-grams (true
    overlaps + ~fpp of the corpus gram stream) pay the exact verify
    join against the benchmark grams.  The corpus text itself never
    shuffles: grams explode narrow, the probe is codegen'd bit math
    (``membership.bloom_might_contain``), the verify join ships only
    maybe-grams, and the final anti-join broadcasts the contaminated-id
    set (small by construction — it is the thing being removed).

    Gram kernel is byte-identical to :func:`ngram_contamination` /
    minhash dedup (``_tokenized`` + ``_shingles``), so the drop set
    matches the flag operator's ids exactly.  Pass a prebuilt
    ``bloom`` (``membership.bloom_build`` over the benchmark gram
    strings, saved/loaded like any model artifact) to amortize one
    suite's filter across many corpora; ``expected_grams`` skips the
    sizing count when the suite's gram cardinality is known.
    """
    from .membership import bloom_build, bloom_filter_members
    from .scale import ensure_min_parallelism

    def grams(df: DataFrame, out_id: str) -> DataFrame:
        toked = _tokenized(df, id_col, text_col)
        return toked.select(
            F.col(id_col).alias(out_id),
            F.explode(_shingles(F.col("_toks"), n)).alias("gram"),
        ).where(F.length("gram") > 0)

    bench_grams = grams(benchmark, "bench_id").select("gram").distinct()
    if bloom is None:
        bloom = bloom_build(
            bench_grams, "gram", expected_items=expected_grams, fpp=fpp
        )
    c = grams(ensure_min_parallelism(corpus, id_col), id_col)
    maybe = bloom_filter_members(c, "gram", bloom, "maybe")
    contaminated = (
        maybe.join(bench_grams, "gram", "left_semi")
        .select(id_col)
        .distinct()
    )
    if broadcast_contaminated:
        contaminated = F.broadcast(contaminated)
    return corpus.join(contaminated, id_col, "left_anti")


def _doc_windows(
    df: DataFrame, id_col: str, text_col: str, width: int
) -> DataFrame:
    """(id, pos, whash) rows: every ``width``-token sliding window of
    each non-degenerate doc, via the ``dedup._window_structs`` kernel
    (md5 of the space-joined window — byte-shared with the substring-
    dedup family and portable to the SQL oracle).  Null/empty/
    whitespace-only docs contribute no windows."""
    from .dedup import _tokenized, _window_structs

    ne = df.where(
        F.col(text_col).isNotNull()
        & (F.length(F.trim(F.col(text_col))) > 0)
    )
    toked = _tokenized(ne, id_col, text_col)
    return toked.select(
        F.col(id_col),
        F.explode(_window_structs(F.col("_toks"), width)).alias("w"),
    ).select(
        F.col(id_col),
        F.col("w.pos").alias("pos"),
        F.col("w.whash").alias("whash"),
    )


def contaminated_spans(
    corpus: DataFrame,
    benchmark: DataFrame,
    id_col: str,
    text_col: str,
    width: int = 50,
    broadcast_benchmark: bool = True,
) -> DataFrame:
    """Token spans of corpus text that EXACTLY match some
    ``width``-token window of the benchmark — the span-level
    contamination rule (drop the overlapping window, keep the doc)
    used when whole-doc removal (:func:`ngram_contamination` /
    :func:`bloom_ngram_decontaminate`) would throw away a long
    document over one quoted benchmark item.

    Returns ``(id, span_start, span_end)`` token indices (end
    exclusive), consecutive contaminated window positions merged via
    the same gaps-and-islands pass as ``dedup.duplicate_spans`` — the
    window kernel (``_window_structs``: stride-1, md5 of the
    space-joined window) is byte-identical to the substring-dedup
    family, so detection is exact for any shared run >= ``width``
    tokens and the hashes stay portable to the SQL oracle.

    100 TB shape: corpus text never shuffles — only (id, pos, 16-byte
    hash) triples move, once for the membership semi-join (benchmark
    window-hash set broadcasts by default; set
    ``broadcast_benchmark=False`` for suites past the broadcast limit
    — the semi-join then shuffles hashes, still never text) and once
    keyed by doc for the island merge."""
    from .scale import ensure_min_parallelism

    def wins(df: DataFrame) -> DataFrame:
        return _doc_windows(df, id_col, text_col, width)

    bh = wins(benchmark).select("whash").distinct()
    if broadcast_benchmark:
        bh = F.broadcast(bh)
    hit = wins(ensure_min_parallelism(corpus, id_col)).join(
        bh, "whash", "left_semi"
    )
    w = Window.partitionBy(id_col).orderBy("pos")
    grp = F.col("pos") - F.row_number().over(w)
    return (
        hit.withColumn("_g", grp)
        .groupBy(id_col, "_g")
        .agg(
            F.min("pos").alias("span_start"),
            (F.max("pos") + F.lit(int(width))).cast("long").alias("span_end"),
        )
        .drop("_g")
    )


def strip_contaminated_spans(
    corpus: DataFrame,
    benchmark: DataFrame,
    id_col: str,
    text_col: str,
    width: int = 50,
    broadcast_benchmark: bool = True,
) -> DataFrame:
    """Surgical decontamination: rewrite corpus text with every
    benchmark-matching span removed (:func:`contaminated_spans` +
    ``dedup.apply_span_strip``) — the doc survives minus the quoted
    window, instead of being dropped whole.  Docs with no
    contamination pass through byte-untouched."""
    from .dedup import apply_span_strip

    spans = contaminated_spans(
        corpus, benchmark, id_col, text_col, width=width,
        broadcast_benchmark=broadcast_benchmark,
    )
    return apply_span_strip(corpus, spans, id_col, text_col)


def contamination_report(
    corpus: DataFrame,
    benchmark: DataFrame,
    id_col: str,
    text_col: str,
    width: int = 50,
    broadcast_benchmark: bool = True,
) -> DataFrame:
    """Contamination PROVENANCE (r12): which benchmark document each
    contaminated corpus doc quotes, and how much — the audit artifact
    the detection/strip pair (:func:`contaminated_spans` /
    :func:`strip_contaminated_spans`) can't produce because they
    deliberately drop the benchmark ids after the membership test.
    One row per (corpus doc, benchmark doc) pair sharing at least one
    exact ``width``-token window:

    ``(id_col, bench_id, n_windows, first_pos, last_pos)`` —
    ``n_windows`` counts the matching window ATTRIBUTIONS (a corpus
    window quoting a passage present in two benchmark docs yields a
    row for each — that is the point of a provenance report),
    ``first_pos``/``last_pos`` bound the quoted region in corpus
    token coordinates (end exclusive, same convention as
    ``contaminated_spans``).

    100 TB shape: the same window kernel — corpus text never
    shuffles, only (id, pos, 16-byte hash) triples move; the
    benchmark side carries (bench_id, whash) pairs (broadcast by
    default, shuffled hash join with ``broadcast_benchmark=False``
    for suites past the limit), and the aggregate is a plain
    partial-aggregable groupBy."""
    bw = (
        _doc_windows(benchmark, id_col, text_col, width)
        .select(F.col(id_col).alias("bench_id"), "whash")
        .distinct()
    )
    if broadcast_benchmark:
        bw = F.broadcast(bw)
    hit = _doc_windows(corpus, id_col, text_col, width).join(bw, "whash")
    return hit.groupBy(id_col, "bench_id").agg(
        F.count(F.lit(1)).alias("n_windows"),
        F.min("pos").alias("first_pos"),
        (F.max("pos") + F.lit(int(width))).cast("long").alias("last_pos"),
    )


def semantic_decontaminate(
    corpus_emb: DataFrame,
    bench_emb: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.9,
    broadcast_benchmark: bool = True,
    n_planes: int = 8,
    n_tables: int = 4,
    dim: int | None = None,
    seed: int = 42,
) -> DataFrame:
    """SEMANTIC decontamination: drop every corpus row whose embedding
    is within cosine >= ``threshold`` of ANY benchmark embedding — the
    paraphrase rule the n-gram family (:func:`bloom_ngram_decontaminate`
    / :func:`contaminated_spans`) cannot catch, because a reworded
    benchmark item shares no exact token window with its source.
    Completes the decontamination tier: exact grams (q52/q105), exact
    spans (q106/q107), provenance (:func:`contamination_report`), and
    now embedding-space neighbors.

    Default path (``broadcast_benchmark=True``, the usual regime — an
    eval suite is thousands of vectors, the corpus is the 100 TB side):
    the benchmark vectors broadcast and the drop is ONE left-anti
    nested-loop pass over the corpus with the dot product as the join
    predicate — no shuffle, no second scan, EXACT.  Null corpus
    embeddings can never match and pass through (same null contract as
    the whole family).

    Scale path (``broadcast_benchmark=False``): both sides bucket with
    the SAME sign-LSH hyperplanes (``similarity.with_lsh_bucket``,
    ``n_planes`` x ``n_tables`` OR-amplified), candidates equi-join on
    (table, bucket), the exact cosine trims them, and the matched
    corpus-id set — small by the decontamination premise — broadcasts
    back into the final anti-join.  APPROXIMATE recall like every LSH
    tier (a true neighbor colliding in no table is missed; at
    cos >= 0.9 with the defaults the per-table collision rate is high
    and OR-amplification covers the rest — recall is pinned on planted
    copies in tests); precision is exact (cosine verifies every
    candidate)."""
    flagged = semantic_contaminated_ids(
        corpus_emb, bench_emb, id_col=id_col, vec_col=vec_col,
        threshold=threshold, broadcast_benchmark=broadcast_benchmark,
        n_planes=n_planes, n_tables=n_tables, dim=dim, seed=seed,
    )
    return corpus_emb.join(F.broadcast(flagged), id_col, "left_anti")


def semantic_contaminated_ids(
    corpus_emb: DataFrame,
    bench_emb: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.9,
    broadcast_benchmark: bool = True,
    n_planes: int = 8,
    n_tables: int = 4,
    dim: int | None = None,
    seed: int = 42,
) -> DataFrame:
    """The flagged-id half of :func:`semantic_decontaminate`: the
    DISTINCT ``id_col`` frame of corpus rows whose embedding is within
    cosine >= ``threshold`` of ANY benchmark embedding, with the same
    broadcast/LSH regimes and the same null contract (null embeddings
    never flag).  ``semantic_decontaminate(c, b, ...)`` IS
    ``c.join(broadcast(semantic_contaminated_ids(c, b, ...)), id,
    "left_anti")`` by construction.

    Exposed for pipelines that apply the semantic drop to a DIFFERENT
    frame carrying the same ids (q111: the span-stripped survivors) —
    anti-joining one id set evaluates the survivor subtree
    ONCE, where the split-join-union shape (with-embedding half
    through :func:`semantic_decontaminate`, no-embedding half anti-
    joined, union) would inline and recompute it per branch.  Flagged
    ids absent from the target frame simply never match the anti-join,
    so flagging the WHOLE embedding corpus is result-identical."""
    from .scale import ensure_min_parallelism
    from .similarity import dot, with_lsh_bucket

    bench = bench_emb.where(F.col(vec_col).isNotNull()).select(
        F.col(vec_col).alias("_bv")
    )
    if broadcast_benchmark:
        cond = dot(F.col(vec_col), F.col("_bv")) >= F.lit(float(threshold))
        # Matched-id broadcast-back, NOT a direct left-anti NLJ: the
        # O(corpus x bench) dot-product pass runs as an INNER NLJ over
        # a parallelism-guarded scan, the (small by the
        # decontamination premise) flagged-id set broadcasts into an
        # equi anti-join.  A direct `left_anti` NLJ here CANNOT be
        # parallelism-guarded: Catalyst's PushDownLeftSemiAntiJoin
        # pushes the anti-join below any Repartition/Union under it,
        # so the quadratic probe re-inherits the raw scan's splits —
        # measured at sf1 (20k x 400, one small file -> 2-4 splits):
        # ~85 s pinned to 4 of 32 cores, vs the inner+broadcast-back
        # shape spreading the same work cluster-wide.  Same
        # architecture as the LSH scale path below; semantics
        # unchanged (drop iff SOME benchmark neighbor >= threshold;
        # null embeddings never match and pass through).
        guarded = ensure_min_parallelism(
            corpus_emb.where(F.col(vec_col).isNotNull()).select(
                F.col(id_col), F.col(vec_col)
            ),
            id_col,
        )
        return (
            guarded.join(F.broadcast(bench), cond, "inner")
            .select(id_col)
            .distinct()
        )
    if dim is None:
        row = (
            corpus_emb.select(vec_col)
            .where(F.col(vec_col).isNotNull())
            .first()
        )
        if row is None:
            return corpus_emb.select(id_col).limit(0)
        dim = len(row[0])
    kw = dict(
        n_planes=n_planes, n_tables=n_tables, vec_col=vec_col,
        dim=dim, seed=seed,
    )
    cb = with_lsh_bucket(
        corpus_emb.where(F.col(vec_col).isNotNull()).select(
            F.col(id_col), F.col(vec_col)
        ),
        **kw,
    ).select(
        F.col(id_col),
        F.col(vec_col).alias("_cv"),
        F.posexplode("lsh_bucket").alias("_tbl", "_bkt"),
    )
    bb = with_lsh_bucket(
        bench.select(F.col("_bv").alias(vec_col)), **kw
    ).select(
        F.col(vec_col).alias("_bv"),
        F.posexplode("lsh_bucket").alias("_tbl", "_bkt"),
    )
    return (
        cb.join(bb, ["_tbl", "_bkt"])
        .where(dot(F.col("_cv"), F.col("_bv")) >= F.lit(float(threshold)))
        .select(id_col)
        .distinct()
    )


def quantile_threshold_filter(
    df: DataFrame,
    score_col: str,
    q: float = 0.10,
    keep: str = "above",
    exact: bool = False,
) -> DataFrame:
    """Corpus-relative quality gate: keep rows whose score clears the
    q-th quantile (the Gopher/C4-style "drop the worst X%" filter,
    where the cut must adapt to the corpus, not a fixed constant).

    The threshold is a 1-row aggregate broadcast back over the corpus
    — no driver collect, the scan stays distributed.  ``exact=True``
    uses ``percentile`` (a full sort of scores — needed for bit-exact
    oracle parity and fine into the low billions of rows);
    the default ``approx_percentile`` (t-digest, mergeable, one pass)
    is the 100 TB path where a +-0.1% cut boundary is immaterial.
    """
    fn = "percentile" if exact else "approx_percentile"
    thr = df.select(F.expr(f"{fn}({score_col}, {q})").alias("_thr"))
    op = (F.col(score_col) >= F.col("_thr")) if keep == "above" else (
        F.col(score_col) <= F.col("_thr")
    )
    return df.join(F.broadcast(thr)).where(op).drop("_thr")


def group_quantile_filter(
    df: DataFrame,
    group_cols: list[str],
    score_col: str,
    frac: float,
    id_col: str,
    keep: str = "best",
) -> DataFrame:
    """PER-GROUP relative quality gate: keep each group's best (or
    worst) ``frac`` of rows by ``score_col`` — "top 60% per language /
    per source", the group-aware member of the
    :func:`quantile_threshold_filter` family (whose single corpus-wide
    cut over-prunes small high-quality groups and under-prunes big
    noisy ones).

    Exact and deterministic: rows rank within their group by
    ``(score, id)`` (id tiebreak — reruns keep the same rows), and the
    kept count per group is ``ceil(frac * n_group)`` so every
    non-empty group retains at least one row.  The product is rounded
    to 9 decimals BEFORE the ceil: double arithmetic can land a hair
    above an integer (``0.1 * 30 -> 3.0000000000000004``) and a raw
    ceil would then keep one extra row per group — the mathematical
    ``ceil(frac * n)`` is the contract (r6 advice).  One hash-partition
    window per group — the same shuffle any per-group rank pays;
    groups are assumed numerous (languages, sources), so there is no
    single-reducer funnel.  ``keep="best"`` ranks score desc,
    ``"worst"`` asc (the quarantine side).
    """
    if not 0.0 < frac <= 1.0:
        raise ValueError("frac must be in (0, 1]")
    if keep not in ("best", "worst"):
        raise ValueError(f"unknown keep {keep!r}")
    order = (
        [F.col(score_col).desc(), F.col(id_col).asc()]
        if keep == "best"
        else [F.col(score_col).asc(), F.col(id_col).asc()]
    )
    w = Window.partitionBy(*[F.col(c) for c in group_cols]).orderBy(*order)
    wn = Window.partitionBy(*[F.col(c) for c in group_cols])
    return (
        df.withColumn("_rk", F.row_number().over(w))
        .withColumn("_n", F.count(F.lit(1)).over(wn))
        .where(
            F.col("_rk")
            <= F.ceil(F.round(F.lit(float(frac)) * F.col("_n"), 9))
        )
        .drop("_rk", "_n")
    )


def shuffle_shards(
    df: DataFrame,
    n_shards: int,
    id_col: str,
    seed: str = "",
    shard_col: str = "shard",
    order_col: str = "_shuffle_order",
    keep_order_col: bool = False,
) -> DataFrame:
    """Deterministic global shuffle + sharding for training export —
    the step between curation and the trainer's data loader.

    Both the shard assignment and the intra-shard order are pure hashes
    of ``(id, seed)``: ``md5`` like ``hash_split`` — NOT ``rand()``,
    whose stream depends on partitioning and retries, silently
    reshuffling data between attempts of the same job (a reproducibility
    bug in a training pipeline).  Changing ``seed`` re-deals the whole
    shuffle; same seed -> byte-identical shards on any cluster size.

    Scale shape: assignment is a narrow map; the only exchange is the
    ``repartition(n_shards, shard)`` that co-locates each shard, and
    ``sortWithinPartitions`` keeps the per-shard order sort local (no
    global sort / range exchange).  Write with
    ``write.partitionBy(shard_col)`` (or one task per shard via the
    repartition already in place) for loader-addressable shard files.
    """
    if n_shards < 1:
        raise ValueError(f"n_shards must be >= 1, got {n_shards}")
    h = F.conv(
        F.substring(
            F.md5(F.concat(F.col(id_col).cast("string"), F.lit(seed))), 1, 14
        ),
        16,
        10,
    ).cast("long")
    out = (
        df.withColumn(order_col, h)
        .withColumn(shard_col, (F.col(order_col) % n_shards).cast("int"))
        .repartition(n_shards, F.col(shard_col))
        # hash(shard) % n is not a bijection, so a task may hold several
        # shards: sort shard-first so each shard's rows are contiguous
        # and hash-ordered inside the task (partitionBy(shard) writes
        # then preserve per-shard order within each file)
        .sortWithinPartitions(shard_col, order_col, id_col)
    )
    return out if keep_order_col else out.drop(order_col)


def pack_sequences(
    df: DataFrame,
    budget: int,
    id_col: str,
    token_col: str,
    n_workers: int = 64,
    seed: str = "",
    pack_col: str = "pack_id",
    pos_col: str = "pack_pos",
) -> DataFrame:
    """Pack documents into token-budget bins (sequence packing — the
    step that turns a curated corpus into fixed-length training
    sequences without padding waste).

    Greedy next-fit packing is inherently sequential *within a bin*, so
    the parallel shape is: deterministically scatter docs over
    ``n_workers`` hash partitions (md5, same rationale as
    ``shuffle_shards`` — stable across retries and cluster sizes), then
    run the greedy scan per partition via ``mapInPandas``.  Pack ids are
    globally unique (``worker_id * 2^40 + local_seq``) without any
    cross-partition coordination.  A doc longer than ``budget`` gets a
    singleton pack — truncation is the tokenizer's decision, not the
    packer's.

    100 TB shape: one hash exchange + an Arrow-batched linear scan per
    partition; no global sort, no driver state.  Packing quality vs a
    global greedy is the usual trade — within-partition fill stays near
    budget because each worker still packs in deterministic hash order.
    """
    if budget < 1:
        raise ValueError(f"budget must be >= 1, got {budget}")
    from pyspark.sql.types import IntegerType, LongType, StructField, StructType

    h = F.conv(
        F.substring(
            F.md5(F.concat(F.col(id_col).cast("string"), F.lit(seed))), 1, 14
        ),
        16,
        10,
    ).cast("long")
    scattered = (
        df.withColumn("_pk_order", h)
        .withColumn("_pk_worker", (F.col("_pk_order") % n_workers).cast("int"))
        .repartition(n_workers, F.col("_pk_worker"))
        .sortWithinPartitions("_pk_worker", "_pk_order", id_col)
    )
    out_schema = StructType(
        [*scattered.schema.fields,
         StructField(pack_col, LongType()),
         StructField(pos_col, IntegerType())]
    )

    def _pack(it):
        import pandas as pd

        # mapInPandas streams each partition as MULTIPLE Arrow batches
        # (split at spark.sql.execution.arrow.maxRecordsPerBatch), so the
        # greedy state is per-PARTITION and must live outside the batch
        # loop — resetting it per batch restarts local_seq at 0 and
        # collides pack ids across batches of the same partition.
        fill = {}  # worker -> (local_seq, tokens_used); partition-scoped
        for pdf in it:
            packs, positions = [], []
            for w, t in zip(pdf["_pk_worker"], pdf[token_col]):
                seq, used = fill.get(w, (0, 0))
                t = int(t)
                if used > 0 and used + t > budget:
                    seq, used = seq + 1, 0
                packs.append((int(w) << 40) | seq)
                positions.append(used)
                fill[w] = (seq, used + t)
            pdf = pdf.copy()
            pdf[pack_col] = pd.Series(packs, index=pdf.index, dtype="int64")
            pdf[pos_col] = pd.Series(positions, index=pdf.index, dtype="int32")
            yield pdf

    return scattered.mapInPandas(_pack, out_schema).drop(
        "_pk_order", "_pk_worker"
    )


def weighted_sample(
    df: DataFrame,
    id_col: str,
    weight_col: str,
    fraction: float,
    salt: str = "",
    keep_col: str | None = None,
    exact_mean: bool = False,
) -> DataFrame:
    """Deterministic weight-proportional downsampling: keep each row
    with probability ``fraction * weight / mean(weight)`` (clamped at
    1) — the standard quality-weighted mixing step when composing a
    training corpus (upsample... keep more of... high-quality sources,
    keep less of low-quality ones, expected output ~= fraction of
    input rows when weights are well-scaled).

    Determinism: the per-row uniform is ``md5(id || salt)``'s leading
    32 bits / 2^32 — engine-portable and partitioning-independent
    (``rand(seed)``'s stream is neither); re-deal with ``salt``.  The
    mean weight is a 1-row aggregate broadcast back over the corpus
    (same shape as quantile_threshold_filter — no driver collect).
    The whole thing is IEEE *,/ and integer hashing — no libm — so an
    engine-parity oracle can reproduce the exact keep set.

    With ``keep_col`` set, rows are flagged instead of filtered
    (audit/debug mode).  ``exact_mean=True`` computes the mean weight
    through the fixed-point path (floor(w*1e6+0.5) int64 sum, exact;
    the plain double ``avg`` is order-dependent in the last ulp, which
    could flip a borderline keep decision between engines) — needed
    for oracle parity, harmless in production up to ~2^53/1e6-scale
    weight sums per the fsum contract.
    """
    u = _md5_uniform(id_col, salt)
    w = F.col(weight_col).cast("double")
    if exact_mean:
        mean_w = df.select(
            (
                F.sum(F.floor(w * F.lit(1e6) + F.lit(0.5))).cast("double")
                / F.lit(1e6)
                / F.count(F.lit(1))
            ).alias("_mean_w")
        )
    else:
        mean_w = df.select(F.avg(w).alias("_mean_w"))
    out = df.crossJoin(F.broadcast(mean_w))
    keep = u < F.lit(float(fraction)) * w / F.col("_mean_w")
    if keep_col is not None:
        return out.withColumn(keep_col, keep).drop("_mean_w")
    return out.where(keep).drop("_mean_w")


def length_buckets(
    df: DataFrame,
    id_col: str,
    text_col: str,
    bucket_size: int = 32,
    max_buckets: int = 16,
) -> DataFrame:
    """Token-length bucketing for padded batch inference/training: docs
    grouped into ``bucket_size``-token bins (last bin open-ended) with
    the per-bin padding bill — ``padding_waste = n_docs * bucket_max -
    sum_tokens``, the tokens a batcher would burn padding every doc in
    the bin to the bin's longest member.  Sequence packing
    (``pack_sequences``) ELIMINATES padding; bucketing only bounds it,
    but is the standard choice when sample boundaries must survive
    (inference, preference pairs).  One partial-aggregable groupBy on a
    derived int key — nothing else moves.

    Returns (bucket, n_docs, sum_tokens, bucket_max, padding_waste),
    null-text docs excluded (no length to bucket).
    """
    from .text import token_count

    n_tok = token_count(text_col)
    bucket = F.least(
        F.floor(n_tok / F.lit(bucket_size)), F.lit(max_buckets - 1)
    ).cast("long")
    return (
        df.where(F.col(text_col).isNotNull())
        .select(bucket.alias("bucket"), n_tok.alias("_n"))
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("_n").cast("long").alias("sum_tokens"),
            F.max("_n").cast("long").alias("bucket_max"),
        )
        .withColumn(
            "padding_waste",
            (F.col("n_docs") * F.col("bucket_max") - F.col("sum_tokens")).cast("long"),
        )
    )


def stratified_sample(
    df: DataFrame,
    group_col: str,
    n_per_group: int,
    id_col: str,
    salt: str = "",
    pre_rank: bool = False,
) -> DataFrame:
    """Deterministic stratified sampling: exactly ``n_per_group`` rows
    per group (fewer if the group is smaller), chosen by md5 rank — the
    balanced-subset op (per-language eval slices, per-source probes)
    where ``weighted_sample``'s independent coin flips can't promise
    exact counts.

    md5(id||salt) ordering makes the draw uniform-random-like yet
    partitioning-independent and reproducible (same engine-portability
    argument as ``hash_split``); ``salt`` re-deals.  Cost: one window
    rank keyed by group — same shuffle shape as ``source_quota``, with
    the same ``pre_rank=True`` map-side cap for hot groups: each input
    partition keeps only its local top-``n_per_group`` by the SAME md5
    key before the global rank, so a group holding half the corpus
    ships at most n_per_group x n_partitions rows into the one-reducer
    window instead of all of them.  Exact by the subset argument —
    local rank >= global rank, so a row outside its partition's top-n
    can never be in the group's global top-n.
    """
    rank_key = F.md5(F.concat(F.col(id_col).cast("string"), F.lit(salt)))
    # null ids have no sampling identity: their md5 rank is NULL (sorts
    # first, crowding out real rows) and ties between them would break
    # nondeterministically — exclude them rather than sample garbage
    df = df.where(F.col(id_col).isNotNull())
    if pre_rank:
        local = Window.partitionBy(F.spark_partition_id(), group_col).orderBy(
            rank_key, F.col(id_col)
        )
        df = (
            df.withColumn("_lsrk", F.row_number().over(local))
            .where(F.col("_lsrk") <= n_per_group)
            .drop("_lsrk")
        )
    w = Window.partitionBy(group_col).orderBy(rank_key, F.col(id_col))
    return (
        df.withColumn("_srk", F.row_number().over(w))
        .where(F.col("_srk") <= n_per_group)
        .drop("_srk")
    )


def mixture_sample(
    df: DataFrame,
    source_col: str,
    id_col: str,
    token_col: str,
    weights: dict[str, float],
    total_tokens: int,
    salt: str = "",
) -> DataFrame:
    """Corpus MIXTURE construction (the Pile/Dolma/LLaMA data-mixing
    step): downsample each source so its token share approaches
    ``weights[source] * total_tokens``.  Per-source keep fraction =
    ``min(target_tokens / source_tokens, 1)`` — a source smaller than
    its target keeps everything (upsampling past 1 epoch is a REPEAT
    decision for the loader, not a sampler; the achieved share is
    visible in the output for exactly that audit).  Sources missing
    from ``weights`` get weight 0 (dropped).

    Determinism: the per-row uniform is ``md5(id || salt)`` (same
    engine-portable, partitioning-independent draw as
    ``weighted_sample``/``hash_split``); per-source token totals are
    exact int64 sums, so fractions — and therefore the exact keep SET —
    reproduce across engines and cluster sizes.  Scale shape: one
    partial-aggregable groupBy over sources for the totals, broadcast
    of the |sources|-row fraction table back onto the corpus, then a
    narrow filter — the corpus never shuffles.  Rows with a null id
    drop (null has no sampling identity — same contract as
    ``stratified_sample``; the SQL oracle agrees since NULL < frac is
    NULL), and so do rows with a null ``source_col`` (no source, no
    weight: the inner join with the per-source table excludes them —
    assign a sentinel source upstream if that mass must be kept).
    """
    target = F.create_map(
        *[x for s, w in weights.items() for x in (F.lit(s), F.lit(float(w)))]
    )
    totals = (
        df.groupBy(source_col)
        .agg(F.sum(F.col(token_col).cast("long")).alias("_src_tokens"))
        .withColumn(
            "_frac",
            # a source with token total 0/NULL must drop, not keep-all:
            # ANSI division would THROW on /0 and F.least SKIPS nulls
            # (NULL ratio would collapse to 1.0) — try_divide + coalesce
            F.least(
                F.coalesce(
                    F.try_divide(
                        F.coalesce(target[F.col(source_col)], F.lit(0.0))
                        * F.lit(float(total_tokens)),
                        F.col("_src_tokens"),
                    ),
                    F.lit(0.0),
                ),
                F.lit(1.0),
            ),
        )
        .select(source_col, "_frac")
    )
    u = _md5_uniform(id_col, salt)
    return (
        df.join(F.broadcast(totals), source_col)
        .where(u < F.col("_frac"))
        .drop("_frac")
    )


def mixture_audit(
    df: DataFrame,
    source_col: str,
    token_col: str,
    weights: dict[str, float],
    total_tokens: int,
) -> DataFrame:
    """The audit frame for :func:`mixture_sample` — the Pile/Dolma
    "epochs" table: per source, what the mixture DESIGN achieves and
    what it leaves to the loader.  ``mixture_sample`` caps keep
    fractions at 1 (upsampling past one epoch is a REPEAT decision for
    the loader, not a sampler); this computes that decision instead of
    leaving it hand-derived.

    Per source present in ``df``: ``src_tokens`` (exact int64
    availability), ``target_share``/``target_tokens`` (the requested
    mix; 0 for sources missing from ``weights`` — mixture_sample drops
    them), ``keep_frac`` (the fraction mixture_sample applies),
    ``achieved_tokens`` = min(src, target) — the expected kept volume
    under the md5-uniform draw, which is also the exact large-N share —
    ``achieved_share`` of ``total_tokens``, and ``implied_repeat`` =
    max(target/src, 1): how many epochs of the kept set the loader must
    run to hit the target (an UNDERSIZED source keeps everything and
    repeats >1x; an oversized one subsamples and repeats exactly 1).

    Same scale shape as the sampler's totals pass: one partial-
    aggregable groupBy over sources, |sources| rows out — run it
    alongside ``mixture_sample`` with the same arguments.  All derived
    columns are single IEEE ops on exact int64 sums, so the frame is
    engine-reproducible (oracle-backed).
    """
    target = F.create_map(
        *[x for s, w in weights.items() for x in (F.lit(s), F.lit(float(w)))]
    )
    tot = F.lit(float(total_tokens))
    ratio = F.coalesce(
        F.try_divide(F.col("target_tokens"), F.col("src_tokens")), F.lit(0.0)
    )
    return (
        df.groupBy(source_col)
        .agg(F.sum(F.col(token_col).cast("long")).alias("src_tokens"))
        .withColumn(
            "target_share", F.coalesce(target[F.col(source_col)], F.lit(0.0))
        )
        .withColumn("target_tokens", F.col("target_share") * tot)
        .withColumn("keep_frac", F.least(ratio, F.lit(1.0)))
        .withColumn(
            "achieved_tokens",
            F.least(F.col("src_tokens").cast("double"), F.col("target_tokens")),
        )
        .withColumn("achieved_share", F.col("achieved_tokens") / tot)
        .withColumn("implied_repeat", F.greatest(ratio, F.lit(1.0)))
    )


# ------------------------------------------------- global running sum


def global_running_sum(
    df: DataFrame,
    order_cols: list,
    value_col: str,
    out_col: str = "running_sum",
    n_partitions: int | None = None,
    materialize: str = "checkpoint",
) -> DataFrame:
    """Cumulative sum over a GLOBAL ordering without the single-reducer
    trap.

    ``SUM() OVER (ORDER BY ...)`` with no PARTITION BY is the textbook
    scale bug: Spark plans it as one window partition, i.e. every row
    through ONE reducer.  This decomposes it exactly: (1) range-
    partition on the ordering (the same exchange a global sort pays);
    (2) per-range local cumsum (window keyed by the captured range id);
    (3) per-range totals -> driver prefix sum (``n_partitions`` scalars
    — one tiny collect); (4) broadcast the offsets back.  Identical
    result, every stage parallel.

    ``order_cols`` must be a TOTAL order (add an id tiebreaker) or the
    cumsum is not well-defined; items may be ``Column`` (e.g.
    ``F.col("score").desc()``) or names.  Exact for int64 values.

    The intermediate cache is CORRECTNESS-critical, not a speedup:
    range-exchange bounds come from seeded sampling keyed by RDD id, so
    re-running the lineage in a second job could shift a row's
    ``_range_id`` and misapply the offsets.  ``materialize`` picks how
    its lifetime is managed:

    * ``"checkpoint"`` (default) — the result is eagerly
      ``localCheckpoint``-ed (NOTE: evaluation happens AT CALL TIME,
      not at the first action — one extra materialization, peak 2x the
      result while it lands) and the intermediate cache is dropped
      before returning; the checkpoint's storage is scoped to the
      returned DataFrame's lifetime (the context cleaner reclaims it on
      GC), so nothing persists session-wide.  Durability caveat:
      ``localCheckpoint`` blocks are NON-REPLICATED executor storage
      and the lineage is truncated, so on a real cluster losing an
      executor after return makes the DataFrame unrecoverable (any
      action on it then fails; re-run the call).  For a long-lived
      result on a lossy cluster, write it to a table instead.
    * ``"cache"`` — legacy: the intermediate stays persisted
      (MEMORY_AND_DISK) until the caller clears it
      (``spark.catalog.clearCache()`` or session end); cheapest when
      the caller consumes the result exactly once right away and
      manages cache scope itself.
    """
    if materialize not in ("checkpoint", "cache"):
        raise ValueError(f"unknown materialize mode {materialize!r}")
    cols = [F.col(c) if isinstance(c, str) else c for c in order_cols]
    n = n_partitions or df.sparkSession.sparkContext.defaultParallelism
    ranged = (
        df.repartitionByRange(n, *cols)
        .sortWithinPartitions(*cols)
        .withColumn("_range_id", F.spark_partition_id())
    )
    w = Window.partitionBy("_range_id").orderBy(*cols)
    # persist: pins ONE evaluation of the range exchange for both the
    # totals collect and the result join (see docstring — lineage
    # re-execution could re-sample different range bounds)
    local = ranged.withColumn("_local_cum", F.sum(value_col).over(w)).persist()
    # partition total = sum of values, NOT max(local cumsum): the two
    # agree only when values are non-negative
    totals = (
        local.groupBy("_range_id")
        .agg(F.sum(value_col).alias("_total"))
        .collect()
    )
    offset = {}
    acc = 0
    for r in sorted(totals, key=lambda r: r["_range_id"]):
        offset[r["_range_id"]] = acc
        acc += r["_total"] or 0
    off = df.sparkSession.createDataFrame(
        [(k, v) for k, v in offset.items()], "_range_id int, _offset bigint"
    )
    out = (
        local.join(F.broadcast(off), "_range_id")
        .withColumn(out_col, F.col("_local_cum") + F.col("_offset"))
        .drop("_range_id", "_local_cum", "_offset")
    )
    if materialize == "checkpoint":
        out = out.localCheckpoint(eager=True)
        local.unpersist(blocking=True)
    return out


def budget_select(
    df: DataFrame,
    score_col: str,
    token_col: str,
    budget: int,
    id_col: str,
    out_col: str = "cum_tokens",
) -> DataFrame:
    """Greedy token-budget selection: take documents best-score-first
    until the budget is spent (the deterministic "best N tokens" cut a
    training run starts from, where quality is ranked but the budget is
    counted in tokens, not documents).

    Keeps every document whose INCLUSIVE running token total (in
    ``score_col`` desc, ``id_col`` asc order) is <= ``budget`` — the
    maximal prefix of the quality ordering that fits.  Built on
    :func:`global_running_sum`, so the global ordering never funnels
    through one reducer.
    """
    order = [F.col(score_col).desc(), F.col(id_col).asc()]
    cum = global_running_sum(df, order, token_col, out_col=out_col)
    return cum.filter(F.col(out_col) <= budget)


# ------------------------------------------------------- corpus diff


def corpus_diff(
    old: DataFrame,
    new: DataFrame,
    content_cols: list[str],
    id_col: str,
) -> DataFrame:
    """Content-level diff of two corpus snapshots →
    ``(digest, status added|removed|retained, old_id, new_id)`` — the
    audit every dataset release ships ("what changed since v1?").

    Both sides reduce to (digest, min id) BEFORE the full-outer join,
    so only 32-byte digests + ids ride the exchanges — document text
    never moves, and the join keys are pre-aggregated (no skew: digests
    are uniform by construction).  Status is content-based: a doc that
    changed text shows as one `removed` + one `added` digest, which is
    the honest semantics for training-data provenance (the old content
    is gone, new content arrived).
    """
    dig = F.md5(F.concat_ws("\x1f", *content_cols))

    def side(df, out):
        return (
            df.select(dig.alias("digest"), F.col(id_col))
            .groupBy("digest")
            .agg(F.min(id_col).alias(out))
        )

    o, n = side(old, "old_id"), side(new, "new_id")
    status = (
        F.when(F.col("old_id").isNull(), F.lit("added"))
        .when(F.col("new_id").isNull(), F.lit("removed"))
        .otherwise(F.lit("retained"))
    )
    return o.join(n, "digest", "full_outer").select(
        "digest", status.alias("status"), "old_id", "new_id"
    )


def apply_corpus_update(
    base: DataFrame,
    updates: DataFrame,
    id_col: str,
    delete_col: str | None = None,
) -> DataFrame:
    """MERGE/upsert a corpus snapshot: ``updates`` rows replace ``base``
    rows sharing ``id_col``; ids only in ``updates`` insert; with
    ``delete_col`` (boolean on the updates side), true rows are
    TOMBSTONES — the matching base row is dropped and the tombstone
    itself is not emitted.  The Delta/Iceberg ``MERGE INTO`` semantics
    (whenMatched update / whenNotMatched insert / matched-AND-condition
    delete) expressed in pure DataFrame ops.

    Scale shape: one equi-shuffle on ``id_col`` for the full-outer
    join; no row ever appears twice (updates must be unique per id —
    enforce upstream or via ``exact_dedup``).  At 100 TB this is the
    canonical daily-snapshot maintenance job: base is the big side,
    updates the small one, and AQE broadcast-joins automatically when
    updates fit (the join is written side-agnostically so either plan
    works).

    Columns: output schema is ``base``'s schema (minus nothing);
    ``updates`` must carry the same data columns (plus ``delete_col``).
    """
    data_cols = [c for c in base.columns if c != id_col]
    upd = updates
    if delete_col is not None:
        tomb = F.coalesce(F.col(delete_col), F.lit(False))
        upd = upd.withColumn("_tomb", tomb).drop(delete_col)
    else:
        upd = upd.withColumn("_tomb", F.lit(False))
    missing = [c for c in data_cols if c not in upd.columns]
    if missing:
        raise ValueError(f"updates side missing data columns {missing}")
    b = base.select(
        F.col(id_col), *[F.col(c).alias(f"_b_{c}") for c in data_cols]
    )
    u = upd.select(
        F.col(id_col),
        "_tomb",
        *[F.col(c).alias(f"_u_{c}") for c in data_cols],
    )
    joined = b.join(u, id_col, "full_outer")
    matched_update = F.col("_tomb").isNotNull() & ~F.col("_tomb")

    def out(c):
        if c == id_col:
            return F.col(id_col)
        return (
            F.when(matched_update, F.col(f"_u_{c}"))
            .otherwise(F.col(f"_b_{c}"))
            .alias(c)
        )

    # keep: base-only rows (no update), matched non-tombstone updates,
    # and update-only inserts; drop matched tombstones AND tombstones
    # for ids that never existed (idempotent deletes)
    keep = F.col("_tomb").isNull() | ~F.col("_tomb")
    return joined.where(keep).select(*[out(c) for c in base.columns])


def corpus_profile(
    df: DataFrame,
    id_col: str,
    text_col: str,
    lang_col: str | None = None,
) -> tuple[DataFrame, DataFrame | None]:
    """One-pass dataset DATASHEET (r12): the summary a curation run
    records next to its output — row/id cardinalities, degenerate-text
    counts, EXACT duplicate pressure (distinct md5 digests — the same
    content key :func:`~.dedup.exact_dedup` groups on, so
    ``n_rows - n_distinct_texts`` is exactly the row count that dedup
    would remove), and size totals (chars + whitespace tokens).

    Returns ``(profile, by_lang)``: ``profile`` is ONE row —
    ``(n_rows, n_ids, n_null_text, n_blank_text, n_distinct_texts,
    total_chars, total_tokens)`` — computed as a single
    partial-aggregable pass (the two count-distincts expand to one
    extra exchange each, still no driver funnel and no text movement:
    only 16-byte digests / ids shuffle).  ``by_lang`` (when
    ``lang_col`` is given) is the per-language breakdown
    ``(lang, n_rows, n_distinct_texts, total_tokens)`` — one groupBy
    keyed on the language.  All counts are EXACT (oracle-checkable);
    for billion-distinct regimes where exact distincts are not worth
    their shuffle, the sketch tier (``sketches.hll_shard_sketch``) is
    the approximate, persistable alternative."""
    from .text import token_count

    t = F.col(text_col)
    blank = t.isNotNull() & (F.length(F.trim(t)) == 0)
    toks = F.when(
        t.isNotNull() & ~blank, token_count(t)
    ).otherwise(F.lit(0))
    profile = df.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.count_distinct(F.col(id_col)).alias("n_ids"),
        F.sum(F.when(t.isNull(), 1).otherwise(0)).alias("n_null_text"),
        F.sum(F.when(blank, 1).otherwise(0)).alias("n_blank_text"),
        F.count_distinct(F.md5(t)).alias("n_distinct_texts"),
        F.sum(F.coalesce(F.length(t), F.lit(0))).alias("total_chars"),
        F.sum(toks).alias("total_tokens"),
    )
    if lang_col is None:
        return profile, None
    by_lang = df.groupBy(F.col(lang_col).alias("lang")).agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.count_distinct(F.md5(t)).alias("n_distinct_texts"),
        F.sum(toks).alias("total_tokens"),
    )
    return profile, by_lang
