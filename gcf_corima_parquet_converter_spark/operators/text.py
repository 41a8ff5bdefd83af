"""Text-analysis operators for LLM-data pipelines (north star; no
reference twin — BASELINE.json:6).

All hot-path logic is built-in ``pyspark.sql.functions`` (JVM-side,
whole-stage-codegen) — no Python UDFs: language-ID and quality scoring
over 100 TB of documents must not round-trip rows through Python.
"""

from __future__ import annotations

import pandas as pd
import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame

# Tiny per-language stopword markers for the heuristic language-ID.
# Checked in order; first language with a marker hit wins (deterministic
# CASE chain — the oracle SQL mirrors it exactly).
LANG_MARKERS: list[tuple[str, tuple[str, ...]]] = [
    ("de", (" der ", " und ", " nicht ")),
    ("fr", (" le ", " et ", " les ")),
    ("es", (" el ", " y ", " los ")),
    ("en", (" the ", " a ", " and ")),
]

STOPWORDS = ("the", "a", "and", "of", "to", "in")


def tokens(col: str | Column) -> Column:
    """Whitespace tokenization (split on runs of whitespace, trimmed)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.split(F.trim(c), r"\s+")


def token_count(col: str | Column) -> Column:
    return F.size(tokens(col))


def stopword_count(col: str | Column, stopwords=STOPWORDS) -> Column:
    return F.size(F.filter(tokens(col), lambda t: t.isin(*stopwords)))


def punct_count(col: str | Column) -> Column:
    """Characters outside [a-zA-Z0-9 ] — punctuation-ish density."""
    c = F.col(col) if isinstance(col, str) else col
    return F.length(F.regexp_replace(c, "[a-zA-Z0-9 ]", ""))


def lang_id(col: str | Column) -> Column:
    """Heuristic language-ID: first stopword-marker family that appears.

    A real pipeline would use fastText/CLD3; the n-gram/stopword
    heuristic keeps it dependency-free and fully JVM-side.
    """
    c = F.col(col) if isinstance(col, str) else col
    padded = F.concat(F.lit(" "), c, F.lit(" "))
    expr = F.lit("und")
    for lang, markers in reversed(LANG_MARKERS):
        hit = None
        for m in markers:
            h = padded.contains(m)
            hit = h if hit is None else (hit | h)
        expr = F.when(hit, lang).otherwise(expr)
    return expr


# BPE-ish pre-tokenizer: contractions | space-prefixed words | numbers |
# punctuation runs.  ASCII-scoped so the Java-regex (Spark) and RE2
# (DuckDB oracle) dialects match byte-for-byte.
BPE_ISH_PATTERN = r"'(?:s|t|re|ve|m|ll|d)| ?[A-Za-z]+| ?[0-9]+| ?[^A-Za-z0-9\s]+"


def bpe_ish_tokens(col: str | Column) -> Column:
    """GPT-2-style pre-tokenization as one JVM-side regex scan — the
    cheap `how many LLM tokens is this corpus` estimator (a real BPE
    merge pass only refines these boundaries downstream)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.regexp_extract_all(c, F.lit(BPE_ISH_PATTERN), 0)


def bpe_ish_token_count(col: str | Column) -> Column:
    return F.size(bpe_ish_tokens(col))


def winnow_fingerprints(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 3,
    w: int = 4,
) -> DataFrame:
    """Winnowing document fingerprints (the rolling-hash scheme of
    Schleimer/Wilkerson/Aiken, SIGMOD'03): hash every word k-gram, keep
    the minimum hash of each sliding window of ``w`` consecutive k-gram
    hashes.  Guarantees any shared run of ~k+w-1 tokens between two docs
    yields a shared fingerprint, with a sublinear fingerprint count.

    Returns (id, fingerprint) rows, distinct per doc.  md5 keeps the
    hash portable to the SQL oracle.  Each intermediate array binds to
    its own projection — higher-order lambdas re-evaluate inline
    expressions per element (see dedup._shingles).
    """
    nonempty = df.where(F.length(F.trim(F.col(text_col))) > 0)
    toked = nonempty.select(F.col(id_col), tokens(text_col).alias("_toks"))
    t = F.col("_toks")
    kgram_hashes = F.transform(
        F.sequence(F.lit(1), F.greatest(F.size(t) - k + 1, F.lit(1))),
        lambda i: F.md5(
            # try_element_at: ANSI-safe past the array end (short docs)
            F.concat_ws(" ", *[F.try_element_at(t, i + j) for j in range(k)])
        ),
    )
    hashed = toked.select(F.col(id_col), kgram_hashes.alias("_h"))
    h = F.col("_h")
    window_mins = F.transform(
        F.sequence(F.lit(1), F.greatest(F.size(h) - w + 1, F.lit(1))),
        lambda j: F.array_min(F.slice(h, j, w)),
    )
    return hashed.select(
        F.col(id_col),
        F.explode(F.array_distinct(window_mins)).alias("fingerprint"),
    )


def fingerprint(col: str | Column) -> Column:
    """Document fingerprint: md5 over the normalized token stream.

    Portable across engines (the rolling-hash variant lives in
    dedup.simhash, which has no SQL oracle).
    """
    return F.md5(F.array_join(tokens(col), " "))


def ngram_repetition(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 2,
) -> DataFrame:
    """Per-document n-gram repetition features — the Gopher-style
    repetition filters (Rae et al. 2021, appendix A1.1) every
    pretraining pipeline applies after the cheap length gates:

    - ``distinct_token_ratio``: distinct tokens / total tokens (low =>
      looping text),
    - ``top_ngram_frac``: share of all n-grams taken by the single most
      frequent n-gram,
    - ``dup_ngram_frac``: share of n-gram occurrences whose n-gram
      appears more than once.

    Distributed shape: n-grams are exploded and counted with a two-level
    aggregation (map-side partial combine on ``(id, gram)``), so the
    shuffle key cardinality is bounded by per-document vocabulary — no
    whole-document strings cross the wire, and skew is bounded by the
    longest document, never the corpus.  Documents too short to form an
    n-gram keep a row with zeroed gram stats via the left join.
    """
    t = F.col("_t")
    base = df.select(
        F.col(id_col),
        tokens(text_col).alias("_t"),
    ).select(
        F.col(id_col),
        F.size(t).alias("n_tokens"),
        F.size(F.array_distinct(t)).alias("_n_dist"),
        F.transform(
            # sequence(1, 0) is DESCENDING in Spark — empty starts for
            # docs too short to form an n-gram, not greatest(.., 0).
            F.when(
                F.size(t) >= n, F.sequence(F.lit(1), F.size(t) - n + 1)
            ).otherwise(F.expr("array()").cast("array<int>")),
            lambda i: F.concat_ws(
                " ", *[F.try_element_at(t, i + j) for j in range(n)]
            ),
        ).alias("_grams"),
    )
    gram_counts = (
        base.select(F.col(id_col), F.explode("_grams").alias("_gram"))
        .groupBy(id_col, "_gram")
        .agg(F.count(F.lit(1)).alias("_c"))
    )
    gram_stats = gram_counts.groupBy(id_col).agg(
        F.sum("_c").alias("_n_grams"),
        F.max("_c").alias("_top_c"),
        F.sum(F.when(F.col("_c") > 1, F.col("_c")).otherwise(0)).alias("_dup_c"),
    )
    joined = base.drop("_grams").join(gram_stats, id_col, "left")
    n_grams = F.coalesce(F.col("_n_grams"), F.lit(0))
    return joined.select(
        F.col(id_col),
        F.col("n_tokens"),
        n_grams.alias("n_grams"),
        F.when(
            F.col("n_tokens") > 0, F.col("_n_dist") / F.col("n_tokens")
        ).alias("distinct_token_ratio"),
        F.when(n_grams > 0, F.coalesce(F.col("_top_c"), F.lit(0)) / n_grams).alias(
            "top_ngram_frac"
        ),
        F.when(n_grams > 0, F.coalesce(F.col("_dup_c"), F.lit(0)) / n_grams).alias(
            "dup_ngram_frac"
        ),
    )


def chunk_documents(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    chunk_tokens: int = 128,
    overlap: int = 16,
) -> DataFrame:
    """Split documents into overlapping token-window chunks — the
    context-window prep step of RAG indexing and pretraining tokenizers.

    Start positions run 1, 1+stride, ... while start <= max(n-overlap, 1)
    with ``stride = chunk_tokens - overlap``, so every token is covered
    and consecutive chunks share exactly ``overlap`` tokens (the final
    chunk may be shorter).  Returns one row per chunk:
    ``(id, chunk_idx, chunk_text, n_chunk_tokens)``.

    Scale shape: a narrow per-row transform + posexplode — ZERO shuffle;
    chunking 100 TB is embarrassingly parallel and this plan keeps it
    that way (one WholeStageCodegen span over the scan).
    """
    if overlap >= chunk_tokens:
        raise ValueError("overlap must be < chunk_tokens")
    stride = chunk_tokens - overlap
    t = F.col("_t")
    starts = F.sequence(
        F.lit(1), F.greatest(F.size(t) - overlap, F.lit(1)), F.lit(stride)
    )
    chunks = F.transform(
        starts,
        lambda s: F.struct(
            F.array_join(F.slice(t, s, chunk_tokens), " ").alias("chunk_text"),
            F.size(F.slice(t, s, chunk_tokens)).alias("n_chunk_tokens"),
        ),
    )
    toked = df.select(F.col(id_col), tokens(text_col).alias("_t"))
    return toked.select(
        F.col(id_col), F.posexplode(chunks).alias("chunk_idx", "_c")
    ).select(
        F.col(id_col),
        F.col("chunk_idx"),
        F.col("_c.chunk_text").alias("chunk_text"),
        F.col("_c.n_chunk_tokens").alias("n_chunk_tokens"),
    )


def quality_features(
    df: DataFrame, text_col: str = "text", prefix: str = ""
) -> DataFrame:
    """Attach quality-scoring features: token/char/stopword/punct counts
    and an aggregate quality flag (the length+stopword filter every
    pretraining pipeline runs first)."""
    t = F.col(text_col)
    n_tok = token_count(t)
    n_stop = stopword_count(t)
    return df.withColumns(
        {
            f"{prefix}n_chars_obs": F.length(t),
            f"{prefix}n_tokens": n_tok,
            f"{prefix}n_stopwords": n_stop,
            f"{prefix}n_punct": punct_count(t),
            f"{prefix}fingerprint": fingerprint(t),
            f"{prefix}lang_pred": lang_id(t),
            # keep-filter: plausible document length and some stopword mass
            f"{prefix}quality_keep": (n_tok >= 5)
            & (F.length(t) >= 20)
            & (n_stop * 20 >= n_tok),
        }
    )


def tfidf_topk(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 5,
    idf: str = "log",
) -> DataFrame:
    """Per-document top-``k`` terms by TF-IDF (keyword extraction for
    corpus exploration / topic tagging / dedup-key selection).

    Returns (id, rank, term, tf, doc_freq, score) with rank 1..k per
    doc, ordered by score desc then term asc (fully deterministic —
    integer-count ties are common, so the tiebreak is part of the
    contract, not a nicety).

    ``idf``: ``"log"`` (default) is the classic smoothed
    ln((N+1)/(df+1))+1; ``"inv"`` scores tf/df — a monotone-in-df
    variant whose arithmetic is a single IEEE division of two small
    ints, hence bit-identical across engines (used by the DuckDB-graded
    q66, where libm ln could differ in the last ulp and flip near-tie
    rankings).

    100 TB shape: two shuffles, both on narrow rows —
    (id, term) pairs for TF, then terms for DF.  The DF side is
    vocab-sized (Heaps' law: sublinear in corpus size), so Spark/AQE
    broadcasts it back onto the TF frame; stop-word DF skew lands in
    the TERM aggregation where partial (map-side) combine flattens it
    before the exchange.  The final per-doc top-k is a window over the
    doc partitioning the TF shuffle already established.
    """
    from pyspark.sql import Window

    if idf not in ("log", "inv"):
        raise ValueError(f"idf must be 'log' or 'inv', got {idf!r}")
    terms = df.select(
        F.col(id_col), F.explode(tokens(text_col)).alias("term")
    ).where(F.length("term") > 0)
    tf = terms.groupBy(id_col, "term").agg(F.count(F.lit(1)).alias("tf"))
    df_t = tf.groupBy("term").agg(F.count(F.lit(1)).alias("doc_freq"))
    n_docs = df.select(F.count(F.lit(1)).alias("_n"))
    scored = tf.join(df_t, "term")
    if idf == "log":
        scored = scored.crossJoin(F.broadcast(n_docs)).withColumn(
            "score",
            F.col("tf")
            * (F.log((F.col("_n") + F.lit(1)) / (F.col("doc_freq") + F.lit(1))) + F.lit(1.0)),
        ).drop("_n")
    else:
        scored = scored.withColumn(
            "score", F.col("tf").cast("double") / F.col("doc_freq")
        )
    w = (
        Window.partitionBy(id_col)
        .orderBy(F.col("score").desc(), F.col("term").asc())
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select(id_col, "rank", "term", "tf", "doc_freq", "score")
    )


def unigram_logprob(
    df: DataFrame,
    id_col: str,
    text_col: str,
    vocab: DataFrame | None = None,
    smoothing: float = 0.5,
    min_count: int = 1,
) -> DataFrame:
    """Per-document mean unigram log-probability — the CCNet-style
    language-model quality proxy (real CCNet uses a KenLM 5-gram; the
    unigram version keeps the same shape: score each doc by how
    "expected" its tokens are under a corpus LM, then gate/bucket on
    the score).  More negative = more surprising = likelier junk.

    ``vocab``: optional (term, cnt) frequency table — pass a
    precomputed one to score a stream/batch against a REFERENCE corpus
    (the production pattern: the LM is trained on trusted text, not on
    the batch being scored).  Defaults to the corpus itself.

    Scale shape: the vocab is Heaps-law sublinear and broadcasts onto
    the exploded (id, term) pairs; the per-doc mean is one aggregation
    keyed by id.  In reference-vocab mode the broadcast is EXPLICIT —
    an AQE fallback to sort-merge would shuffle the exploded term pairs
    with classic stopword key skew — and ``min_count`` prunes the
    hapax-legomena tail (standard CCNet vocab practice: Heaps' law puts
    roughly half of distinct terms at cnt=1, so ``min_count=2`` halves
    the broadcast while smoothing scores the pruned terms as OOV).
    Laplace-``smoothing`` keeps OOV tokens finite.  Returns
    (id, n_tokens, avg_logprob).

    Not oracle-graded: ln is libm-dependent (repo convention — see
    queries.py float-parity strategy); pinned by a Python-math pytest
    instead.
    """
    reference_mode = vocab is not None
    terms = df.select(
        F.col(id_col), F.explode(tokens(text_col)).alias("term")
    ).where(F.length("term") > 0)
    if vocab is None:
        vocab = terms.groupBy("term").agg(F.count(F.lit(1)).alias("cnt"))
    if min_count > 1:
        # prune BEFORE totals so the model stays a proper distribution
        # over the pruned vocab (pruned terms fall into the OOV mass)
        vocab = vocab.where(F.col("cnt") >= min_count)
    total_vocab = vocab.select(
        F.sum("cnt").alias("_total"), F.count(F.lit(1)).alias("_vsize")
    )
    scored = (
        terms.join(F.broadcast(vocab) if reference_mode else vocab, "term", "left")
        .crossJoin(F.broadcast(total_vocab))
        .select(
            F.col(id_col),
            F.log(
                (F.coalesce(F.col("cnt"), F.lit(0)).cast("double") + F.lit(smoothing))
                / (F.col("_total") + F.lit(smoothing) * F.col("_vsize"))
            ).alias("_lp"),
        )
    )
    return scored.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_tokens"),
        F.avg("_lp").alias("avg_logprob"),
    )


# ------------------------------------------- compression-ratio quality


def compression_ratio(
    df: DataFrame, id_col: str, text_col: str, level: int = 6
) -> DataFrame:
    """Per-document zlib compression ratio (compressed/raw bytes) — the
    classic cheap repetition/noise signal used alongside Gopher's rules:
    boilerplate and templated spam compress far below normal prose
    (~0.3-0.45 for English text; << 0.3 is repetition, ~1.0 is
    random/binary junk).

    This is the ONE text-quality scorer here that leaves the JVM: a
    DEFLATE pass has no pyspark.sql.functions expression, so it runs as
    an Arrow-batched pandas UDF — a narrow map, no shuffle, batch-at-a-
    time vectorized transfer; the 100 TB cost profile is identical to
    any other narrow scan+project plus the Python codec CPU.  Returns
    (id, n_bytes, compression_ratio); null/empty text yields null
    ratio (no bytes to measure, matching SQL null semantics).
    """
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("double")
    def _ratio(texts: pd.Series) -> pd.Series:
        import zlib

        def one(t):
            if t is None:
                return None
            raw = t.encode("utf-8")
            if not raw:
                return None
            return len(zlib.compress(raw, level)) / len(raw)

        return texts.map(one)

    c = F.col(text_col)
    return df.select(
        F.col(id_col),
        F.octet_length(c).alias("n_bytes"),
        _ratio(c).alias("compression_ratio"),
    )


# --------------------------------------- DSIR importance weights


def hashed_ngram_buckets(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n_buckets: int = 10_000,
    bigrams: bool = True,
) -> DataFrame:
    """Explode each doc into hashed n-gram feature buckets — the DSIR
    feature map (Xie et al. 2023, arXiv:2302.03169: unigrams + bigrams
    hashed into 10k buckets).  Pure built-in expressions: tokenize,
    optionally zip tokens with their successors, xxhash64 pmod
    ``n_buckets``.  Returns (id, bucket) one row per feature OCCURRENCE
    (counts matter to the importance weight, so no dedup).  Empty
    tokens are filtered (split of empty/whitespace text yields [""]),
    so null and empty docs contribute no features."""
    toks = F.filter(tokens(text_col), lambda t: F.length(t) > 0)
    feats = F.transform(toks, lambda t: F.pmod(F.xxhash64(t), F.lit(n_buckets)))
    if bigrams:
        n = F.size(toks)
        bi = F.transform(
            F.slice(toks, 1, F.greatest(n - 1, F.lit(0))),
            lambda t, i: F.pmod(
                F.xxhash64(F.concat_ws("\x1f", t, F.element_at(toks, i + 2))),
                F.lit(n_buckets),
            ),
        )
        feats = F.concat(feats, bi)
    return df.select(F.col(id_col), F.explode(feats).alias("bucket"))


def _bucket_distribution(
    corpus: DataFrame, text_col: str, n_buckets: int, bigrams: bool
) -> DataFrame:
    """(bucket, cnt) over a corpus — at most ``n_buckets`` rows, the
    broadcastable side of the DSIR weight join."""
    b = hashed_ngram_buckets(
        corpus.select(F.monotonically_increasing_id().alias("_rid"), text_col),
        "_rid",
        text_col,
        n_buckets,
        bigrams,
    )
    return b.groupBy("bucket").agg(F.count(F.lit(1)).alias("cnt"))


def dsir_logweight(
    df: DataFrame,
    id_col: str,
    text_col: str,
    target: DataFrame,
    source: DataFrame | None = None,
    target_text_col: str = "text",
    source_text_col: str | None = None,
    n_buckets: int = 10_000,
    smoothing: float = 0.5,
    bigrams: bool = True,
) -> DataFrame:
    """DSIR importance weight per document (Xie et al. 2023,
    arXiv:2302.03169): ``log w(x) = sum_f [log p_target(f) -
    log p_source(f)]`` over the doc's hashed n-gram features — docs that
    look more like the TARGET corpus (e.g. Wikipedia+books) than the
    raw SOURCE corpus get higher weight; resampling by ``exp(logw)``
    (compose with ``pipeline.weighted_sample``) yields the DSIR-selected
    subset.

    ``source`` defaults to ``df`` itself (the standard setup: weight the
    raw pool against itself vs the target); an explicit ``source``
    frame's text column is ``source_text_col`` (defaults to
    ``target_text_col``).  Scale shape: both feature
    distributions are <= ``n_buckets`` rows and EXPLICITLY broadcast
    onto the exploded (id, bucket) stream — same skew argument as
    ``unigram_logprob``: hot buckets (stopword features) would wreck a
    sort-merge join; the per-doc weight is one aggregation keyed by id.
    Laplace-``smoothing`` keeps never-seen buckets finite on both sides.
    Returns (id, n_feats, dsir_logweight).

    Rows-only (ln is libm-dependent, repo float-parity convention);
    pinned by a Python-math parity test.
    """
    feats = hashed_ngram_buckets(df, id_col, text_col, n_buckets, bigrams)
    tdist = _bucket_distribution(target, target_text_col, n_buckets, bigrams)
    # default source = df itself: its bucket distribution is BY
    # CONSTRUCTION the multiset of feats — aggregate feats and PERSIST
    # the feature stream so the corpus is tokenized+hashed once, not
    # once for the sdist broadcast job and again for the scoring join
    # (lazy re-use alone does NOT elide the second scan: the broadcast
    # side executes as its own job with its own lineage).  Same
    # cache-without-unpersist trade as ngram_jaccard_pairs' shingle
    # cache: the entry lives until the session drops it; MEMORY_AND_DISK
    # spills rather than OOMs at scale.
    if source is not None:
        sdist = _bucket_distribution(
            source, source_text_col or target_text_col, n_buckets, bigrams
        )
    else:
        feats = feats.persist()
        sdist = feats.groupBy("bucket").agg(F.count(F.lit(1)).alias("cnt"))
    t_tot = tdist.select(F.sum("cnt").alias("_t_total"))
    s_tot = sdist.select(F.sum("cnt").alias("_s_total"))
    joined = (
        feats.join(F.broadcast(tdist.withColumnRenamed("cnt", "_t_cnt")), "bucket", "left")
        .join(F.broadcast(sdist.withColumnRenamed("cnt", "_s_cnt")), "bucket", "left")
        .crossJoin(F.broadcast(t_tot))
        .crossJoin(F.broadcast(s_tot))
    )
    sm = F.lit(smoothing)
    logratio = F.log(
        (F.coalesce(F.col("_t_cnt"), F.lit(0)) + sm)
        / (F.col("_t_total") + sm * F.lit(n_buckets))
    ) - F.log(
        (F.coalesce(F.col("_s_cnt"), F.lit(0)) + sm)
        / (F.col("_s_total") + sm * F.lit(n_buckets))
    )
    return joined.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_feats"),
        F.sum(logratio).alias("dsir_logweight"),
    )


# ------------------------------------------------- text normalization


def normalize_text(
    df: DataFrame,
    text_col: str,
    out_col: str | None = None,
    lowercase: bool = True,
    collapse_whitespace: bool = True,
    strip_control: bool = True,
    nfc: bool = False,
) -> DataFrame:
    """Standard corpus text normalization (the C4/CCNet preprocessing
    shape): lowercase, strip C0/C1 control characters, collapse
    whitespace runs to single spaces and trim.  Everything is built-in
    JVM regex/string expressions — one codegen'd narrow projection,
    zero shuffle — EXCEPT ``nfc=True``, which applies Unicode NFC
    through an Arrow-batched pandas UDF (the JVM expression library has
    no normalizer; the UDF is the documented slow path and stays off by
    default).  Normalize BEFORE hashing-based ops (exact dedup, minhash,
    spans) so byte-level variants of the same text collide.
    """
    out_col = out_col or text_col
    c = F.col(text_col)
    if strip_control:
        c = F.regexp_replace(c, r"[\x00-\x08\x0b\x0c\x0e-\x1f\x7f-\x9f]", "")
    if lowercase:
        c = F.lower(c)
    if collapse_whitespace:
        c = F.trim(F.regexp_replace(c, r"\s+", " "))
    if nfc:
        from pyspark.sql.functions import pandas_udf

        @pandas_udf("string")
        def _nfc(texts: pd.Series) -> pd.Series:
            import unicodedata

            return texts.map(
                lambda t: unicodedata.normalize("NFC", t) if t is not None else None
            )

        c = _nfc(c)
    return df.withColumn(out_col, c)


# ------------------------------------------------------------ BPE train


def word_counts(
    df: DataFrame,
    text_col: str = "text",
    min_count: int = 1,
    max_words: int | None = None,
) -> DataFrame:
    """(word, n) frequency table — one explode + partial-aggregable
    groupBy.  ``min_count`` prunes the hapax tail (at web scale most
    word TYPES occur once and carry no merge signal); ``max_words``
    keeps the top types by (count desc, word) — deterministic."""
    wc = (
        df.select(F.explode(tokens(text_col)).alias("word"))
        .where(F.length("word") > 0)
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("n"))
        .where(F.col("n") >= min_count)
    )
    if max_words is not None:
        wc = wc.orderBy(F.desc("n"), "word").limit(max_words)
    return wc


def collocations(
    df: DataFrame,
    text_col: str = "text",
    min_count: int = 5,
) -> DataFrame:
    """Bigram collocation mining — the phrase-discovery pass tokenizer
    and vocabulary builders run before merging multiword units: which
    adjacent word pairs co-occur far more than chance.

    Returns ``(w1, w2, pair_count, c1, c2, lift)`` where ``lift`` is
    the PMI ratio WITHOUT the log (exact rational arithmetic — the
    same engine-portability dodge as BM25's ``idf='rational'``; rank
    order is identical since log is monotone)::

        lift = (pair_count / N_pairs) / ((c1 / N_uni) * (c2 / N_uni))

    Plan: bigrams derive NARROWLY from each doc's token array (two
    shifted ``slice``s zipped — no positional self-join, no shuffle
    before the counting groupBys).  The unigram-count joins carry NO
    broadcast hint (r13 verdict): the unigram table is
    O(|vocabulary|) — 10^8–10^9 distinct tokens on a web corpus,
    multiple GB, past any broadcast ceiling — so forcing a broadcast
    OOMs exactly at the scale this operator targets.  Both sides are
    vocab-sized equi-key aggregates, so a shuffle join is the honest
    static plan, and AQE upgrades it to a broadcast at runtime
    whenever the measured size actually fits (the small-corpus fast
    path costs nothing to keep).  Only the one-row ``totals`` frame —
    two scalar counts, O(1) by construction at any corpus size — is
    broadcast explicitly.  Everything stays whole-stage-codegen JVM.
    ``min_count`` prunes the hapax pair tail map-side-aggregated
    anyway but keeps the lift table honest — lift is noise below a
    handful of observations."""
    t = F.filter(tokens(text_col), lambda x: x != F.lit(""))
    docs = df.where(
        F.col(text_col).isNotNull() & (F.trim(F.col(text_col)) != "")
    ).select(t.alias("_t"))
    sz = F.size("_t")
    pairs = docs.where(sz >= 2).select(
        F.explode(
            F.arrays_zip(
                F.slice("_t", 1, sz - 1).alias("w1"),
                F.slice("_t", 2, sz - 1).alias("w2"),
            )
        ).alias("p")
    ).select(F.col("p.w1").alias("w1"), F.col("p.w2").alias("w2"))
    pair_counts = (
        pairs.groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).alias("pair_count"))
        .where(F.col("pair_count") >= int(min_count))
    )
    uni = docs.select(F.explode("_t").alias("w")).groupBy("w").agg(
        F.count(F.lit(1)).alias("c")
    )
    totals = uni.agg(
        F.sum("c").alias("n_uni"),
    ).crossJoin(
        pairs.groupBy().agg(F.count(F.lit(1)).alias("n_pairs"))
    )
    out = (
        pair_counts.join(
            uni.select(F.col("w").alias("w1"), F.col("c").alias("c1")),
            "w1",
        )
        .join(
            uni.select(F.col("w").alias("w2"), F.col("c").alias("c2")),
            "w2",
        )
        .crossJoin(F.broadcast(totals))
    )
    # fixed left-to-right IEEE shape: each double multiply/divide is
    # correctly rounded, so ANY engine evaluating this exact expression
    # order produces bit-identical results (products may exceed 2^53 at
    # corpus scale — they round, identically, with ~1e-16 relative
    # error, far below lift's meaningful precision)
    lift = (
        F.col("pair_count").cast("double")
        * F.col("n_uni").cast("double")
        * F.col("n_uni").cast("double")
    ) / (
        F.col("n_pairs").cast("double")
        * F.col("c1").cast("double")
        * F.col("c2").cast("double")
    )
    return out.select(
        "w1", "w2", "pair_count", "c1", "c2", lift.alias("lift")
    )


_EOW = "</w>"


def bpe_train(
    df: DataFrame,
    text_col: str = "text",
    n_merges: int = 200,
    min_count: int = 1,
    max_words: int | None = None,
) -> list[tuple[str, str]]:
    """Learn a BPE merge list from a corpus (Sennrich et al. 2016,
    arXiv:1508.07909) — EXACT, because the word-frequency table is a
    sufficient statistic for BPE: this is precisely how SentencePiece /
    HuggingFace trainers work (corpus pass -> word counts -> merge loop
    on the counts), not an approximation.

    Scale split: the ONLY corpus-scale step is :func:`word_counts`
    (one shuffle of (word, partial count) pairs); the merge loop runs
    driver-side over word TYPES (vocabulary-sized — prune with
    ``min_count``/``max_words`` exactly as the reference trainers do).
    Deterministic: pair ties break lexicographically, so the same
    corpus yields the same merges on any partitioning.

    Returns the ordered merge list; feed it to :func:`bpe_tokenize` /
    :func:`bpe_vocab`.
    """
    rows = word_counts(df, text_col, min_count, max_words).collect()
    words: dict[tuple[str, ...], int] = {
        (*r["word"], _EOW): r["n"] for r in rows
    }
    merges: list[tuple[str, str]] = []
    for _ in range(n_merges):
        pair_counts: dict[tuple[str, str], int] = {}
        for sym, n in words.items():
            for a, b in zip(sym, sym[1:]):
                pair_counts[(a, b)] = pair_counts.get((a, b), 0) + n
        if not pair_counts:
            break
        pair, n_best = min(
            pair_counts.items(), key=lambda kv: (-kv[1], kv[0])
        )
        if n_best < 2:
            break  # nothing left that repeats: further merges are noise
        merged = pair[0] + pair[1]
        new_words = {}
        for sym, n in words.items():
            out = []
            i = 0
            while i < len(sym):
                if i + 1 < len(sym) and (sym[i], sym[i + 1]) == pair:
                    out.append(merged)
                    i += 2
                else:
                    out.append(sym[i])
                    i += 1
            new_words[tuple(out)] = new_words.get(tuple(out), 0) + n
        words = new_words
        merges.append(pair)
    return merges


def bpe_vocab(merges: list[tuple[str, str]]) -> list[str]:
    """The subword vocabulary a merge list induces (merge outputs, in
    learning order)."""
    return [a + b for a, b in merges]


def _bpe_encode_word(word: str, ranks: dict[tuple[str, str], int]) -> list[str]:
    sym = [*word, _EOW]
    while len(sym) > 1:
        pairs = [(ranks.get((a, b)), i) for i, (a, b) in enumerate(zip(sym, sym[1:]))]
        pairs = [(r, i) for r, i in pairs if r is not None]
        if not pairs:
            break
        _, i = min(pairs)
        sym[i : i + 2] = [sym[i] + sym[i + 1]]
    return sym


def bpe_tokenize(
    df: DataFrame,
    merges: list[tuple[str, str]],
    text_col: str = "text",
    out_col: str = "bpe_tokens",
) -> DataFrame:
    """Apply a learned merge list → subword array column (lossless:
    concatenating a word's pieces reproduces the word + end marker).

    Arrow-batched pandas UDF — applying ranked merges is an inherently
    sequential per-word loop with no JVM expression twin (same honesty
    contract as ``compression_ratio``); a per-batch word memo collapses
    the Zipf head, so the loop runs ~once per word TYPE per batch, not
    per token.  The heuristic JVM-side estimator (``bpe_ish_tokens``)
    remains the hot-path choice when only counts are needed.

    Word splitting matches :func:`bpe_train`'s ``tokens()`` (Java regex
    ``\\s+``, ASCII whitespace) exactly — Python's ``str.split()`` also
    breaks on Unicode whitespace like U+00A0, which would tokenize a
    different word population than the one the merges were learned on.
    """
    import re

    ranks = {pair: i for i, pair in enumerate(merges)}
    ws = re.compile(r"\s+", re.ASCII)  # Java \s == Python ASCII \s

    @F.pandas_udf("array<string>")
    def _enc(texts: pd.Series) -> pd.Series:
        memo: dict[str, list[str]] = {}

        def enc(t):
            if t is None:
                return None
            out = []
            for w in ws.split(t):
                if not w:
                    continue
                got = memo.get(w)
                if got is None:
                    got = memo[w] = _bpe_encode_word(w, ranks)
                out.extend(got)
            return out

        return texts.map(enc)

    return df.withColumn(out_col, _enc(F.col(text_col)))


# ------------------------------------------------ linear quality model
# The fastText-style quality-classifier surface every pretraining
# pipeline ends up with (Brown et al. 2020 used an LR over features to
# score CommonCrawl against curated text): score = sigmoid(w . x + b)
# over cheap JVM features.  Training follows the engine's iterative-
# algorithm pattern (kmeans_refine): the DRIVER holds the tiny weight
# vector, the CLUSTER computes the full-batch gradient as dim+1
# partial-aggregable sum columns — one scan per iteration, nothing but
# (dim+1) doubles ever reaches the driver.


def linear_score(
    df: DataFrame,
    weights: dict[str, float],
    bias: float = 0.0,
    out_col: str = "quality_score",
) -> DataFrame:
    """sigmoid(sum(w_c * col_c) + bias) as one pure-JVM projection —
    the serving side of the quality classifier.  ``weights`` maps
    column name -> coefficient (train with :func:`logreg_train` or
    bring offline weights)."""
    z = F.lit(float(bias))
    for c, w in weights.items():
        z = z + F.col(c).cast("double") * F.lit(float(w))
    return df.withColumn(out_col, F.lit(1.0) / (F.lit(1.0) + F.exp(-z)))


def logreg_train(
    df: DataFrame,
    feature_cols: list[str],
    label_col: str,
    n_iter: int = 50,
    lr: float = 0.1,
    l2: float = 0.0,
) -> tuple[dict[str, float], float]:
    """Full-batch gradient-descent logistic regression, distributed the
    scale-correct way: per iteration ONE aggregation computes the exact
    batch gradient — ``dim+1`` ``sum()`` columns (map-side partials, so
    the exchange carries dim+1 doubles per task however many rows) —
    and the driver applies the update to its dim+1 weights.  No MLlib
    dependency, no per-row Python; rows never leave the JVM.

    Features should be roughly unit-scale (standardize upstream —
    gradient descent on wildly-scaled features needs a tiny lr).
    Returns ``(weights, bias)`` ready for :func:`linear_score`.
    Deterministic up to float sum order (partial sums combine in
    partition order; differences are ~1 ulp and do not move the
    decision boundary materially — test-pinned against a numpy twin).

    The (dim+1)-column feature projection is **persisted for the
    duration of the loop** (and unpersisted on exit, even on error):
    without that, each of the ``n_iter`` gradient jobs would replay the
    full upstream lineage — e.g. quality featurization over the whole
    corpus — turning one logical pass into ~``n_iter`` physical ones.
    The row count is folded into the first gradient aggregation, so
    training costs exactly ``n_iter`` jobs over the cached projection.
    """
    import numpy as np

    dim = len(feature_cols)
    w = np.zeros(dim)
    b = 0.0
    if int(n_iter) <= 0:
        return {c: 0.0 for c in feature_cols}, 0.0
    # Materialize only the columns the loop touches; everything else in
    # the upstream frame (raw text, blobs, ...) stays out of the cache.
    feats = df.select(
        *[F.col(c).cast("double").alias(c) for c in feature_cols],
        F.col(label_col).cast("double").alias("_y"),
    ).persist()
    try:
        n = None
        y = F.col("_y")
        for it in range(int(n_iter)):
            z = F.lit(float(b))
            for c, wi in zip(feature_cols, w):
                z = z + F.col(c) * F.lit(float(wi))
            err = F.lit(1.0) / (F.lit(1.0) + F.exp(-z)) - y
            aggs = [
                F.sum(err * F.col(c)).alias(f"g{i}")
                for i, c in enumerate(feature_cols)
            ] + [F.sum(err).alias("gb")]
            if n is None:
                # fold count() into iteration 0 — no separate scan
                aggs.append(F.count(F.lit(1)).alias("_n"))
            row = feats.select(*aggs).first()
            if n is None:
                n = int(row["_n"])
                if n == 0:
                    raise ValueError("cannot train on an empty frame")
            grad = np.array([row[f"g{i}"] for i in range(dim)]) / n + l2 * w
            w = w - lr * grad
            b = b - lr * float(row["gb"]) / n
    finally:
        feats.unpersist()
    return {c: float(wi) for c, wi in zip(feature_cols, w)}, float(b)


# --------------------------------------- n-gram LM with stupid backoff
#
# The CCNet perplexity-filtering step (Wenzek et al. 2020, LREC —
# real CCNet scores with a KenLM 5-gram) with the count-based scoring
# scheme Google built for exactly the distributed-counts setting:
# STUPID BACKOFF (Brants et al. 2007, EMNLP "Large Language Models in
# Machine Translation"), which drops Kneser-Ney's discount bookkeeping
# so the model IS the raw n-gram count table — trivially mergeable,
# shardable, and trainable as one groupBy, the property that made it
# the MapReduce-era LM and makes it the Spark-native one here:
#
#     S(w | ctx_k) = count(ctx_k · w) / count(ctx_k)   if count > 0
#                  = alpha * S(w | ctx_{k-1})          otherwise
#     S(w)         = count(w) / N                      (base case)
#
# No normalization (S is a score, not a probability) — which is why
# it survives integer-count sharding unchanged.  The reference engine
# has no LM twin; the tier belongs to the north-star pipeline: score
# every document by how expected its text is under a trusted corpus's
# LM, then gate/bucket on the score (the highest-leverage quality
# filter after dedup in the CCNet/RedPajama recipes).

_LM_SEP = "\x1f"  # unit separator: joins gram tokens into one key
_LM_BOS = "<s>"
_LM_EOS = "</s>"


def _lm_padded(text_col: str | Column, n: int) -> Column:
    """BOS^(n-1) · tokens · EOS — one padded stream shared by every
    order, so a k-gram's context count and the (k-1)-gram count are
    drawn from the same sequence (numerator/denominator consistency —
    '<s> <s>' must exist as a bigram for the trigram '<s> <s> w1' to
    back onto)."""
    t = F.filter(tokens(text_col), lambda x: x != F.lit(""))
    return F.concat(
        F.array_repeat(F.lit(_LM_BOS), n - 1), t, F.array(F.lit(_LM_EOS))
    )


def _lm_grams(col: Column, k: int) -> Column:
    """All k-token windows of a padded stream as SEP-joined strings —
    a narrow JVM transform over the array, no positional self-join."""
    idx = F.sequence(F.lit(1), F.size(col) - F.lit(k - 1))
    return F.when(F.size(col) >= k, F.transform(
        idx, lambda i: F.array_join(F.slice(col, i, k), _LM_SEP)
    )).otherwise(F.array().cast("array<string>"))


def ngram_lm_train(
    df: DataFrame,
    text_col: str = "text",
    n: int = 3,
    min_count: int = 1,
    id_col: str | None = None,
    group_cols: list[str] | None = None,
) -> DataFrame:
    """Train the count model: ``(order, gram, cnt)`` for every order
    1..``n`` over the BOS/EOS-padded token streams.  ``gram`` is the
    window's tokens joined with the unit separator (one string key —
    order is carried explicitly so a pathological token containing the
    separator can never alias across orders).

    ``group_cols`` trains ONE MODEL PER GROUP in the same single pass
    (``(group..., order, gram, cnt)`` rows) — the CCNet production
    shape is per-LANGUAGE LMs (Wenzek et al. 2020 trains one
    Wikipedia LM per language and scores each document against its
    own), and a grouped count table is exactly as mergeable/shardable
    as the global one (the group is just more key).

    Plan: one narrow tokenize+pad projection, ONE flatten+explode
    emitting every order's windows (not one pass per order), one
    partial-aggregable groupBy — the whole model is a single shuffle
    on ``(group..., order, gram)`` however many orders are trained,
    the Brants MapReduce shape verbatim.  ``min_count`` prunes the
    long tail (safe for backoff: a context's count is >= every
    continuation's count, so a surviving gram's context always
    survives too; with groups it is per-group, same argument).
    ``id_col`` feeds ``scale.ensure_min_parallelism`` so a file-poor
    corpus scan spreads before the CPU-heavy explode (the standing
    guard of the gram/shingle kernels)."""
    if n < 1:
        raise ValueError(f"n must be >= 1, got {n}")
    from .scale import ensure_min_parallelism

    groups = list(group_cols or [])
    if id_col is not None:
        df = ensure_min_parallelism(df, id_col)
    padded = df.where(
        F.col(text_col).isNotNull() & (F.trim(F.col(text_col)) != "")
    ).select(*groups, _lm_padded(text_col, n).alias("_pt"))
    def _tagger(k: int):
        # a factory, NOT a defaulted lambda: F.transform treats a
        # 2-parameter callable as (element, index) and would bind the
        # array index over the default
        return lambda g: F.struct(F.lit(k).alias("order"), g.alias("gram"))

    entries = F.flatten(
        F.array(
            *[
                F.transform(_lm_grams(F.col("_pt"), k), _tagger(k))
                for k in range(1, n + 1)
            ]
        )
    )
    counts = (
        padded.select(*groups, F.explode(entries).alias("_e"))
        .select(*groups, "_e.order", "_e.gram")
        .groupBy(*groups, "order", "gram")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    if min_count > 1:
        counts = counts.where(F.col("cnt") >= int(min_count))
    return counts


def _lm_kv(
    df: DataFrame,
    model: DataFrame,
    n: int,
    id_col: str,
    text_col: str,
    group_cols: list[str] | None,
    salt: int | None,
    salt_hot_frac: float,
) -> tuple[DataFrame, DataFrame, list[str], list[str]]:
    """The count-lookup join's two children and its keys — the
    ending-gram kv frame (corpus side), the model selection (with
    hot-key salt replication when ``salt`` is set), and the join key
    list.  Factored out of :func:`ngram_lm_score` so the skew probe in
    ``bench.py`` can measure the EXCHANGE this join induces directly
    (per-partition row counts under the join's own hash partitioning —
    executor-side evidence, no Spark UI needed).

    r18 layout: ONE kv row per (position, order) — the k-grams ENDING
    at each padded position e in [max(n-1, 1), size-1], k = 1..n with
    k <= e.  The pre-r18 layout emitted 2n-1 rows per scored position
    (each order's gram PLUS its backoff-context gram), but a
    position's context grams are exactly the PREVIOUS position's
    ending grams — so :func:`ngram_lm_score` realigns contexts with a
    per-document lag window over the folded per-position frame
    instead of re-emitting (and re-shuffling) every context string
    through the count join: n rows per position instead of 2n-1 (for
    n=3: 40% fewer join-probe rows, and the join exchange carries
    each gram's bytes once instead of the bigram/unigram strings
    twice), identical lookups resolved, bit-identical scores.
    Position n-1 (pure-BOS) is emitted as a context-only row (orders
    1..n-1) for the first scored position's backoff; scored positions
    are e >= n, exactly as before.

    Returns ``(kv, msel, join_keys, groups)``; kv carries
    ``(id, *groups, _pi, order, gram[, _salt])``."""
    from .scale import ensure_min_parallelism

    groups = list(group_cols or [])
    df = ensure_min_parallelism(df, id_col)
    base = df.where(
        F.col(text_col).isNotNull() & (F.trim(F.col(text_col)) != "")
    ).select(F.col(id_col), *groups, _lm_padded(text_col, n).alias("_pt"))

    start = max(n - 1, 1)

    def _grams_at(e):
        # ending k-grams of position e; k <= e guards the BOS edge
        # (position n-1 carries no n-gram — it exists only as the
        # first scored position's context source)
        return F.filter(
            F.array(
                *[
                    F.struct(
                        F.lit(k).alias("order"),
                        F.when(
                            e >= F.lit(k),
                            F.array_join(
                                F.slice(F.col("_pt"), e - k + 1, k),
                                _LM_SEP,
                            ),
                        ).alias("gram"),
                    )
                    for k in range(1, n + 1)
                ]
            ),
            lambda s: s["gram"].isNotNull(),
        )

    keyed = base.select(
        F.col(id_col),
        *groups,
        F.posexplode(
            F.transform(
                F.sequence(F.lit(start), F.size("_pt") - 1), _grams_at
            )
        ).alias("_off", "_gs"),
    )
    kv = keyed.select(
        F.col(id_col),
        *groups,
        (F.col("_off") + F.lit(start)).alias("_pi"),
        F.explode("_gs").alias("_g"),
    ).select(
        F.col(id_col),
        *groups,
        "_pi",
        F.col("_g.order").alias("order"),
        F.col("_g.gram").alias("gram"),
    )
    # grouped mode: each position's lookups resolve against ITS
    # group's model — the group columns simply join along with
    # (order, gram), still ONE equi-join
    msel = model.select(*groups, "order", "gram", "cnt")
    join_keys = [*groups, "order", "gram"]
    if salt is not None and int(salt) > 1:
        S = int(salt)
        # hot set from the model's own counts: cnt >= frac * the
        # (group's) unigram mass.  Bounded by construction (each
        # order's counts sum to ~the token mass, so <= n/frac keys
        # per group) -> broadcast; the kv-side hot probe is a
        # broadcast join, adding NO shuffle to the corpus side.
        if groups:
            tot_n = (
                msel.where(F.col("order") == 1)
                .groupBy(*groups)
                .agg(F.sum("cnt").alias("_tN"))
            )
            hot = (
                msel.join(tot_n, groups)
                .where(
                    F.col("cnt")
                    >= F.lit(float(salt_hot_frac)) * F.col("_tN")
                )
                .select(*join_keys)
            )
        else:
            tot_n = msel.where(F.col("order") == 1).agg(
                F.sum("cnt").alias("_tN")
            )
            hot = (
                msel.crossJoin(F.broadcast(tot_n))
                .where(
                    F.col("cnt")
                    >= F.lit(float(salt_hot_frac)) * F.col("_tN")
                )
                .select(*join_keys)
            )
        hot = F.broadcast(hot.withColumn("_hot", F.lit(True)))
        kv = kv.join(hot, join_keys, "left").withColumn(
            "_salt",
            F.when(
                F.col("_hot"),
                F.pmod(F.hash(F.col(id_col), F.col("_pi")), F.lit(S)),
            ).otherwise(F.lit(0)),
        ).drop("_hot")
        msel = (
            msel.join(hot, join_keys, "left")
            .withColumn(
                "_salt",
                F.explode(
                    F.when(
                        F.col("_hot"), F.sequence(F.lit(0), F.lit(S - 1))
                    ).otherwise(F.array(F.lit(0)))
                ),
            )
            .drop("_hot")
        )
        join_keys = join_keys + ["_salt"]
    return kv, msel, join_keys, groups


def ngram_lm_score(
    df: DataFrame,
    model: DataFrame,
    n: int = 3,
    alpha: float = 0.4,
    id_col: str = "doc_id",
    text_col: str = "text",
    scale: int | None = None,
    log: bool = False,
    group_cols: list[str] | None = None,
    salt: int | None = None,
    salt_hot_frac: float = 0.005,
) -> DataFrame:
    """Per-document mean stupid-backoff token score against a trained
    ``model`` (:func:`ngram_lm_train`, same ``n`` — typically trained
    on a TRUSTED corpus and applied to the candidate batch, the CCNet
    production pattern).  Every real token is scored with up to
    ``n-1`` tokens of left context (BOS-padded at the doc start; EOS
    is not scored); an OOV token scores 0 through the backoff chain's
    base case.  Returns ``(id, n_tokens, lm_score)`` — higher = more
    expected = likelier clean text; blank/null docs carry no row
    (nothing to score), the corpus convention of ``unigram_logprob``.

    Plan (the 100 TB shape): each scored position needs ``2n-1``
    counts (gram + context per order, one unigram), but a position's
    context grams are exactly the previous position's ending grams —
    so only the ``n`` ENDING grams per position are emitted as key
    rows and resolved by ONE equi-join against the model (r18; the
    earlier layout emitted all ``2n-1``, re-shuffling every context
    string), then contexts realign with a per-document lag window
    after the per-position fold — 40% fewer join-probe rows and
    gram-string shuffle bytes at ``n=3``, identical lookups,
    bit-identical scores.  The model side is vocabulary-sized
    (Heaps-sublinear) and carries NO broadcast hint: a web-scale
    count table is GBs (the collocations regime) — AQE upgrades from
    measured sizes when a small trusted model makes that safe, and
    its skew-join handles the stopword-gram hot keys.  The join
    result folds back to one row per position (conditional
    aggregation on the order), one lag window, then one per-doc
    aggregation — all behind a single narrow (id) exchange.

    Float parity: ``scale`` fixed-points each token's score before
    the per-doc sum (``cnt/cnt`` and ``alpha * s`` are correctly-
    rounded IEEE ops in a pinned order — identical across engines),
    making the output hash-stable for the graded-oracle contract.
    ``log=True`` returns mean ``ln(S)`` instead (the classic
    log-domain quality score; floored at 1e-12 so OOV stays finite) —
    libm-dependent, so not oracle-gradable (repo convention).

    ``group_cols`` scores each document against ITS group's model
    (a :func:`ngram_lm_train` ``group_cols=`` table) — per-language
    scoring, the actual CCNet deployment: the group columns ride the
    same single count-lookup equi-join as extra keys, and the global
    one-row total becomes a per-group totals join (~1 row per group).
    A document whose group has no model rows scores 0 through the
    same OOV base case — the left joins null out, exactly as an
    all-OOV document does.  A NULL group key trains rows (groupBy
    groups nulls) but never matches at score time (null-rejecting
    join equality) and likewise scores 0 — fill the group column
    before training if null-group scoring is wanted.

    ``salt`` (hot-gram salting, the stopword-skew fix): the count
    join's hot keys are the stopword grams — a Zipfian head term can
    put several percent of ALL lookup rows on one join key.  AQE's
    skew-join only repairs that when BOTH join children are bare
    shuffle stages; the production model shapes — a
    :func:`ngram_lm_merge`/:func:`load_ngram_lm` aggregation (its
    output partitioning already satisfies the join, so no exchange
    is inserted under the join) or a cached model
    (``lm_gate_stream`` persists it) — leave the model side without
    one, and the hot partition cannot be split (measured in
    ``bench.py``'s ``lm_skew`` probe).  With ``salt=S``, grams whose
    count is >= ``salt_hot_frac`` of their (group's) total token
    mass are declared hot FROM THE MODEL'S OWN COUNTS
    (self-describing skew, no extra corpus pass; the hot set is
    <= ~n/salt_hot_frac keys per group, broadcast-sized by
    construction): hot model rows replicate into all ``S`` salt
    buckets, each kv row salts by a deterministic position hash when
    its key is hot (resolved via the broadcast hot set — no shuffle
    added to the corpus side) and bucket 0 otherwise, and the join
    key grows by the salt column — the hot key's lookup rows spread
    over ``S`` partitions.  Join matches are IDENTICAL (a hot kv row
    meets its model row in exactly its bucket, a cold one in bucket
    0; OOV stays unmatched), so results are bit-identical to the
    unsalted plan — only the partitioning changes.  Size ``S`` on
    the order of the shuffle partition count.

    WHEN to turn it on (measured, bench ``lm_skew`` r17 — executor-
    side per-partition row counts through the score join's own
    exchange via a ``spark_partition_id()`` probe, no UI needed): on
    the Zipfian stress corpus the unsalted join's hottest partition
    carries 7.3x the median partition's rows (1.49M vs 204k);
    ``salt=32`` levels that to 1.48x — at a wall COST at bench scale
    (+25%: hot-row replication and the wider key outweigh a
    straggler that still fits one fast local task).  The lever pays
    when the hot partition EXCEEDS what one task absorbs in the
    stage's wall — rule of thumb: turn ``salt=`` on when the
    exchange-row spread reads > ~4x AND the score-join stage's
    straggler sets the job wall; below that leave ``salt=None`` (the
    default) and let the flat plan win.  ``salt=None``/``<=1`` is
    the unchanged plan."""
    if n < 1:
        raise ValueError(f"n must be >= 1, got {n}")
    kv, msel, join_keys, groups = _lm_kv(
        df, model, n, id_col, text_col, group_cols, salt, salt_hot_frac
    )

    resolved = kv.join(msel, join_keys, "left")
    # fold the n per-position lookups to one row per position.  The
    # explicit repartition on (id, groups) is the ONE post-join
    # exchange: HashPartitioning(id, groups) satisfies the fold's
    # clustering ((id, groups) is a subset of (id, groups, _pi)), the
    # context-realignment lag window's partitioning AND the final
    # per-doc aggregation, so fold + window + doc aggregate all run in
    # one stage behind one narrow exchange (pre-r18: a wider
    # (id, groups, _pi) exchange carrying 2n-1 rows per position).
    # Trade, stated: one document's positions now fold within one
    # partition — the lag window needs that locality anyway, and
    # documents are bounded where corpora are not.
    percell = (
        resolved.repartition(F.col(id_col), *[F.col(g) for g in groups])
        .groupBy(id_col, *groups, "_pi")
        .agg(
            *[
                F.max(F.when(F.col("order") == k, F.col("cnt"))).alias(
                    f"_o{k}"
                )
                for k in range(1, n + 1)
            ]
        )
    )
    if n > 1:
        # context counts = the previous position's ending-gram counts
        # (see _lm_kv): realign via lag, then keep scored positions
        # only (p >= n; position n-1 is the context-only BOS row)
        from pyspark.sql import Window as _W

        wlag = _W.partitionBy(id_col, *groups).orderBy("_pi")
        percell = percell.select(
            "*",
            *[
                F.lag(F.col(f"_o{k}")).over(wlag).alias(f"_p{k}")
                for k in range(1, n)
            ],
        ).where(F.col("_pi") >= F.lit(n))
    if groups:
        # per-group unigram totals: a group-count-sized frame joined on
        # the group key (no broadcast hint needed — AQE sees ~1 row per
        # group), replacing the global one-row cross join
        total = (
            model.where(F.col("order") == 1)
            .groupBy(*groups)
            .agg(F.sum("cnt").alias("_N"))
        )
        percell = percell.join(total, groups, "left")
    else:
        total = model.where(F.col("order") == 1).agg(
            F.sum("cnt").alias("_N")
        )
        percell = percell.crossJoin(F.broadcast(total))
    # backoff chain, base case upward — the exact arithmetic order the
    # SQL oracle mirrors (parity contract).  The outer coalesce covers
    # the grouped-mode modelless group (_N null -> base 0.0, the OOV
    # semantics); for a non-null _N it is the identity on the division
    s = F.coalesce(
        F.coalesce(F.col("_o1"), F.lit(0)).cast("double")
        / F.col("_N").cast("double"),
        F.lit(0.0),
    )
    for j in range(n - 2, -1, -1):
        k = n - j  # the order scored at this backoff level
        g, c = F.col(f"_o{k}"), F.col(f"_p{k - 1}")
        s = F.when(
            g.isNotNull() & c.isNotNull(),
            g.cast("double") / c.cast("double"),
        ).otherwise(F.lit(float(alpha)) * s)
    if log:
        tok = F.log(F.greatest(s, F.lit(1e-12)))
        agg = F.avg(tok).alias("lm_score")
    elif scale is not None:
        part = F.floor(s * F.lit(float(scale)) + F.lit(0.5))
        agg = (
            (F.sum(part) / F.lit(float(scale))) / F.count(F.lit(1))
        ).alias("lm_score")
    else:
        agg = F.avg(s).alias("lm_score")
    return percell.groupBy(id_col, *groups).agg(
        F.count(F.lit(1)).alias("n_tokens"), agg
    )


def ngram_lm_merge(
    counts: DataFrame, group_cols: list[str] | None = None
) -> DataFrame:
    """Merge n-gram count models: sum ``cnt`` per ``(order, gram)``.

    Count models are SUM-mergeable by construction (Brants et al.
    2007's whole point), so this one partial-aggregable groupBy merges
    anything shaped like :func:`ngram_lm_train` output — per-source
    models trained separately (then scored as one corpus-wide LM),
    or the per-micro-batch shards a streaming maintenance loop lands
    (see :func:`load_ngram_lm`).  Exact: counts are integers, merging
    is integer addition — a merged model is BIT-identical to training
    once over the concatenated corpus.

    Shard contract: shards must be trained with ``min_count=1`` —
    pruning a shard discards counts that another shard's counts would
    have lifted over the threshold, so the merged model would drift
    from the one-pass model.  Apply ``min_count`` AFTER merging
    (``load_ngram_lm(min_count=...)``), where it is again backoff-safe.
    Grouped models (:func:`ngram_lm_train` ``group_cols=``) merge the
    same way — pass the same ``group_cols`` so the group stays a key."""
    groups = list(group_cols or [])
    return counts.groupBy(*groups, "order", "gram").agg(
        F.sum("cnt").alias("cnt")
    )


def load_ngram_lm(
    spark,
    root: str,
    min_count: int = 1,
    group_cols: list[str] | None = None,
) -> DataFrame:
    """Load a streamed/persisted n-gram LM artifact as ONE merged
    model frame ready for :func:`ngram_lm_score`.

    The artifact is what ``streaming.ingest.maintain_sketch_shards``
    materializes with ``shard_fn=lambda df: ngram_lm_train(df, n=...)``
    — LM counts ARE a mergeable sketch, so the LM tier rides the
    existing sketch lifecycle verbatim (epoch-owned exactly-once
    writes, manifest-committed compaction, pause-free): per
    micro-batch one ``(order, gram, cnt)`` shard lands as an epoch;
    this reader resolves base+epochs through the manifest and folds
    them with :func:`ngram_lm_merge`.  ``min_count`` prunes the long
    tail at read time (the merge-safe point — see the shard contract
    on :func:`ngram_lm_merge`).  Pass the artifact's ``group_cols``
    for grouped (e.g. per-language) models."""
    from .manifest import read_artifact

    model = ngram_lm_merge(
        read_artifact(spark, root, drop_epoch=True), group_cols
    )
    if min_count > 1:
        model = model.where(F.col("cnt") >= int(min_count))
    return model


def compact_ngram_lm(
    spark, root: str, group_cols: list[str] | None = None
) -> dict:
    """Fold a streamed LM artifact's epoch slivers into the next base
    version — ``manifest.compact_artifact`` with :func:`ngram_lm_merge`
    as the fold (count-preserving, so answers are identical; the
    per-(order, gram) row count shrinks to the distinct-gram count and
    the file count to one directory).  Pause-free like every artifact
    compaction here: the maintenance stream appends through it and
    resumes on its existing checkpoint; replayed epochs the fold
    consumed are masked by the manifest's folded-epochs filter — the
    SUM-semantics double-count guard LM counts need.  A grouped
    artifact MUST pass its ``group_cols`` — the global fold would sum
    the per-group models into one.

    Returns ``{"version", "epochs_folded", "rows", "manifest"}``."""
    from .manifest import compact_artifact

    return compact_artifact(
        spark, root, lambda df: ngram_lm_merge(df, group_cols)
    )
