"""Lexical retrieval — positional inverted index, phrase search, BM25.

The search surface a training-data pipeline needs next to its
embedding ANN tier (`operators/similarity.py`): attribute a quoted
span to the document it came from, mine the corpus for query-matching
documents, audit what a benchmark's wording actually retrieves.  The
reference engine has no retrieval twin (its pipeline is telemetry
conversion, main.py:84-119); this tier follows the classic IR shape —
postings lists, positional adjacency, Okapi BM25 — re-expressed as
Spark relational plans.

Scale posture (the 100 TB story):

* **Index build** is one narrow tokenize + posexplode and ONE shuffle
  on ``(term, doc)``; document length (``dl``) is DENORMALIZED into
  every posting row, the classic postings-payload trick, so scoring
  never joins a per-document side table (at 10^11 docs that join is a
  second full-corpus shuffle).
* **The persisted index** partitions by an md5 term bucket
  (:func:`write_inverted_index`), and :func:`load_postings_artifact`
  computes the query terms' buckets DRIVER-SIDE (md5 is
  engine-portable — the same kernel as ``pipeline.shuffle_shards``)
  so a query's scan carries static ``tbucket`` partition filters:
  Spark reads only the buckets its terms live in, never the
  corpus-wide index.
* **Query time touches postings, never documents**: BM25 scores are
  computed entirely from ``(term, doc, tf, dl)`` rows; the query-terms
  frame broadcasts (queries are human-sized), the only shuffle is the
  per-``(q_id, doc)`` score aggregation, and top-k is a per-query
  window over scored docs.  Document text is joined back (if at all)
  AFTER the top-k, k rows per query.
* **Phrase search** is (#terms - 1) equi-joins on ``doc_id`` over the
  already-term-filtered postings with a JVM ``array_contains``
  adjacency predicate on the positions arrays — no position explode
  for the non-anchor terms, no regex over text.
* **A single query is a batch of one**: :func:`bm25_topk`,
  :func:`proximity_search` and :func:`min_span` are one-row calls of
  their batch operators, so each has one implementation.
  :func:`phrase_search` and :func:`rrf_fuse` keep their own plans,
  which are cheaper for one query (their docstrings say why).

Float parity (the repo's graded-oracle contract, queries.py module
docstring): BM25's standard Robertson idf is ``ln``-based and libm
``ln`` is not bit-portable across engines, so the scorers accept
``idf='rational'`` (the same dodge as ``text.tfidf_topk(idf='inv')``)
plus a ``scale`` fixed-point knob that makes the cross-term sum an
exact integer sum.  Production defaults are the standard
``idf='robertson'`` with plain double sums.
"""

from __future__ import annotations

import hashlib

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from . import manifest as M
from . import text as X

__all__ = [
    "inverted_index",
    "analyze_terms",
    "index_stats",
    "phrase_search",
    "bm25_topk",
    "bm25_topk_batch",
    "write_inverted_index",
    "index_append",
    "read_index_artifact",
    "load_postings_artifact",
    "index_compact",
    "rrf_fuse",
    "retrieval_eval",
    "retrieval_eval_summary",
    "prf_expand",
    "snippets",
    "eval_compare",
]


def _tokens(text_col: str):
    # Whitespace tokenization shared with the text tier; empty strings
    # (blank/whitespace-only docs split to ['']) are dropped so they
    # never become postings.
    return F.filter(X.tokens(text_col), lambda t: t != F.lit(""))


# the 32 ASCII punctuation characters (Java \p{Punct}) written as an
# explicit class, so the JVM regex and the Python query-twin regex
# strip the same characters by construction ("café" keeps its é —
# non-ASCII letters are never stripped)
_PUNCT_CLASS = "[!\"#$%&'()*+,\\-./:;<=>?@\\[\\\\\\]^_`{|}~]"


def _analyze(tokens_col, analyzer: str):
    """Per-token normalization applied at INDEX time (and therefore to
    be applied to query terms by the caller — the classic same-analyzer
    contract).  ``'keep'``: raw whitespace tokens (default — the
    corpus-wide convention every oracle shares).  ``'lowercase'``:
    case-folded.  ``'simple'``: case-folded + edge ASCII punctuation
    stripped ("Spark," == "spark"); tokens that strip to nothing are
    dropped (they never become postings and never count toward dl).
    All three are pure JVM expressions."""
    if analyzer == "keep":
        return tokens_col
    if analyzer == "lowercase":
        return F.transform(tokens_col, lambda t: F.lower(t))
    if analyzer == "simple":
        pat = "^" + _PUNCT_CLASS + "+|" + _PUNCT_CLASS + "+$"
        folded = F.transform(
            tokens_col,
            lambda t: F.regexp_replace(F.lower(t), pat, ""),
        )
        return F.filter(folded, lambda t: t != F.lit(""))
    raise ValueError(
        f"analyzer must be 'keep', 'lowercase' or 'simple', got {analyzer!r}"
    )


def analyze_terms(terms: list[str] | str, analyzer: str = "keep") -> list[str]:
    """Driver-side twin of the index analyzer — run QUERY terms through
    the same normalization the index was built with (same-analyzer
    contract).  Keeps the md5 bucket math consistent too: pruned loads
    hash the ANALYZED term, exactly what the index stored."""
    import re

    tl = terms.split() if isinstance(terms, str) else list(terms)
    if analyzer == "keep":
        return tl
    if analyzer == "lowercase":
        return [t.lower() for t in tl]
    if analyzer == "simple":
        pat = "^" + _PUNCT_CLASS + "+|" + _PUNCT_CLASS + "+$"
        out = []
        for t in tl:
            t = re.sub(pat, "", t.lower())
            if t:
                out.append(t)
        return out
    raise ValueError(
        f"analyzer must be 'keep', 'lowercase' or 'simple', got {analyzer!r}"
    )


def inverted_index(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    analyzer: str = "keep",
) -> DataFrame:
    """Positional inverted index: one row per ``(term, doc)`` with
    ``tf`` (term frequency), ``positions`` (sorted, 1-based token
    offsets — 1-based to match SQL ordinality) and ``dl`` (the doc's
    token count, denormalized into the posting so scoring never joins
    a doc-length table).  Null/blank docs carry no postings.

    ``analyzer`` — opt-in per-token normalization (``'keep'`` raw
    default / ``'lowercase'`` / ``'simple'``: case-fold + edge
    punctuation strip, the realistic search posture where "Spark,"
    matches a query for "spark").  Query terms must pass through
    :func:`analyze_terms` with the same mode — the same-analyzer
    contract every search engine has; positions/dl are computed AFTER
    analysis, so phrase adjacency still holds on the analyzed stream.

    One narrow projection + posexplode, one shuffle on ``(term, id)``.
    ``ensure_min_parallelism`` spreads a file-poor scan before the
    CPU-heavy tokenize/explode chain (the same guard as the shingle
    and gram kernels; a real at-scale scan makes it a no-op).
    """
    from .scale import ensure_min_parallelism

    docs = ensure_min_parallelism(docs, id_col)
    t = _analyze(_tokens(text_col), analyzer)
    exploded = docs.where(
        F.col(text_col).isNotNull() & (F.trim(F.col(text_col)) != "")
    ).select(
        F.col(id_col),
        F.size(t).alias("dl"),
        F.posexplode(t).alias("_p", "term"),
    )
    return exploded.groupBy("term", id_col).agg(
        F.count(F.lit(1)).alias("tf"),
        F.sort_array(F.collect_list(F.col("_p") + 1)).alias("positions"),
        F.first("dl").alias("dl"),
    )


def index_stats(index: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """One-row frame ``(n_docs, avgdl)`` derived from the index itself
    (so a loaded artifact is self-contained).  ``avgdl`` is an exact
    integer sum divided once — bit-identical across engines."""
    per_doc = index.groupBy(id_col).agg(F.first("dl").alias("dl"))
    return per_doc.agg(
        F.count(F.lit(1)).alias("n_docs"),
        (F.sum("dl") / F.count(F.lit(1))).alias("avgdl"),
    )


# ------------------------------------------------------------- phrase


def _one_query(spark: SparkSession, terms: list[str]) -> DataFrame:
    """The one-row ``(q_id, terms)`` frame a single-query operator
    hands its batch operator — a single query is a batch of one.
    ``spark.range`` plus literal terms plans as a ``Range`` scan: no
    Python-built row, no Python task.  ``q_id`` is the range's ``id``
    column, never a literal: a literal key is constant-folded out of
    the batch operator's per-query window, which then loses its
    ``hashpartitioning(q_id)`` exchange and ranks in one partition."""
    return spark.range(0, 1, 1, 1).select(
        F.col("id").alias("q_id"),
        F.array(*[F.lit(t) for t in terms])
        .cast("array<string>")
        .alias("terms"),
    )


def phrase_search(
    index: DataFrame,
    phrase: str | list[str],
    id_col: str = "doc_id",
) -> DataFrame:
    """Exact phrase match via positional adjacency: returns one row per
    matching document — ``(id, n_matches, first_pos)`` — where the
    phrase's tokens occur at consecutive positions.

    Plan: the anchor term's positions explode (its postings only);
    every subsequent term joins on ``id`` and filters with a JVM
    ``array_contains(positions, anchor_pos + offset)`` — the
    non-anchor positions arrays never explode, and all joins run over
    postings already filtered to the phrase's terms (partition-pruned
    when the index is loaded via :func:`load_postings_artifact`).

    Not a one-row :func:`positional_search_batch` call, unlike
    :func:`proximity_search`: for adjacency this chain is cheaper per
    query — a batch of one pays for its query-frame broadcast, the
    ``(q_id, doc)`` regroup and more driver-side plan building, which
    one query does not amortize."""
    terms = phrase.split() if isinstance(phrase, str) else list(phrase)
    if not terms:
        raise ValueError("phrase must contain at least one term")
    cur = (
        index.where(F.col("term") == terms[0])
        .select(F.col(id_col), F.explode("positions").alias("_p"))
    )
    for i, t in enumerate(terms[1:], start=1):
        nxt = index.where(F.col("term") == t).select(
            F.col(id_col), F.col("positions").alias(f"_pos{i}")
        )
        cur = (
            cur.join(nxt, id_col)
            .where(F.array_contains(F.col(f"_pos{i}"), F.col("_p") + i))
            .drop(f"_pos{i}")
        )
    return cur.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_matches"),
        F.min("_p").alias("first_pos"),
    )


def proximity_search(
    index: DataFrame,
    terms: str | list[str],
    slop: int = 0,
    id_col: str = "doc_id",
) -> DataFrame:
    """Ordered proximity match — :func:`phrase_search` relaxed to
    allow up to ``slop`` intervening positions between consecutive
    terms (the ordered-window feature family of the sequential
    dependence model, Metzler & Croft 2005: phrase and proximity
    evidence alongside bag-of-words BM25).  ``slop=0`` is exact
    adjacency — identical results to ``phrase_search``, pinned by
    test.

    Matching semantics (exact existence, not a greedy heuristic — a
    leftmost-greedy chain can miss valid matches, e.g. A@1 B@{2,3}
    C@5 at slop=1): an occurrence of the FIRST term at position ``p``
    is one match iff SOME ordered chain ``p < p_2 < ... < p_k``
    exists with every consecutive gap ``p_i - p_{i-1}`` in
    ``[1, slop + 1]``.

    Returns ``(id, n_matches, first_pos)``, the shape
    :func:`snippets` hydrates.

    A one-row :func:`positional_search_batch`.  The index is filtered
    to the query's terms first, so an inline :func:`inverted_index`
    builds only their postings (the filter pushes below its groupBy)
    and a persisted one is partition-pruned under
    :func:`load_postings_artifact`."""
    tl = terms.split() if isinstance(terms, str) else list(terms)
    if not tl:
        raise ValueError("terms must contain at least one term")
    q = _one_query(index.sparkSession, tl)
    return positional_search_batch(
        index.where(F.col("term").isin(tl)), q, slop=slop, id_col=id_col
    ).drop("q_id")


def min_span(
    index: DataFrame,
    terms: str | list[str],
    id_col: str = "doc_id",
) -> DataFrame:
    """Minimum covering span — the classic unordered proximity feature
    (MinDist/MinCover family: Tao & Zhai 2007, "An exploration of
    proximity measures in information retrieval"): for documents
    containing ALL query terms, the length of the shortest position
    window containing at least one occurrence of every term, any
    order.  Smaller = tighter co-occurrence = stronger relevance
    signal; the unordered counterpart of :func:`proximity_search`'s
    ordered windows.

    Returns ``(id, min_span, first_pos)`` — ``first_pos`` is the
    start of the earliest minimal window (deterministic tie-break:
    among equal spans the smallest start wins), so :func:`snippets`
    hydrates the tightest cluster directly.

    Duplicate query terms collapse (order-preserving): MinDist is a
    per-DISTINCT-term covering measure (Tao & Zhai define it over the
    set of matched query terms), and without the dedupe a single
    occurrence would satisfy both duplicate slots.

    A one-row :func:`min_span_batch`, over the index filtered to the
    query's terms as in :func:`proximity_search`."""
    tl = terms.split() if isinstance(terms, str) else list(terms)
    if not tl:
        raise ValueError("terms must contain at least one term")
    q = _one_query(index.sparkSession, tl)
    return min_span_batch(
        index.where(F.col("term").isin(tl)), q, id_col=id_col
    ).drop("q_id")


# ------------------------------------------- batched positional search


def _query_postings(
    index: DataFrame,
    q: DataFrame,
    id_col: str,
    q_id_col: str,
    extra_cols: list[str],
    fold,
    candidates: DataFrame | None = None,
) -> DataFrame:
    """Shared batch-positional base: explode each query's terms with
    their ordinal, resolve ALL queries' postings through ONE broadcast
    equi-join on ``term``, regroup per ``(q_id, doc)`` into an
    ordinal-sorted array of ``(ti, pos)`` structs, and apply ``fold``
    to that array — for docs containing EVERY query term only
    (``n_terms`` rows; a repeated term matches the same posting row
    once per ordinal, so every ordinal slot needs the term present).
    Returns ``(q_id, id, _nt, *extra_cols, _f)``, ``_f`` being the
    fold's value (null for a doc missing a term).  ``_nt`` and
    ``extra_cols`` are per-query values, so they ride as grouping
    keys and ``fold`` may read them as columns.

    The fold runs inside the aggregation, once per ``(q_id, doc)``.
    As a projection over the regrouped frame it would run once per
    reference: a filter on its result is pushed below the projection
    with the fold substituted in, and each output column derived from
    it evaluates it again.

    ``candidates`` (``(q_id, id)``) restricts each query to the given
    documents BEFORE the ``(q_id, doc)`` shuffle and the packed-array
    fold — the broadcast join lands on the term-join output, so
    non-candidate postings never shuffle and never fold."""
    qt = q.select(
        F.col(q_id_col),
        *extra_cols,
        F.size("_tl").alias("_nt"),
        F.posexplode("_tl").alias("_ti", "term"),
    )
    j = index.select("term", id_col, "positions").join(
        F.broadcast(qt), "term"
    )
    if candidates is not None:
        j = j.join(
            F.broadcast(
                candidates.select(q_id_col, id_col).distinct()
            ),
            [q_id_col, id_col],
        )
    # sort_array, not array_sort: array_sort's default comparator is
    # an interpreted lambda
    a = F.sort_array(
        F.collect_list(
            F.struct(
                F.col("_ti").alias("ti"),
                F.col("positions").alias("pos"),
            )
        )
    )
    return j.groupBy(q_id_col, id_col, "_nt", *extra_cols).agg(
        F.when(F.count(F.lit(1)) == F.col("_nt"), fold(a)).alias("_f")
    )


def positional_search_batch(
    index: DataFrame,
    queries: DataFrame,
    slop: int = 0,
    id_col: str = "doc_id",
    q_id_col: str = "q_id",
    terms_col: str = "terms",
    slop_col: str | None = None,
) -> DataFrame:
    """Ordered proximity matching for EVERY query in ``queries`` in
    one set-based pass — the one implementation behind
    :func:`proximity_search`, which is its one-row call (``slop=0``
    rows are phrase queries: adjacency ≡ :func:`phrase_search`).
    ``queries`` carries ``(q_id, terms array<string>)`` plus
    optionally ``slop_col`` for per-query slop (null → the ``slop``
    default).  Returns ``(q_id, id, n_matches, first_pos)`` — one row per
    (query, matching doc).

    Exact-existence semantics (:func:`proximity_search`) by backward
    induction: ``T_k`` = last term's positions, ``T_i`` = positions of
    term ``i`` with a ``T_{i+1}`` continuation in bounds, matches =
    ``T_1``.  The term count is only known per ROW, so the induction
    runs as ONE ``aggregate`` fold over the ordinal-sorted
    ``(ti, positions)`` structs (state = the surviving continuation
    positions).

    Scale posture: ONE broadcast term join resolves every query's
    postings (queries are human-sized — the bm25_topk_batch
    contract), one ``(q_id, doc)`` shuffle groups them, and the fold
    is per-row JVM codegen over packed arrays — no explode, no UDF.
    Work is postings-bounded: sum over (query, term) of that term's
    postings rows, the same bound as batch BM25.  Rows with null or
    empty ``terms`` (or a null/negative slop cell) are skipped, the
    serve-layer malformed-producer convention.

    Like every scorer here, terms must already be analyzed to match
    the index (:func:`analyze_terms`, the same-analyzer contract),
    and ``q_id`` values must be unique per query row (the
    :func:`bm25_topk_batch` contract — duplicate ids would merge two
    queries' ordinal slots in the per-(q_id, doc) regroup)."""
    if slop < 0:
        raise ValueError(f"slop must be >= 0, got {slop}")
    sl = (
        F.coalesce(
            F.col(slop_col).cast("int"), F.lit(int(slop))
        )
        if slop_col is not None
        else F.lit(int(slop))
    )
    q = (
        queries.select(
            F.col(q_id_col),
            F.col(terms_col).alias("_tl"),
            sl.alias("_slop"),
        )
        .where(
            F.col("_tl").isNotNull()
            & (F.size("_tl") > 0)
            & (F.col("_slop") >= 0)
        )
    )
    step = F.col("_slop") + F.lit(1)

    def surviving(arr):
        return F.aggregate(
            F.reverse(F.slice(arr, F.lit(1), F.size(arr) - F.lit(1))),
            F.element_at(arr, -1)["pos"],
            lambda acc, e: F.filter(
                e["pos"],
                lambda x: F.exists(
                    acc, lambda y: (y > x) & (y <= x + step)
                ),
            ),
        )

    per = _query_postings(
        index, q, id_col, q_id_col, ["_slop"], surviving
    )
    return per.where(F.size("_f") > 0).select(
        F.col(q_id_col),
        F.col(id_col),
        F.size("_f").cast("long").alias("n_matches"),
        F.array_min("_f").alias("first_pos"),
    )


def min_span_batch(
    index: DataFrame,
    queries: DataFrame,
    id_col: str = "doc_id",
    q_id_col: str = "q_id",
    terms_col: str = "terms",
    candidates: DataFrame | None = None,
) -> DataFrame:
    """Minimum covering span for EVERY query in ``queries`` in one
    set-based pass — the one implementation behind :func:`min_span`,
    which is its one-row call (MinDist semantics: duplicate terms
    collapse, smallest window containing every distinct term,
    smallest start among equal spans).  Returns
    ``(q_id, id, min_span, first_pos)``.

    Exact by the standard sweep: sort the union of the terms'
    positions; at each candidate window END, the minimal window
    ending there spans back to the OLDEST of the per-term latest
    positions; the global minimum over ends is the answer.  Per-row
    term counts make the fold state an ARRAY: per-term latest
    positions start as ``array_repeat(0, n_terms)`` and each sorted
    (position, term) event updates its slot via an index-aware
    ``transform``.  Plan shape matches
    :func:`positional_search_batch`: one broadcast term join, one
    ``(q_id, doc)`` shuffle, per-row packed-array fold, no positions
    explode.

    ``candidates`` (``(q_id, id)``, r17 verdict #4) restricts each
    query's span computation to the given documents — the
    candidate-generation-then-rerank shape: when MinDist re-ranks a
    lexical top-k (the fused recipe), spans outside those candidates
    can never reach the fusion, so folding them is pure waste; the
    broadcast semi-restriction lands BEFORE the ``(q_id, doc)``
    shuffle and the packed-array fold, bounding both at
    |candidates| however many docs contain every term.  Semantics
    note: a doc absent from ``candidates`` emits no span row — the
    caller's ranking sees a SMALLER universe, which changes fused
    output whenever tightness would have surfaced a doc the lexical
    arm did not (measure the trade; ``serve_search_queries``
    defaults to unrestricted)."""
    q = queries.select(
        F.col(q_id_col),
        F.array_distinct(F.col(terms_col)).alias("_tl"),
    ).where(F.col("_tl").isNotNull() & (F.size("_tl") > 0))
    big = 1 << 30

    def _step(acc, e):
        ls2 = F.transform(
            acc["ls"],
            lambda v, i: F.when(i == e["t"], e["p"]).otherwise(v),
        )
        oldest = F.array_min(ls2)
        span = e["p"] - oldest + F.lit(1)
        better = (oldest > 0) & (span < acc["best"])
        return F.struct(
            ls2.alias("ls"),
            F.when(better, span).otherwise(acc["best"]).alias("best"),
            F.when(better, oldest).otherwise(acc["bestp"]).alias("bestp"),
        )

    def sweep(arr):
        union = F.sort_array(  # native sort, as in _query_postings
            F.flatten(
                F.transform(
                    arr,
                    lambda s: F.transform(
                        s["pos"],
                        lambda p: F.struct(p.alias("p"), s["ti"].alias("t")),
                    ),
                )
            )
        )
        init = F.struct(
            F.array_repeat(F.lit(0), F.col("_nt")).alias("ls"),
            F.lit(big).alias("best"),
            F.lit(0).alias("bestp"),
        )
        return F.aggregate(union, init, _step)

    per = _query_postings(index, q, id_col, q_id_col, [], sweep, candidates)
    return per.where(F.col("_f").isNotNull()).select(
        F.col(q_id_col),
        F.col(id_col),
        F.col("_f")["best"].cast("int").alias("min_span"),
        F.col("_f")["bestp"].cast("int").alias("first_pos"),
    )


# ------------------------------------------------- fuzzy term matching


def _del_variants_py(w: str, max_edits: int) -> set[str]:
    out = {w}
    frontier = {w}
    for _ in range(max_edits):
        nxt = set()
        for v in frontier:
            for i in range(len(v)):
                nxt.add(v[:i] + v[i + 1:])
        out |= nxt
        frontier = nxt
    return out


def fuzzy_expand_terms(
    index: DataFrame,
    terms: list[str] | str,
    max_edits: int = 1,
    id_col: str = "doc_id",
) -> DataFrame:
    """Map each (possibly misspelled) query term to the index
    vocabulary terms within Levenshtein distance ``max_edits`` — the
    SymSpell recipe (Garbe's deletion-neighborhood trick, the same
    candidate structure as Norvig's spelling corrector but
    join-shaped): a pair is within distance ``e`` only if their
    ``<= e``-deletion neighborhoods intersect, so candidates come from
    ONE equi-join on deletion variants instead of a vocabulary
    cross-product, then exact ``levenshtein`` (JVM built-in) verifies
    — the classic candidates-then-verify shape of the near-dup tier
    (``minhash_candidate_pairs`` + ``verify_flagged_pairs``), at
    vocabulary scale.

    Returns ``(q_term, term, dist, df)`` — every vocabulary term
    within distance, its exact distance, and its document frequency
    (so callers cap expansion to the most-attested matches before
    re-querying BM25 with the union; ``prf_expand`` is the recall
    twin, this is the robustness twin).

    Scale posture: the vocabulary derives from the postings by one
    keyed aggregation; its deletion variants explode ~``len+1``
    rows per term per edit (expression-level ``transform``, no
    Python); the query side is human-sized by contract — its variants
    generate driver-side and BROADCAST into the one candidate join,
    so nothing corpus- or vocabulary-sized shuffles.  ``max_edits``
    supports 1 (production: covers typo substitution/insertion/
    deletion; transpositions verify to distance 2 and drop) and 2."""
    tl = terms.split() if isinstance(terms, str) else list(terms)
    tl = [t for t in dict.fromkeys(tl) if t]
    if not tl:
        raise ValueError("terms must contain at least one term")
    if max_edits not in (1, 2):
        raise ValueError(f"max_edits must be 1 or 2, got {max_edits}")
    spark = index.sparkSession
    vocab = index.groupBy("term").agg(
        F.count(F.lit(1)).alias("df")
    )
    vv = vocab.select(
        "term", "df",
        F.explode(_deletion_variants_col(max_edits)).alias("_variant"),
    )
    qv = spark.createDataFrame(
        [(q, v) for q in tl for v in _del_variants_py(q, max_edits)],
        "q_term string, _variant string",
    )
    return _verify_fuzzy(vv.join(F.broadcast(qv), "_variant"), max_edits)


def _deletion_variants_col(max_edits: int):
    """Expression-level ``<= max_edits``-deletion neighborhood of the
    ``term`` column (the term itself included), as an array column —
    pure JVM transforms, no UDF."""
    d1 = F.transform(
        F.sequence(F.lit(1), F.length("term")),
        lambda i: F.concat(
            F.col("term").substr(F.lit(1), i - F.lit(1)),
            F.col("term").substr(i + F.lit(1), F.lit(1 << 20)),
        ),
    )
    variants = F.array_union(F.array(F.col("term")), d1)
    if max_edits == 2:
        d2 = F.flatten(
            F.transform(
                d1,
                lambda v: F.transform(
                    F.sequence(F.lit(1), F.length(v)),
                    lambda i: F.concat(
                        v.substr(F.lit(1), i - F.lit(1)),
                        v.substr(i + F.lit(1), F.lit(1 << 20)),
                    ),
                ),
            )
        )
        variants = F.array_union(variants, d2)
    return variants


def _verify_fuzzy(cands: DataFrame, max_edits: int) -> DataFrame:
    """The exact-verify tail shared by the inline and persisted fuzzy
    paths: dedupe candidate (q_term, term) pairs, keep those within
    true Levenshtein distance, attach the distance."""
    return (
        cands.select("q_term", "term", "df")
        .distinct()
        .where(
            F.levenshtein(F.col("q_term"), F.col("term"))
            <= F.lit(int(max_edits))
        )
        .select(
            "q_term",
            "term",
            F.levenshtein(F.col("q_term"), F.col("term"))
            .cast("int")
            .alias("dist"),
            "df",
        )
    )


_FUZZY_SUBDIR = "fuzzy_vocab"


def write_fuzzy_vocab(
    index: DataFrame,
    path: str,
    max_edits: int = 1,
    n_buckets: int = 64,
) -> dict:
    """Persist the vocabulary's deletion-variant table so fuzzy
    lookups never re-derive it: ``(variant, term, df)`` partitioned
    by md5 VARIANT bucket (``vbucket``) — the
    :func:`load_postings_artifact` pattern applied to the SymSpell
    candidate structure.  A query's variants are computed
    driver-side, their buckets become static partition filters, and
    the candidate join reads only those bucket directories — however
    large the vocabulary (at web scale the variant table is ~|vocab|
    x (len+1)^e rows; an inline :func:`fuzzy_expand_terms` re-derives
    and scans ALL of it per query batch).  A ``max_edits=2`` artifact
    also serves ``max_edits=1`` lookups (the verify re-filters); the
    reverse raises at load.

    Layout (manifest-versioned, the ``index_append`` / ``ivf_save``
    artifact contract from ``operators/manifest.py``): the build lands
    as ``base/v1/epoch=-1/vbucket=*`` behind one manifest commit that
    pins ``n_buckets``/``max_edits``; :func:`fuzzy_vocab_append` lands
    a new corpus slice's vocabulary as a committed epoch under
    ``epochs/`` (epoch-owned overwrite: a replayed micro-batch
    rewrites exactly itself, exactly-once); readers serve base ∪ live
    epochs and SUM ``df`` per ``(variant, term)`` after the pruned
    scan (document frequency is sum-mergeable over disjoint doc
    slices, the sketch-shard semantics); :func:`fuzzy_vocab_compact`
    folds the epochs into the next base version behind one manifest
    PUT — pause-free, invisible to concurrent
    :func:`fuzzy_match_terms` readers.  A full rebuild (this
    function) resets the artifact to version 1 and clears every
    epoch."""
    if max_edits not in (1, 2):
        raise ValueError(f"max_edits must be 1 or 2, got {max_edits}")
    M.write_base(
        _fuzzy_variant_rows(index, max_edits, n_buckets).repartition(
            "vbucket"
        ),
        f"{path}/{_FUZZY_SUBDIR}",
        partition_cols=("vbucket",),
        extra={"n_buckets": int(n_buckets), "max_edits": int(max_edits)},
    )
    return {"path": path, "n_buckets": n_buckets, "max_edits": max_edits}


def _fuzzy_variant_rows(
    index: DataFrame, max_edits: int, n_buckets: int
) -> DataFrame:
    """``(term, df, variant, vbucket)`` rows derived from (a slice
    of) a positional index — the artifact's row shape, shared by the
    build and the epoch append."""
    vocab = index.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    return vocab.select(
        "term", "df",
        F.explode(_deletion_variants_col(max_edits)).alias("variant"),
    ).withColumn(
        "vbucket",
        F.pmod(
            F.conv(
                F.substring(F.md5(F.col("variant")), 1, 8), 16, 10
            ).cast("bigint"),
            F.lit(int(n_buckets)),
        ),
    )


def fuzzy_vocab_append(
    index_delta: DataFrame,
    path: str,
    epoch: int,
) -> None:
    """Append a corpus SLICE's vocabulary to a persisted
    :func:`write_fuzzy_vocab` artifact under its own ``epoch=`` —
    typo correction stays fresh as the index grows, without the full
    rebuild that was previously the only update path (the
    ``index_append`` lifecycle applied to the fuzzy tier; graded
    end-to-end as q142).

    ``index_delta`` is the NEW documents' positional index rows only
    (the same frame handed to :func:`index_append`); its per-term
    ``df`` is the delta document frequency, and readers SUM ``df``
    per ``(variant, term)`` across epochs — exact because df is a
    plain count over disjoint doc sets.  Deletion-variant rows for a
    term that already exists land again under the new epoch (few
    bytes; the read-side group-sum folds them).  The epoch lands via
    ``manifest.write_epoch`` (epoch-owned overwrite + commit marker),
    so a restarted maintenance stream replays exactly its own epoch
    and cannot double-count, and a half-written epoch is invisible to
    readers and to :func:`fuzzy_vocab_compact`.  ``epoch`` must be
    >= 0 — negative ids are reserved (``epoch=-1`` is the folded
    base, :func:`write_fuzzy_vocab`).  ``max_edits`` / ``n_buckets``
    come from the artifact's manifest — an append can never diverge
    from the build settings.  A root without a manifest refuses the
    append with the manifest layout's rebuild error instead of
    producing a mixed layout partition discovery would reject at read
    time."""
    if int(epoch) < 0:
        raise ValueError(
            f"epoch must be >= 0, got {epoch} (negative epochs are "
            "reserved for the write_fuzzy_vocab base)"
        )
    vroot = f"{path}/{_FUZZY_SUBDIR}"
    m = M.manifest_resolve(index_delta.sparkSession, vroot)
    if m is None:
        raise M._not_versioned(vroot)
    vv = _fuzzy_variant_rows(
        index_delta, int(m["max_edits"]), int(m["n_buckets"])
    ).repartition("vbucket")
    M.write_epoch(vv, vroot, int(epoch), partition_cols=("vbucket",))


def fuzzy_vocab_compact(spark: SparkSession, path: str) -> dict:
    """Fold the fuzzy artifact's appended epochs into the next base
    version — ``index_compact``'s lifecycle applied to the fuzzy tier
    (r17 verdict: a long-maintained vocabulary accumulating per-batch
    epochs hits the same small-files wall the postings tier measured;
    a full rebuild was previously the only compaction).

    The fold group-sums ``df`` per ``(variant, term)`` — exactly the
    merge every reader performs per query, done once and persisted —
    so a compacted artifact answers :func:`fuzzy_match_terms`
    identically AND carries one row per (variant, term) and at most
    one file per vbucket instead of one per epoch.  Commit is one
    manifest PUT (``manifest.compact_artifact``): concurrent readers
    pinned on the old manifest keep serving base ∪ epochs, appends
    landing mid-fold stay live through it, and a crash before the PUT
    leaves the old version intact."""
    vroot = f"{path.rstrip('/')}/{_FUZZY_SUBDIR}"

    def fold(df: DataFrame) -> DataFrame:
        return (
            df.groupBy("vbucket", "variant", "term")
            .agg(F.sum("df").cast("long").alias("df"))
            .select("term", "df", "variant", "vbucket")
            .repartition("vbucket")
        )

    return M.compact_artifact(
        spark, vroot, fold, partition_cols=("vbucket",)
    )


def fuzzy_match_terms(
    spark: SparkSession,
    path: str,
    terms: list[str] | str,
    max_edits: int | None = None,
) -> DataFrame:
    """:func:`fuzzy_expand_terms` over a persisted
    :func:`write_fuzzy_vocab` artifact, with STATIC partition pruning:
    the query terms' deletion variants and their md5 buckets are
    computed driver-side (no Spark job), and the scan filters
    ``vbucket IN (...) AND variant IN (...)`` — only the buckets the
    query's variants live in are listed and read.  Same output and
    semantics as the inline operator (pinned by test).  ``max_edits``
    defaults to the artifact's build setting; asking for more than
    was built raises (distance-2 candidates were never materialized)."""
    tl = terms.split() if isinstance(terms, str) else list(terms)
    tl = [t for t in dict.fromkeys(tl) if t]
    if not tl:
        raise ValueError("terms must contain at least one term")
    vroot = f"{path}/{_FUZZY_SUBDIR}"
    m = M.manifest_resolve(spark, vroot)
    if m is None:
        raise M._not_versioned(vroot)
    built = int(m["max_edits"])
    n_buckets = int(m["n_buckets"])
    e = built if max_edits is None else int(max_edits)
    if e > built:
        raise ValueError(
            f"artifact at {path!r} was built with max_edits={built}; "
            f"cannot serve max_edits={e} (rebuild with write_fuzzy_vocab)"
        )
    if e not in (1, 2):
        raise ValueError(f"max_edits must be 1 or 2, got {e}")
    qrows = [(q, v) for q in tl for v in _del_variants_py(q, e)]
    buckets = sorted(
        {_term_bucket_py(v, n_buckets) for _, v in qrows}
    )
    allv = sorted({v for _, v in qrows})
    vv = (
        M.read_artifact(spark, vroot, manifest=m, drop_epoch=True)
        .where(F.col("vbucket").isin(buckets) & F.col("variant").isin(allv))
        .withColumnRenamed("variant", "_variant")
        # merge base + live epochs: df is sum-mergeable across the
        # disjoint doc slices fuzzy_vocab_append lands (a no-op group
        # on a freshly-built or compacted artifact); runs AFTER the
        # static bucket+variant pruning, which applies to BOTH
        # branches of the manifest read, so the grouped frame is
        # query-neighborhood-sized
        .groupBy("_variant", "term")
        .agg(F.sum("df").alias("df"))
    )
    qv = spark.createDataFrame(qrows, "q_term string, _variant string")
    return _verify_fuzzy(vv.join(F.broadcast(qv), "_variant"), e)


def fuzzy_correct_terms(
    index: DataFrame,
    queries: DataFrame,
    max_edits: int = 1,
    q_id_col: str = "q_id",
    terms_col: str = "terms",
    max_query_terms: int = 100_000,
) -> DataFrame:
    """Spelling-correct a query FRAME against the index vocabulary —
    the "did you mean" step ahead of batch BM25: each query term maps
    to its best vocabulary match within ``max_edits``
    (:func:`fuzzy_expand_terms` candidates ranked ``dist`` asc →
    ``df`` desc → ``term`` asc, the Norvig tie-break: prefer closer,
    then more attested).  Returns ``(q_id, terms)`` with corrected
    term sets — exact terms correct to themselves (distance 0 always
    wins), terms with no match within distance drop, and a query
    whose every term drops vanishes from the output (nothing left to
    score; the caller's no-rows contract, same as an all-OOV BM25).

    The distinct query terms collect driver-side; the bound is
    ENFORCED, not hoped (the ``_require_driver_sized`` discipline):
    past ``max_query_terms`` distinct terms the call fails fast with a
    ValueError — chunk the query frame — instead of OOMing the driver.
    The survivors expand through ONE vocabulary candidate join; the
    per-term best pick is a rank-then-filter over
    neighborhood-bounded groups."""
    cap = int(max_query_terms)
    if cap <= 0:
        raise ValueError(f"max_query_terms must be positive, got {cap}")
    qt = queries.select(
        F.col(q_id_col), F.explode(terms_col).alias("q_term")
    ).distinct()
    term_rows = (
        qt.select("q_term").distinct().limit(cap + 1).collect()
    )
    if len(term_rows) > cap:
        raise ValueError(
            f"fuzzy_correct_terms: query frame carries more than "
            f"{cap} distinct terms; chunk the batch (the candidate "
            "join amortizes per chunk) or raise max_query_terms"
        )
    uniq = sorted(r["q_term"] for r in term_rows if r["q_term"])
    if not uniq:
        raise ValueError("queries carry no terms to correct")
    exp = fuzzy_expand_terms(index, uniq, max_edits=max_edits)
    return (
        qt.join(F.broadcast(fuzzy_best_match(exp)), "q_term")
        .groupBy(q_id_col)
        .agg(F.collect_set("term").alias(terms_col))
    )


def fuzzy_best_match(expanded: DataFrame) -> DataFrame:
    """Reduce a :func:`fuzzy_expand_terms` /
    :func:`fuzzy_match_terms` result to ONE best match per
    ``q_term`` — ``dist`` asc → ``df`` desc → ``term`` asc (prefer
    closer, then more attested; the Norvig tie-break).  Groups are
    neighborhood-bounded, so the rank window is never a funnel."""
    w = Window.partitionBy("q_term").orderBy(
        "dist", F.desc("df"), "term"
    )
    return (
        expanded.withColumn("_r", F.row_number().over(w))
        .where(F.col("_r") == 1)
        .select("q_term", "term")
    )


# --------------------------------------------------------------- BM25


def _idf(n_docs, df, kind: str):
    ratio = (n_docs - df + F.lit(0.5)) / (df + F.lit(0.5))
    if kind == "robertson":
        # Lucene's non-negative variant: ln(1 + (N - df + .5)/(df + .5))
        return F.log(F.lit(1.0) + ratio)
    if kind == "rational":
        # ln-free surrogate: same per-term monotonicity in df, exact
        # IEEE arithmetic on both engines (the graded-oracle variant —
        # precedent: text.tfidf_topk(idf='inv'))
        return F.lit(1.0) + ratio
    raise ValueError(f"idf must be 'robertson' or 'rational', got {kind!r}")


def bm25_topk_batch(
    index: DataFrame,
    queries: DataFrame,
    k: int = 10,
    k1: float = 1.2,
    b: float = 0.75,
    idf: str = "robertson",
    id_col: str = "doc_id",
    q_id_col: str = "q_id",
    terms_col: str = "terms",
    stats: DataFrame | None = None,
    scale: int | None = None,
    dfreq: DataFrame | None = None,
    candidates: DataFrame | None = None,
) -> DataFrame:
    """Okapi BM25 top-``k`` documents for EVERY query in ``queries``
    (``(q_id, terms array<string>)``) in one pass: the exploded query
    terms broadcast into the postings join, scores aggregate per
    ``(q_id, doc)``, and a per-query window takes the top k — ranked
    by ``(score desc, id)`` so ties are deterministic.

    Returns ``(q_id, rank, id, score)``.  Repeated terms within one
    query count once (set semantics).

    INLINE vs PERSISTED: this function consumes ``index`` three times
    (postings, per-term ``df``, corpus stats) and per-branch column
    pruning makes the three aggregates non-identical, so Spark's
    exchange reuse does NOT collapse them — an inline
    :func:`inverted_index` lineage is re-derived per consumer.  Fine
    for ad-hoc corpora; at scale, build the index ONCE with
    :func:`write_inverted_index` and score over
    :func:`load_postings_artifact` (partition-pruned scan) with the
    persisted ``stats=`` row — then nothing is recomputed.

    ``stats`` — pass a precomputed/persisted :func:`index_stats` row to
    skip re-deriving ``n_docs``/``avgdl`` from the index.  ``scale`` —
    when set, per-term contributions are fixed-pointed
    (``floor(x*scale + 0.5)``) before the cross-term sum and ``score``
    is that exact integer sum divided by ``scale``: hash-stable across
    engines (the graded-oracle mode; see module docstring).
    ``dfreq`` — a ``(term, df)`` frame overriding the per-term
    document frequencies otherwise derived from ``index``.  REQUIRED
    when ``index`` holds a within-term SUBSET of postings
    (:func:`champion_lists`): df derived from a champion sliver caps
    at ``m``, inflating common terms' idf; champion scoring keeps the
    FULL corpus df (Manning et al., IIR §7.1.3 — only the scored
    candidates shrink, never the statistics).
    ``candidates`` — a ``(q_id, id)`` frame restricting which
    documents each query scores (:func:`champion_candidates`):
    candidate docs get their EXACT score (full postings for every
    query term), non-candidates never score.  The frame is
    candidate-set-sized (``<= m x |terms|`` rows per query) and
    broadcasts into the postings join."""
    qterms = queries.select(
        F.col(q_id_col), F.explode(terms_col).alias("term")
    ).distinct()
    uniq = qterms.select("term").distinct()
    if stats is None:
        if _is_pruned(index):
            # A term-pruned frame holds only the query terms' postings:
            # n_docs/avgdl derived from it would be corpus stats over a
            # sliver — every idf, hence every score and rank, silently
            # wrong.  The pruning loader returns a (postings, stats)
            # pair AND stamps pruned provenance into the schema
            # (column metadata — survives filter/select/cache, unlike
            # the r14 Python attribute); pass that stats row through.
            raise ValueError(
                "stats=None with term-pruned postings: pass the stats "
                "frame returned by load_postings_artifact"
            )
        stats = index_stats(index, id_col)
    if dfreq is None:
        dfreq = (
            index.join(F.broadcast(uniq), "term")
            .groupBy("term")
            .agg(F.count(F.lit(1)).alias("df"))
        )
    else:
        dfreq = dfreq.join(F.broadcast(uniq), "term").select("term", "df")
    post = (
        index.join(F.broadcast(qterms), "term")
        .join(F.broadcast(dfreq), "term")
        .crossJoin(F.broadcast(stats))
    )
    if candidates is not None:
        post = post.join(
            F.broadcast(
                candidates.select(q_id_col, id_col).distinct()
            ),
            [q_id_col, id_col],
        )
    contrib = _idf(F.col("n_docs"), F.col("df"), idf) * (
        F.col("tf")
        * F.lit(k1 + 1.0)
        / (
            F.col("tf")
            + F.lit(k1)
            * (F.lit(1.0 - b) + F.lit(b) * F.col("dl") / F.col("avgdl"))
        )
    )
    if scale is not None:
        part = F.floor(contrib * F.lit(float(scale)) + F.lit(0.5))
        score = (F.sum(part) / F.lit(float(scale))).alias("score")
    else:
        score = F.sum(contrib).alias("score")
    scores = post.groupBy(q_id_col, id_col).agg(score)
    # Two-phase top-k guard.  The scored frame is unbounded (one row
    # per (query, doc-containing-any-query-term) — corpus-scale for a
    # common term, and ONE target partition for the single-query
    # bm25_topk path), so the per-query ranking must bound rows
    # BEFORE the partitionBy(q_id) exchange.  On this engine the
    # row_number-then-filter shape below triggers Catalyst's
    # WindowGroupLimit rewrite (SPARK-37099): a `WindowGroupLimit
    # ... Partial` runs before the exchange, bounding what crosses to
    # k rows per (input partition, query) — the native equivalent of
    # similarity.py's manual spark_partition_id pre-top-k, with NO
    # extra exchange (the manual guard adds a full (pid, q_id)
    # shuffle; measured in tests/test_retrieval.py's plan test).  The
    # rewrite only fires when k <= spark.sql.optimizer.
    # windowGroupLimitThreshold (default 1000), so above it we fall
    # back to the explicit guard — provably identical under any
    # partitioning (every global top-k row is top-k within its own
    # input partition).  The plan shape is pinned by a structural
    # test, not assumed.
    spark = scores.sparkSession
    try:
        wgl_threshold = int(
            spark.conf.get("spark.sql.optimizer.windowGroupLimitThreshold")
        )
    except Exception:
        wgl_threshold = -1
    if not (0 <= int(k) <= wgl_threshold):
        local = Window.partitionBy(
            F.spark_partition_id(), q_id_col
        ).orderBy(F.desc("score"), F.col(id_col))
        scores = (
            scores.withColumn("_lrk", F.row_number().over(local))
            .where(F.col("_lrk") <= int(k))
            .drop("_lrk")
        )
    w = Window.partitionBy(q_id_col).orderBy(
        F.desc("score"), F.col(id_col)
    )
    return (
        scores.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= int(k))
        .select(q_id_col, "rank", id_col, "score")
    )


def champion_lists(
    index: DataFrame,
    m: int = 128,
    k1: float = 1.2,
    b: float = 0.75,
    id_col: str = "doc_id",
    stats: DataFrame | None = None,
    scale: int = 1_000_000,
) -> DataFrame:
    """Per-term champion lists (Manning et al., IIR §7.1.3),
    IMPACT-ordered (Anh & Moffat 2005): keep only each term's
    top-``m`` postings by the query-INDEPENDENT part of the BM25
    contribution — ``tf x (k1+1) / (tf + k1 x (1 - b + b x dl /
    avgdl))`` — so the kept postings are exactly the docs this term
    can score highest (raw-tf ordering keeps long documents the
    length normalization then punishes; within a term, idf is a
    constant and never changes the order).  THE classic top-k pruning
    for web-scale retrieval: a stopword's postings list is
    corpus-sized, but scoring its ``m`` champions bounds the
    candidates at ``m x |terms|`` rows however large the corpus,
    where exact BM25 scores every doc containing ANY query term.
    The impact fixed-points at ``scale`` before ordering (ties break
    by id), so list membership is deterministic, engine-portable and
    oracle-gradable; measure the recall cost against exact top-k
    with :func:`retrieval_eval` or the overlap row in ``bench.py``.

    Measured regimes (bench ``retrieval.champion`` /
    ``retrieval.champion_zipf``, r17): on the near-flat-tf sf1 corpus
    champion LOSES locally (0.7-0.9x — impact ordering has nothing to
    prune when every posting scores alike; scale-only there, the
    299x scored-row reduction is the claim).  On a Zipfian corpus
    (s=1.2, 300k docs, the two head terms posting in ~every doc) the
    HOT-postings serving regime (``serve_search_queries`` caches the
    pruned postings per batch, so the scan is amortized and the
    corpus-sized (doc) aggregate is the whole remaining cost) reads
    0.9-1.3x vs exact across three same-day bench samples (1.25-1.28x,
    ~1.0x, 0.89-0.98x) at top-10 overlap 8/10 with m=512 — i.e. the
    LOCAL wall is within host noise of exact: at 300k docs the saved
    aggregate is milliseconds against ~1.5s of fixed plan cost.  The
    measured, run-stable facts are the candidate reduction (392x at
    m=512, 1564x at m=128 — exact_scored_rows / champion_candidates,
    BENCH_LOCAL ``retrieval.champion_zipf``) and the recall trade
    (overlap 8/10 at m=512 vs 2/10 at m=128); the reduction is what
    survives a 100 TB corpus where the stopword aggregate, not plan
    overhead, dominates the stage.  Turn it on
    (``champion_m=512``-ish) when query terms are Zipf-head stopwords
    and the per-term postings dwarf m; leave it off for flat-tf or
    rare-term workloads, and never judge it by local wall alone.

    Returns the postings schema (compose with
    :func:`write_inverted_index` to persist bucketed).  SCORING
    CONTRACT: corpus statistics must come from the FULL index — pass
    ``stats=index_stats(full_index)`` AND ``dfreq=`` (full per-term
    df) to the BM25 scorers; champion-derived stats/df would inflate
    every common term's idf (the ``dfreq`` parameter exists for
    exactly this).  ``stats`` here defaults to deriving from
    ``index`` itself, correct when building from the full index.

    Plan: one rank-then-filter per-term window — bounded BEFORE its
    exchange by the WindowGroupLimit rewrite (the bm25_topk_batch
    contract; a hot term's corpus-scale list is exactly the partition
    this bounds), with the explicit partition-local guard above the
    rewrite threshold."""
    if m < 1:
        raise ValueError(f"m must be >= 1, got {m}")
    spark = index.sparkSession
    if stats is None:
        if _is_pruned(index):
            raise ValueError(
                "champion_lists over term-pruned postings needs the "
                "loader's stats= row (avgdl from a sliver is wrong)"
            )
        stats = index_stats(index, id_col)
    impact = (
        F.col("tf").cast("double")
        * F.lit(k1 + 1.0)
        / (
            F.col("tf")
            + F.lit(k1)
            * (F.lit(1.0 - b) + F.lit(b) * F.col("dl") / F.col("avgdl"))
        )
    )
    out = (
        index.crossJoin(F.broadcast(stats.select("avgdl")))
        .withColumn(
            "_imp",
            F.floor(impact * F.lit(float(scale)) + F.lit(0.5)),
        )
        .drop("avgdl")
    )
    try:
        wgl_threshold = int(
            spark.conf.get("spark.sql.optimizer.windowGroupLimitThreshold")
        )
    except Exception:
        wgl_threshold = -1
    if not (0 <= int(m) <= wgl_threshold):
        local = Window.partitionBy(
            F.spark_partition_id(), "term"
        ).orderBy(F.desc("_imp"), F.col(id_col))
        out = (
            out.withColumn("_lrk", F.row_number().over(local))
            .where(F.col("_lrk") <= int(m))
            .drop("_lrk")
        )
    w = Window.partitionBy("term").orderBy(F.desc("_imp"), F.col(id_col))
    return (
        out.withColumn("_rk", F.row_number().over(w))
        .where(F.col("_rk") <= int(m))
        .drop("_rk", "_imp")
    )


def champion_candidates(
    champions: DataFrame,
    queries: DataFrame,
    id_col: str = "doc_id",
    q_id_col: str = "q_id",
    terms_col: str = "terms",
) -> DataFrame:
    """Each query's candidate documents from its terms' champion
    lists — the UNION of per-term champions (Manning et al., IIR
    §7.1.3: candidates come from the champion lists, SCORES come from
    the full postings, so a candidate's score is exact).  Returns a
    distinct ``(q_id, id)`` frame, ``<= m x |terms|`` rows per query
    by construction — pass it to ``bm25_topk_batch(...,
    candidates=)`` over the FULL index with full ``stats``/
    ``dfreq``."""
    qterms = queries.select(
        F.col(q_id_col), F.explode(terms_col).alias("term")
    ).distinct()
    return (
        champions.join(F.broadcast(qterms), "term")
        .select(q_id_col, id_col)
        .distinct()
    )


def bm25_topk(
    index: DataFrame,
    terms: str | list[str],
    k: int = 10,
    **kwargs,
) -> DataFrame:
    """Single-query BM25 top-k — a one-row :func:`bm25_topk_batch`.
    Returns ``(rank, id, score)``."""
    tl = terms.split() if isinstance(terms, str) else list(terms)
    q = _one_query(index.sparkSession, tl)
    return bm25_topk_batch(index, q, k=k, **kwargs).drop("q_id")


# ----------------------------------------------------- persisted index

_POSTINGS_SUBDIR = "postings"
_STATS_ART = "stats"


def _term_bucket_col(n_buckets: int):
    # Engine-portable md5 routing (same kernel family as
    # pipeline.shuffle_shards): leading 32 bits of md5(term) mod
    # n_buckets — reproducible DRIVER-SIDE in _term_bucket_py, which is
    # what lets load_postings_artifact compute static partition filters
    # without a Spark job.
    return F.pmod(
        F.conv(F.substring(F.md5(F.col("term")), 1, 8), 16, 10).cast("bigint"),
        F.lit(int(n_buckets)),
    )


def _term_bucket_py(term: str, n_buckets: int) -> int:
    return int(hashlib.md5(term.encode("utf-8")).hexdigest()[:8], 16) % int(
        n_buckets
    )


_PRUNED_META_KEY = "gcfspark_term_pruned"


def _mark_pruned(post: DataFrame) -> DataFrame:
    """Stamp term-pruned provenance INTO the schema — column metadata
    on ``term`` — not as a Python attribute on the DataFrame object.
    Metadata rides the attribute reference through ``where``/
    ``select``/``cache``/``checkpoint`` (exactly the transformations
    that silently dropped the r14 attribute flag and re-opened the
    wrong-stats foot-gun the guard exists to close); it only
    disappears when the column itself is rebuilt, at which point the
    frame is no longer the loader's postings."""
    cols = [
        F.col(c).alias(c, metadata={_PRUNED_META_KEY: True})
        if c == "term"
        else F.col(c)
        for c in post.columns
    ]
    return post.select(*cols)


def _is_pruned(df: DataFrame) -> bool:
    for f in df.schema.fields:
        if f.name == "term":
            return bool(f.metadata.get(_PRUNED_META_KEY, False))
    return False


def write_inverted_index(
    index: DataFrame,
    path: str,
    n_buckets: int = 64,
    id_col: str = "doc_id",
) -> dict:
    """Persist the index as version 1 of the manifest-versioned index
    artifact that :func:`index_append` grows and :func:`index_compact`
    folds: a one-row ``(n_docs, total_dl)`` stats artifact, then the
    postings partitioned by md5 term bucket (``tbucket``, with
    ``n_buckets`` pinned in the postings manifest) so term lookups
    prune partitions — stats before postings, the :func:`index_append`
    write order.  A rebuild resets both artifacts.  Read it back with
    :func:`read_index_artifact` / :func:`load_postings_artifact`."""
    M.write_base(
        _batch_stats(index, id_col).coalesce(1), f"{path}/{_STATS_ART}"
    )
    M.write_base(
        index.withColumn("tbucket", _term_bucket_col(n_buckets))
        .repartition("tbucket"),
        f"{path}/{_POSTINGS_SUBDIR}",
        partition_cols=("tbucket",),
        extra={"n_buckets": int(n_buckets)},
    )
    row = M.read_artifact(index.sparkSession, f"{path}/{_STATS_ART}").first()
    return {
        "path": path,
        "n_docs": int(row["n_docs"]),
        "avgdl": row["total_dl"] / row["n_docs"],
        "n_buckets": int(n_buckets),
    }


# --------------------------------------- incremental index (epochs)
#
# write_inverted_index builds version 1 of this artifact; it follows
# the same contract as the dedup band indexes and the IVF lists
# (operators/manifest.py): each ingested batch lands as a committed
# epoch, readers serve base ∪ live epochs (partition-
# prunable on tbucket in BOTH branches), compaction folds epochs into
# the next base version behind one manifest PUT while appends continue,
# and purged documents die via merge-on-compact deletion with a
# pending-deletes overlay covering the window between compactions.
#
# Incremental contract: epochs carry DISJOINT document sets (each doc
# indexed exactly once — re-ingest after purge is a NEW epoch).  Under
# that contract postings are set-semantics rows (union is the merge)
# and the stats artifact is SUM-mergeable: one (n_docs, total_dl) row
# per epoch, corpus stats = the column sums, avgdl derived at read.


def _batch_stats(idx: DataFrame, id_col: str) -> DataFrame:
    per_doc = idx.groupBy(id_col).agg(F.first("dl").alias("dl"))
    return per_doc.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.coalesce(F.sum("dl"), F.lit(0)).cast("long").alias("total_dl"),
    )


def index_append(
    idx: DataFrame,
    root: str,
    epoch_id: int,
    n_buckets: int = 64,
    id_col: str = "doc_id",
) -> None:
    """Land one batch's postings (+ its SUM-mergeable stats row) as
    committed epoch ``epoch_id``.  ``n_buckets`` is pinned in the
    postings manifest on first append and read back thereafter — a
    mismatched later value is ignored, so every epoch buckets terms
    identically (the same must-match contract as the dedup index's
    ``k``/``bands``).  Replay-safe: ``write_epoch``'s epoch-owned
    overwrite makes a foreachBatch retry rewrite exactly its own
    epoch.

    Write order is STATS-THEN-POSTINGS (inverted r15 — r14 documented
    the old postings-then-stats freshness window; this closes it): at
    any instant the committed stats epochs are a superset of the
    committed postings epochs, and the readers
    (:func:`read_index_artifact` / :func:`load_postings_artifact`)
    key the stats read off the POSTINGS snapshot — an epoch's stats
    row is consumed iff that epoch's postings are being served, so a
    reader can never score postings with their stats row missing,
    and an orphan stats epoch (crash between the two commits — the
    batch replays) is invisible until its postings land."""
    spark = idx.sparkSession
    proot = f"{root}/{_POSTINGS_SUBDIR}"
    m = M.manifest_resolve(spark, proot)
    if m is None:
        M.init_artifact(spark, proot, extra={"n_buckets": int(n_buckets)})
    else:
        n_buckets = int(m.get("n_buckets", n_buckets))
    M.write_epoch(
        _batch_stats(idx, id_col).coalesce(1),
        f"{root}/{_STATS_ART}",
        epoch_id,
    )
    with_bucket = idx.withColumn(
        "tbucket", _term_bucket_col(n_buckets)
    ).repartition("tbucket")
    M.write_epoch(with_bucket, proot, epoch_id, partition_cols=("tbucket",))


def _overlay_deletes(
    post: DataFrame,
    stats_rows: DataFrame,
    pending_deletes: DataFrame,
    id_col: str,
) -> tuple[DataFrame, DataFrame]:
    dels = pending_deletes.select(
        F.col(pending_deletes.columns[0]).alias(id_col)
    )
    removed = (
        post.join(F.broadcast(dels), id_col, "left_semi")
        .groupBy(id_col)
        .agg(F.first("dl").alias("dl"))
    )
    neg = removed.agg(
        (-F.count(F.lit(1))).alias("n_docs"),
        (-F.coalesce(F.sum("dl"), F.lit(0))).cast("long").alias("total_dl"),
    )
    return (
        post.join(F.broadcast(dels), id_col, "left_anti"),
        stats_rows.select("n_docs", "total_dl").unionByName(neg),
    )


def _postings_snapshot(
    spark: SparkSession, proot: str, manifest: dict | None = None
) -> tuple[dict | None, list[int] | None]:
    """One consistent (manifest, live-epoch list) snapshot of the
    postings artifact, listed ONCE and shared by the postings read and
    the stats alignment — two internal listings could straddle a
    concurrent append and disagree."""
    m = manifest if manifest is not None else M.manifest_resolve(spark, proot)
    if m is None:
        return None, None
    folded = set(m["folded_epochs"])
    wm = int(m.get("folded_watermark", -1))
    live = [
        e for e in M.list_epochs(spark, proot)
        if e not in folded and e > wm
    ]
    return m, live


def _aligned_stats_rows(
    spark: SparkSession,
    root: str,
    m_post: dict | None,
    live_post: list[int] | None,
) -> DataFrame:
    """Stats rows aligned to the postings snapshot: keep base rows and
    exactly the epochs the postings artifact KNOWS (live in the
    snapshot, or already folded into its base) — an epoch the postings
    have never committed is a mid-append orphan whose stats must not
    be counted (``index_append`` writes stats first, so the orphan
    direction is always stats-ahead).  With the r15 write inversion
    this makes ``(postings, stats)`` exactly consistent at every
    instant; the compaction window stays covered because a
    postings-folded epoch is kept here even while the stats fold
    lags (``index_compact``'s ``align_manifest`` contract)."""
    rows = M.read_artifact(spark, f"{root}/{_STATS_ART}", drop_epoch=False)
    if m_post is None or "epoch" not in rows.columns:
        return rows.drop("epoch") if "epoch" in rows.columns else rows
    wm = int(m_post.get("folded_watermark", -1))
    known = sorted(set(m_post["folded_epochs"]) | set(live_post or []))
    keep = (F.col("epoch") == -1) | (F.col("epoch") <= wm)
    if known:
        keep = keep | F.col("epoch").isin(known)
    return rows.where(keep).drop("epoch")


def read_index_artifact(
    spark: SparkSession,
    root: str,
    pending_deletes: DataFrame | None = None,
    id_col: str = "doc_id",
) -> tuple[DataFrame, DataFrame]:
    """Read the incremental index through its manifests:
    ``(postings, stats)`` with ``stats`` in the one-row
    ``(n_docs, avgdl)`` shape the scorers take via ``stats=``.

    ``pending_deletes`` (one-column frame of purged doc ids — the
    same overlay shape as ``dedup.*_incremental``) voids purged docs
    out of the postings AND corrects the stats (their doc count and
    token mass subtract exactly), so retrieval is correct BETWEEN
    compactions; the physical rows die at the next
    :func:`index_compact` with ``delete_ids=``."""
    proot = f"{root}/{_POSTINGS_SUBDIR}"
    m, live = _postings_snapshot(spark, proot)
    post = M.read_artifact(
        spark, proot, manifest=m, drop_epoch=True, live_epochs=live
    ).drop("tbucket")
    stats_rows = _aligned_stats_rows(spark, root, m, live)
    if pending_deletes is not None:
        post, stats_rows = _overlay_deletes(
            post, stats_rows, pending_deletes, id_col
        )
    stats = stats_rows.agg(
        F.coalesce(F.sum("n_docs"), F.lit(0)).alias("n_docs"),
        (F.sum("total_dl") / F.sum("n_docs")).alias("avgdl"),
    )
    return post, stats


def load_postings_artifact(
    spark: SparkSession,
    root: str,
    terms: list[str] | str,
    pending_deletes: DataFrame | None = None,
    id_col: str = "doc_id",
) -> tuple[DataFrame, DataFrame]:
    """Term-bounded read of the incremental index — the static
    ``tbucket`` filters prune BOTH the base and the live epochs (the
    manifest reader unions two partition-prunable scans).  Returns
    ``(postings, stats)`` like :func:`read_index_artifact`.  A
    ``pending_deletes`` overlay anti-joins the PRUNED postings, but
    its stats correction derives from the FULL postings — a deleted
    doc whose postings sit outside the query's terms must still
    subtract its (1, dl) from the corpus stats.  That correction scan
    column-prunes to ``(id, dl)`` (two narrow columns, no positions),
    and it only exists while deletions are pending — they die at the
    next :func:`index_compact`."""
    tl = terms.split() if isinstance(terms, str) else list(terms)
    if not tl:
        raise ValueError("terms must be non-empty")
    proot = f"{root}/{_POSTINGS_SUBDIR}"
    m = M.manifest_resolve(spark, proot)
    if m is None:
        raise M._not_versioned(proot)
    m, live = _postings_snapshot(spark, proot, manifest=m)
    n_buckets = int(m["n_buckets"])
    buckets = sorted({_term_bucket_py(t, n_buckets) for t in tl})
    post = (
        M.read_artifact(
            spark, proot, manifest=m, drop_epoch=True, live_epochs=live
        )
        .where(F.col("tbucket").isin(buckets) & F.col("term").isin(tl))
        .drop("tbucket")
    )
    stats_rows = _aligned_stats_rows(spark, root, m, live)
    if pending_deletes is not None:
        dels = pending_deletes.select(
            F.col(pending_deletes.columns[0]).alias(id_col)
        )
        post = post.join(F.broadcast(dels), id_col, "left_anti")
        full = M.read_artifact(
            spark, proot, manifest=m, drop_epoch=True, live_epochs=live
        ).select(id_col, "dl")
        removed = (
            full.join(F.broadcast(dels), id_col, "left_semi")
            .groupBy(id_col)
            .agg(F.first("dl").alias("dl"))
        )
        neg = removed.agg(
            (-F.count(F.lit(1))).alias("n_docs"),
            (-F.coalesce(F.sum("dl"), F.lit(0))).cast("long").alias(
                "total_dl"
            ),
        )
        stats_rows = stats_rows.select("n_docs", "total_dl").unionByName(neg)
    stats = stats_rows.agg(
        F.coalesce(F.sum("n_docs"), F.lit(0)).alias("n_docs"),
        (F.sum("total_dl") / F.sum("n_docs")).alias("avgdl"),
    )
    return _mark_pruned(post), stats


def index_compact(
    spark: SparkSession,
    root: str,
    delete_ids: DataFrame | None = None,
    id_col: str = "doc_id",
    _between_hook=None,
) -> dict:
    """Fold the index's streamed epochs into the next base version
    (one manifest PUT per artifact; appends continue through it —
    ``manifest.compact_artifact``'s pause-free contract).  With
    ``delete_ids`` the fold anti-joins purged docs out of the postings
    (merge-on-compact deletion — the physical death of what the
    pending-deletes overlay masked logically), and the stats artifact
    is REBUILT from the folded postings, so deletions can never leave
    the corpus stats drifted.

    Concurrent-append consistency: the stats rebuild reads EXACTLY the
    postings base the postings compaction committed (``base/v<N+1>``,
    pinned by the returned manifest — never a re-resolved view that a
    racing ``index_append`` could have grown), and the stats fold is
    ``align_manifest``-pinned to that same commit, so an epoch landing
    between the two compactions stays LIVE in both artifacts — counted
    once via the epochs union, never double-counted in the rebuilt
    base nor dropped by the fold.  ``_between_hook`` is the test seam
    for that window (inject an append between the two folds)."""
    dels = (
        delete_ids.select(F.col(delete_ids.columns[0]).alias(id_col))
        if delete_ids is not None
        else None
    )

    def fold_post(df: DataFrame) -> DataFrame:
        out = df
        if dels is not None:
            out = out.join(F.broadcast(dels), id_col, "left_anti")
        return out.repartition("tbucket")

    proot = f"{root}/{_POSTINGS_SUBDIR}"
    res = M.compact_artifact(
        spark, proot, fold_post, partition_cols=("tbucket",)
    )
    if _between_hook is not None:
        _between_hook()
    m_post = res["manifest"]
    folded_post = spark.read.parquet(
        M.base_dir(proot, int(m_post["version"]))
    ).drop("epoch")

    def fold_stats(_: DataFrame) -> DataFrame:
        # ignore the input stats rows: exact stats re-derive from the
        # committed postings base (one row), which bakes delete_ids in
        # and covers exactly the epochs the postings fold consumed
        return _batch_stats(folded_post, id_col).coalesce(1)

    M.compact_artifact(
        spark, f"{root}/{_STATS_ART}", fold_stats, align_manifest=m_post
    )
    return res


def mmr_rerank(
    ranked: DataFrame,
    embeddings: DataFrame,
    k: int = 10,
    lam: float = 0.5,
    id_col: str = "doc_id",
    q_id_col: str = "q_id",
    score_col: str = "score",
    vec_id_col: str = "vec_id",
    vec_col: str = "embedding",
    scale: int = 1_000_000,
) -> DataFrame:
    """Maximal Marginal Relevance re-ranking (Carbonell & Goldstein,
    SIGIR 1998) — diversify a relevance-ranked shortlist: pick ``k``
    documents greedily, each maximizing

        lam * rel(d)  -  (1 - lam) * max over selected s of sim(d, s)

    so near-duplicates of an already-selected document are penalized
    out of the final list — the missing step between ranked retrieval
    (q122/q136/q143's arms, all relevance-pure) and training-data
    curation, where a diverse positive/negative shortlist beats k
    copies of the same best hit.

    Inputs: ``ranked`` — ``(q_id, id, score)``, a TOP-N per query by
    construction (a fused/hybrid/BM25 ranking; this operator
    re-orders a shortlist, it does not search); ``embeddings`` —
    ``(vec_id, embedding)`` document vectors (unit-normalized, the
    corpus convention — dot product IS cosine).  A candidate without
    an embedding drops (it cannot be diversity-scored).

    Returns ``(q_id, rank, id, mmr_fx, rel_fx)``: the greedy pick
    order, ``rel_fx`` the candidate's min-max-normalized relevance
    and ``mmr_fx`` its selection-time MMR objective, both fixed-point
    at ``scale`` (pairwise sims fixed-point BEFORE the max, the
    engine-portable convention — the whole selection is
    integer-exact given IEEE doubles, hence oracle-gradable).  The
    first pick maximizes ``lam * rel`` alone (no selected set yet);
    ties break by id ascending at every step.  Queries with fewer
    than ``k`` embedded candidates return all of them.

    Scale posture: NO iterative joins and NO driver-side loop — the
    per-query candidate set (bounded at N by the caller's top-N
    contract) packs into ONE array via groupBy(q_id), and the entire
    k-step greedy selection runs as a single ``F.aggregate`` fold
    over that array (the ``min_span_batch`` packed-array idiom):
    per-pair sims are computed inside the fold's lambdas, so nothing
    is materialized beyond the one (q_id)-keyed exchange, and a
    million queries diversify embarrassingly parallel."""
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    if not (0.0 <= float(lam) <= 1.0):
        raise ValueError(f"lam must be in [0, 1], got {lam}")
    lamc = F.lit(float(lam))
    ilamc = F.lit(1.0 - float(lam))
    sc = F.lit(float(scale))
    w = Window.partitionBy(q_id_col)
    rel01 = F.when(
        F.max(F.col(score_col)).over(w) > F.min(F.col(score_col)).over(w),
        (F.col(score_col).cast("double")
         - F.min(F.col(score_col).cast("double")).over(w))
        / (F.max(F.col(score_col).cast("double")).over(w)
           - F.min(F.col(score_col).cast("double")).over(w)),
    ).otherwise(F.lit(1.0))
    cand = (
        ranked.select(
            F.col(q_id_col),
            F.col(id_col),
            F.floor(rel01 * sc + F.lit(0.5)).alias("_rel"),
        )
        .join(
            embeddings.select(
                F.col(vec_id_col).alias(id_col),
                F.transform(
                    F.col(vec_col), lambda x: x.cast("double")
                ).alias("_v"),
            ),
            id_col,
        )
    )
    # one packed array per query, id-sorted (struct compare leads on
    # id) so every fold below iterates a deterministic order
    packed = cand.groupBy(q_id_col).agg(
        F.array_sort(
            F.collect_list(
                F.struct(
                    F.col(id_col).alias("id"),
                    F.col("_rel").alias("rel"),
                    F.col("_v").alias("v"),
                )
            )
        ).alias("_c")
    )

    def _dot_fx(va, vb):
        return F.floor(
            F.aggregate(
                F.zip_with(va, vb, lambda x, y: x * y),
                F.lit(0.0),
                lambda s, v: s + v,
            )
            * sc
            + F.lit(0.5)
        )

    sel_t = (
        "array<struct<id:bigint,rank:int,mmr_fx:bigint,rel:bigint,"
        "v:array<double>>>"
    )

    def _step(acc, i):
        sel_ids = F.transform(acc, lambda s: s["id"])
        rem = F.filter(
            F.col("_c"),
            lambda c: ~F.array_contains(sel_ids, c["id"]),
        )
        # per remaining candidate: the MMR objective at this step —
        # struct(m, ni) orders argmax by (mmr desc, id asc); rel/v
        # ride along for the pick row (never reached by the compare:
        # ni is unique)
        scored = F.transform(
            rem,
            lambda c: F.struct(
                F.when(
                    F.size(acc) > 0,
                    F.floor(
                        lamc * c["rel"]
                        - ilamc
                        * F.array_max(
                            F.transform(
                                acc, lambda s: _dot_fx(c["v"], s["v"])
                            )
                        )
                        + F.lit(0.5),
                    ),
                )
                .otherwise(F.floor(lamc * c["rel"] + F.lit(0.5)))
                .alias("m"),
                (-c["id"]).alias("ni"),
                c["rel"].alias("rel"),
                c["v"].alias("v"),
            ),
        )
        best = F.array_max(scored)
        return F.when(
            F.size(rem) > 0,
            F.concat(
                acc,
                F.array(
                    F.struct(
                        (-best["ni"]).alias("id"),
                        i.cast("int").alias("rank"),
                        best["m"].alias("mmr_fx"),
                        best["rel"].alias("rel"),
                        best["v"].alias("v"),
                    )
                ),
            ),
        ).otherwise(acc)

    sel = F.aggregate(
        F.sequence(F.lit(1), F.lit(int(k))),
        F.array().cast(sel_t),
        _step,
    )
    return (
        packed.select(F.col(q_id_col), F.explode(sel).alias("_s"))
        .select(
            F.col(q_id_col),
            F.col("_s")["rank"].alias("rank"),
            F.col("_s")["id"].alias(id_col),
            F.col("_s")["mmr_fx"].alias("mmr_fx"),
            F.col("_s")["rel"].alias("rel_fx"),
        )
    )


# ------------------------------------------------------- hybrid fusion


def rrf_fuse(
    rankings: list[DataFrame],
    id_col: str = "doc_id",
    k: int = 60,
    topk: int = 10,
    scale: int | None = None,
) -> DataFrame:
    """Reciprocal-rank fusion — the standard hybrid-retrieval combiner
    (Cormack et al., SIGIR 2009) now that BOTH retrieval tiers exist:
    fuse a lexical (BM25) top-k list with a vector (cosine/ANN) top-k
    list (or any number of rankings) without score calibration:

        rrf(d) = sum over rankings r of 1 / (k + rank_r(d))

    Each input carries ``(id_col, rank)`` (1-based; absent = no
    contribution).  Returns ``(rank, id, rrf_score, n_sources)``, the
    fused top-``topk`` ranked by ``(rrf_score desc, id)``.

    Scale posture: inputs are top-k lists by construction, so the
    union is at most ``sum(len(r))`` rows however large the corpus —
    the groupBy and the final ranking window run over a bounded frame
    (the window's constant partition key is deliberate: its input is
    already k·|rankings| rows, not corpus-sized).  ``scale`` fixes
    each 1/(k+rank) contribution to an exact integer before the
    cross-ranking sum (the graded hash-stable mode, as in BM25).

    Not a one-row :func:`rrf_fuse_batch` call: giving the lists a
    query id costs a broadcast join and one more Spark job per call,
    and over one query the ranking window needs no per-query
    partitioning."""
    if not rankings:
        raise ValueError("rankings must be non-empty")
    parts = []
    for r in rankings:
        c = F.lit(1.0) / (F.lit(float(k)) + F.col("rank").cast("double"))
        if scale is not None:
            c = F.floor(c * F.lit(float(scale)) + F.lit(0.5))
        parts.append(r.select(F.col(id_col), c.alias("_c")))
    u = parts[0]
    for p in parts[1:]:
        u = u.unionByName(p)
    score = F.sum("_c")
    if scale is not None:
        score = score / F.lit(float(scale))
    fused = u.groupBy(id_col).agg(
        score.alias("rrf_score"), F.count(F.lit(1)).alias("n_sources")
    )
    w = Window.partitionBy(F.lit(0)).orderBy(
        F.desc("rrf_score"), F.col(id_col)
    )
    return (
        fused.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= int(topk))
        .select("rank", id_col, "rrf_score", "n_sources")
    )


def rrf_fuse_batch(
    rankings: list[DataFrame],
    id_col: str = "doc_id",
    q_id_col: str = "q_id",
    k: int = 60,
    topk: int = 10,
    scale: int | None = None,
) -> DataFrame:
    """:func:`rrf_fuse` for a BATCH of queries: every input ranking
    carries ``(q_id, id, rank)`` (per-query 1-based ranks, absent =
    no contribution) and fusion happens per ``q_id`` in one plan.
    Returns ``(q_id, rank, id, rrf_score, n_sources)``.

    Scale posture mirrors :func:`rrf_fuse`'s bounded-input contract,
    per query: inputs are per-query top-k lists by construction, so
    each ``q_id`` window partition holds at most ``k * len(rankings)``
    rows — the final ranking window is bounded by contract, not a
    rank funnel (and the rank-then-filter shape below keeps the
    WindowGroupLimit guard anyway)."""
    if not rankings:
        raise ValueError("rankings must be non-empty")
    parts = []
    for r in rankings:
        c = F.lit(1.0) / (F.lit(float(k)) + F.col("rank").cast("double"))
        if scale is not None:
            c = F.floor(c * F.lit(float(scale)) + F.lit(0.5))
        parts.append(
            r.select(F.col(q_id_col), F.col(id_col), c.alias("_c"))
        )
    u = parts[0]
    for p in parts[1:]:
        u = u.unionByName(p)
    score = F.sum("_c")
    if scale is not None:
        score = score / F.lit(float(scale))
    fused = u.groupBy(q_id_col, id_col).agg(
        score.alias("rrf_score"), F.count(F.lit(1)).alias("n_sources")
    )
    w = Window.partitionBy(q_id_col).orderBy(
        F.desc("rrf_score"), F.col(id_col)
    )
    return (
        fused.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= int(topk))
        .select(q_id_col, "rank", id_col, "rrf_score", "n_sources")
    )


def score_fuse_batch(
    arms: list[DataFrame],
    weights: list[float] | None = None,
    id_col: str = "doc_id",
    q_id_col: str = "q_id",
    score_col: str = "score",
    topk: int = 10,
    mnz: bool = False,
    scale: int = 10**6,
) -> DataFrame:
    """Weighted SCORE fusion — CombSUM / CombMNZ (Fox & Shaw, TREC-2
    1994; Lee, SIGIR 1997), the calibrated cousin of :func:`rrf_fuse`:
    where RRF discards scores and fuses RANKS (calibration-free), this
    min-max-normalizes each arm's scores INTO [0, 1] per query and
    sums them weighted — the standard hybrid combiner when arm scores
    are meaningful and the caller wants to tune the lexical/dense
    balance (``weights``) instead of treating arms as equal voters.

    Each arm carries ``(q_id, id, score_col)`` — a per-query top-k
    list from any scorer (BM25 score, cosine similarity, RRF output;
    pass the FIXED-POINT score column for the graded hash-stable
    mode).  Per ``(arm, q_id)``: ``norm = (s - min) / (max - min)``
    over the arm's retrieved list (the standard list-wise min-max;
    a degenerate all-tied list normalizes to 1.0 — every doc is
    equally the arm's best), fixed-pointed as
    ``floor(norm * weight * scale + 0.5)`` so the cross-arm sum is an
    exact integer.  ``mnz=True`` multiplies each doc's summed score
    by the number of arms that retrieved it (CombMNZ's overlap
    boost).  Returns ``(q_id, rank, id, fused_score, n_sources)``,
    top-``topk`` per query by ``(fused_score desc, id)``.

    Scale posture mirrors :func:`rrf_fuse_batch`: inputs are
    per-query top-k lists by construction, so the per-arm min/max
    windows, the groupBy and the final ranking all run over bounded
    frames (rank-then-filter keeps the WindowGroupLimit guard
    regardless)."""
    if not arms:
        raise ValueError("arms must be non-empty")
    if weights is None:
        weights = [1.0] * len(arms)
    if len(weights) != len(arms):
        raise ValueError(
            f"{len(arms)} arms but {len(weights)} weights"
        )
    parts = []
    for arm, w in zip(arms, weights):
        aw = Window.partitionBy(q_id_col)
        s = F.col(score_col).cast("double")
        mn = F.min(s).over(aw)
        mx = F.max(s).over(aw)
        norm = F.when(mx > mn, (s - mn) / (mx - mn)).otherwise(F.lit(1.0))
        cfx = F.floor(
            norm * F.lit(float(w)) * F.lit(float(scale)) + F.lit(0.5)
        )
        parts.append(
            arm.select(F.col(q_id_col), F.col(id_col), cfx.alias("_c"))
        )
    u = parts[0]
    for p in parts[1:]:
        u = u.unionByName(p)
    fused_fx = F.sum("_c")
    n_src = F.count(F.lit(1))
    if mnz:
        fused_fx = fused_fx * n_src
    fused = u.groupBy(q_id_col, id_col).agg(
        fused_fx.alias("_fx"), n_src.alias("n_sources")
    )
    w = Window.partitionBy(q_id_col).orderBy(F.desc("_fx"), F.col(id_col))
    return (
        fused.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= int(topk))
        .select(
            q_id_col,
            "rank",
            id_col,
            (F.col("_fx") / F.lit(float(scale))).alias("fused_score"),
            "n_sources",
        )
    )


# --------------------------------------------------- retrieval evaluation


def ndcg_discounts_fx(k: int, scale: int = 10**9) -> list[int]:
    """The nDCG position discounts ``1/log2(rank+1)`` for ranks
    ``1..k``, fixed-pointed DRIVER-side (``floor(x*scale + 0.5)``):
    log2 is libm-dependent (not bit-portable across engines), so the
    discounts become exact integer constants computed ONCE in Python
    and inlined into both the Spark expression and the SQL oracle —
    the same portability dodge as BM25's ``idf='rational'``, applied
    to a table small enough (k entries) to hoist off the engines
    entirely."""
    import math

    return [
        int(math.floor(scale / math.log2(r + 1) + 0.5))
        for r in range(1, int(k) + 1)
    ]


def retrieval_eval(
    results: DataFrame,
    qrels: DataFrame,
    k: int = 10,
    id_col: str = "doc_id",
    q_id_col: str = "q_id",
    rel_col: str = "rel",
    scale: int = 10**9,
) -> DataFrame:
    """Grade rankings against relevance judgments: per-query
    recall@``k``, reciprocal rank, and nDCG@``k`` — the standard IR
    eval triple (Järvelin & Kekäläinen 2002 for nDCG), closing the
    retrieval tier's loop now that BM25, ANN, and RRF fusion can all
    PRODUCE rankings: without an eval operator the engine cannot say
    which of them is better on a corpus.

    ``results``: ``(q_id, doc_id, rank)`` (1-based; extra columns
    ignored) — any scorer's output (BM25/ANN top-k, an RRF fusion).
    ``qrels``: ``(q_id, doc_id, rel)`` graded judgments, one row per
    judged pair; ``rel >= 1`` is relevant (gains use the standard
    ``2^rel - 1``, so binary qrels get gain 1).  Every query present
    in ``qrels`` (with at least one relevant doc) is evaluated —
    trec_eval's convention — including queries the results frame
    missed entirely (they score 0); result-frame queries with no
    judgments are dropped (recall/nDCG are undefined without a
    positive set).

    Returns one row per query::

        (q_id, n_rel, n_hits, first_rel_rank, recall, rr, ap, ndcg)

    ``first_rel_rank`` is null when no relevant doc was retrieved
    (``rr`` is 0.0 there).  ``ap`` is average precision@k —
    ``(1/n_rel) * sum over hit positions r of precision@r`` — so the
    summary's mean of it is MAP.  Float parity: DCG and ideal DCG are
    EXACT integer sums — gain ``2^rel - 1`` (an integer shift) times
    the driver-side fixed-point discount table
    (:func:`ndcg_discounts_fx`) — AP's per-hit precision terms fix to
    integers before their sum, and each of ``recall``/``rr``/``ap``/
    ``ndcg`` ends in correctly-rounded IEEE divisions of exact values
    in a pinned order, so every output is bit-identical across
    engines (the graded-oracle contract).

    Scale posture: results are top-k lists (``k`` rows per query) by
    contract, so the ``(q_id, doc)`` equi-joins and groupBys run over
    eval-sized frames.  qrels need no such contract: the ideal-DCG
    ranking filters ``_ir <= k`` adjacent to its window, so Catalyst
    bounds the ranked frame BEFORE any exchange (WindowGroupLimit /
    TakeOrdered rewrite — pinned by the plan-audit's
    unguarded_rank_funnels counter), and ``n_rel`` is a plain keyed
    count with map-side partials — corpus-DERIVED judgments (q123
    mines them from the index) evaluate without a single-reducer
    funnel."""
    disc = ndcg_discounts_fx(k, scale)
    disc_arr = F.array(*[F.lit(int(d)) for d in disc])
    # the positive set: rel >= 1 drops null/zero/negative judgments,
    # and a judgment with a null doc or query id is no judgment at all
    # (it could never join a result row but WOULD inflate n_rel/IDCG).
    # Duplicate (q, doc) judgments collapse to their max rel — a dup
    # would otherwise fan out the results join AND double-count n_rel.
    # The dedup groupBy runs over the eval-sized qrels frame only.
    rel_pos = (
        qrels.where(
            (F.col(rel_col) >= 1)
            & F.col(id_col).isNotNull()
            & F.col(q_id_col).isNotNull()
        )
        .groupBy(q_id_col, id_col)
        .agg(F.max(F.col(rel_col).cast("int")).alias(rel_col))
    )
    # gain 2^rel - 1 as an exact integer shift (F.shiftleft only takes
    # a literal bit count, so the column form goes through expr); the
    # shift runs in LONG so graded rels up to 62 stay exact — an int32
    # shift would silently wrap (Java masks the count at rel & 31)
    gain = F.expr(f"shiftleft(cast(1 as bigint), `{rel_col}`) - 1")

    res_k = results.where(F.col("rank") <= int(k)).select(
        q_id_col, id_col, "rank"
    )
    hit = F.col(rel_col).isNotNull()
    # running hit count for AP's precision@rank terms: prec@r =
    # cum_hits/r at each HIT position, fixed-pointed per term so the
    # cross-position sum is exact (cum_hits*scale is an exact double,
    # the division by r is correctly rounded — identical both engines)
    wr = Window.partitionBy(q_id_col).orderBy("rank")
    cum = F.sum(F.when(hit, 1).otherwise(0)).over(wr)
    prec_fx = F.floor(
        cum.cast("double") * F.lit(float(scale))
        / F.col("rank").cast("double")
        + F.lit(0.5)
    )
    per_res = (
        res_k.join(rel_pos, [q_id_col, id_col], "left")
        .withColumn("_cumprec_fx", prec_fx)
        .groupBy(q_id_col)
        .agg(
            F.sum(F.when(hit, 1).otherwise(0)).alias("n_hits"),
            F.min(F.when(hit, F.col("rank"))).alias("first_rel_rank"),
            F.sum(
                F.when(hit, gain * F.element_at(disc_arr, F.col("rank")))
                .otherwise(F.lit(0).cast("long"))
            ).alias("_dcg_fx"),
            F.sum(
                F.when(hit, F.col("_cumprec_fx"))
                .otherwise(F.lit(0).cast("long"))
            ).alias("_ap_fx"),
        )
    )
    w = Window.partitionBy(q_id_col).orderBy(
        F.desc(rel_col), F.col(id_col)
    )
    # Ideal DCG in TWO aggregates instead of one window-then-CASE:
    # n_rel is a plain keyed count (map-side partials, no window),
    # and the ideal ranking filters `_ir <= k` ADJACENT to its
    # window so Catalyst's WindowGroupLimit/TakeOrdered rewrite
    # bounds the ranked frame BEFORE any exchange.  qrels are
    # usually curated (eval-sized), but corpus-DERIVED qrels (q123
    # mines them from the index) are corpus-scale — with the old
    # single-aggregate shape their ideal ranking funneled unbounded
    # rows through one partition per query (VERDICT r15 #1/#2; the
    # plan-audit's unguarded_rank_funnels counter now flags that
    # shape).  Identical values: rows past k contributed 0 to the
    # CASE sum.
    n_rel_agg = rel_pos.groupBy(q_id_col).agg(
        F.count(F.lit(1)).alias("n_rel")
    )
    ideal_k = rel_pos.withColumn("_ir", F.row_number().over(w)).where(
        F.col("_ir") <= int(k)
    )
    idcg_agg = ideal_k.groupBy(q_id_col).agg(
        F.sum(gain * F.element_at(disc_arr, F.col("_ir"))).alias(
            "_idcg_fx"
        )
    )
    per_rel = n_rel_agg.join(idcg_agg, q_id_col)
    out = per_rel.join(per_res, q_id_col, "left")
    n_hits = F.coalesce(F.col("n_hits"), F.lit(0)).cast("long")
    dcg = F.coalesce(F.col("_dcg_fx"), F.lit(0)).cast("double")
    ap_fx = F.coalesce(F.col("_ap_fx"), F.lit(0)).cast("double")
    return out.select(
        F.col(q_id_col),
        F.col("n_rel"),
        n_hits.alias("n_hits"),
        F.col("first_rel_rank").cast("int"),
        (n_hits.cast("double") / F.col("n_rel").cast("double")).alias(
            "recall"
        ),
        F.coalesce(
            F.lit(1.0) / F.col("first_rel_rank").cast("double"), F.lit(0.0)
        ).alias("rr"),
        (
            ap_fx / F.lit(float(scale)) / F.col("n_rel").cast("double")
        ).alias("ap"),
        (dcg / F.col("_idcg_fx").cast("double")).alias("ndcg"),
    )


def retrieval_eval_summary(
    per_query: DataFrame,
    q_id_col: str = "q_id",
    scale: int = 10**6,
) -> DataFrame:
    """Corpus-level eval from :func:`retrieval_eval`'s per-query rows:
    one row ``(n_queries, recall_at_k, mrr, map, ndcg_at_k)`` — the
    means over evaluated queries (MRR and MAP are by definition the
    means of ``rr`` and ``ap``).  Hash-stable: each per-query metric
    fixes to an integer before the cross-query sum (the corpus's
    fixed-point mean contract — ``queries.favg``'s shape), then
    divides twice (scale, count) in a pinned order."""
    n = F.count(F.lit(1))

    def _favg(col):
        s = F.sum(F.floor(F.col(col) * F.lit(float(scale)) + F.lit(0.5)))
        return (s / F.lit(float(scale))) / n

    return per_query.agg(
        n.alias("n_queries"),
        _favg("recall").alias("recall_at_k"),
        _favg("rr").alias("mrr"),
        _favg("ap").alias("map"),
        _favg("ndcg").alias("ndcg_at_k"),
    )


# ---------------------------------------- pseudo-relevance feedback


def prf_expand(
    docs: DataFrame,
    ranking: DataFrame,
    n_terms: int = 5,
    exclude: list[str] | None = None,
    id_col: str = "doc_id",
    text_col: str = "text",
    score_col: str = "score",
    scale: int | None = None,
    analyzer: str = "keep",
) -> DataFrame:
    """RM1-style pseudo-relevance feedback (Lavrenko & Croft 2001):
    mine EXPANSION terms from the top-ranked documents of a first-pass
    retrieval — the classic recall lever when the user's terms
    under-describe the need.  Each candidate term is weighted by its
    relevance-model mass over the feedback docs::

        weight(t) = sum over fb docs d of  (tf(t,d) / dl(d)) * score(d)

    ``ranking``: a scorer's output carrying ``(id_col, score_col)`` —
    typically :func:`bm25_topk`'s top-k, which makes this
    self-composing: expand, union with the original terms, score
    again (see ``queries.q119``).  Returns the top ``n_terms``
    candidates as ``(term, weight)``, ranked ``(weight desc, term)``;
    ``exclude`` (usually the original query terms) are filtered out.

    Scale posture: the feedback set is k rows BY CONSTRUCTION — the
    ranking broadcasts into a semi-join against the documents table
    (an id point-lookup; pair with ``scale.file_stats``/Z-order
    clustering to prune that scan's files at 100 TB), and only those
    k documents are tokenized: the term weighting runs over k·avgdl
    rows however large the corpus.  The index is never scanned
    doc-major — this is why the operator reads the documents table
    instead of inverting the term-bucketed postings.

    ``scale`` — fixed-point mode for the graded-oracle contract: each
    doc's contribution ``floor((tf/dl)*score*scale + 0.5)`` is an
    exact integer before the cross-doc sum (``tf/dl`` then ``*score``
    are two correctly-rounded IEEE ops, identical on any engine), and
    ``weight`` is the exact integer sum divided once by ``scale``.

    ``analyzer`` — MUST be the mode the index being expanded against
    was built with (the same-analyzer contract): feedback tokens are
    mined through the same normalization, so the returned expansion
    terms are ANALYZED terms that actually exist as postings in the
    second-pass index — raw mixed-case/punctuated mined terms
    (``"Spark,"``) against a ``'simple'`` index would match zero
    postings and silently degrade the loop to the original query."""
    fb = ranking.select(F.col(id_col), F.col(score_col).alias("_s"))
    t = _analyze(_tokens(text_col), analyzer)
    hits = docs.join(F.broadcast(fb), id_col).where(
        F.col(text_col).isNotNull() & (F.trim(F.col(text_col)) != "")
    )
    exploded = hits.select(
        F.col(id_col),
        F.col("_s"),
        F.size(t).alias("_dl"),
        F.explode(t).alias("term"),
    )
    per_doc = exploded.groupBy(id_col, "term").agg(
        F.count(F.lit(1)).alias("_tf"),
        F.first("_dl").alias("_dl"),
        F.first("_s").alias("_s"),
    )
    contrib = (
        F.col("_tf").cast("double") / F.col("_dl").cast("double")
    ) * F.col("_s")
    if scale is not None:
        part = F.floor(contrib * F.lit(float(scale)) + F.lit(0.5))
        weight = (F.sum(part) / F.lit(float(scale))).alias("weight")
    else:
        weight = F.sum(contrib).alias("weight")
    w = per_doc.groupBy("term").agg(weight)
    if exclude:
        w = w.where(~F.col("term").isin(list(exclude)))
    return w.orderBy(F.desc("weight"), "term").limit(int(n_terms))


# --------------------------------------------------- snippet hydration


def snippets(
    docs: DataFrame,
    matches: DataFrame,
    width: int = 3,
    match_len: int = 1,
    id_col: str = "doc_id",
    text_col: str = "text",
    pos_col: str = "first_pos",
    analyzer: str = "keep",
) -> DataFrame:
    """Keyword-in-context snippet hydration — the display step of a
    search stack: for each match row ``(id, pos)`` (1-based token
    offset, e.g. :func:`phrase_search`'s ``first_pos``), return the
    surrounding token window as a string::

        tokens[max(1, pos - width) .. min(dl, pos + match_len-1 + width)]

    ``match_len`` is the match's token length (2 for the phrase
    "spark window") so the window covers the whole match, not just
    its anchor.  Returns ``(id, pos, snippet_start, snippet)``.

    ``analyzer`` — MUST be the mode the index that produced the
    positions was built with (the same-analyzer contract,
    :func:`inverted_index`): positions refer to the ANALYZED token
    stream, and under ``'simple'`` a token that strips to nothing
    (a standalone ``"..."``) is dropped from that stream — slicing
    the raw stream there would shift every later window off its
    match.  The snippet is therefore rendered from the analyzed
    tokens (what the index matched is what the user sees
    highlighted-in-context).

    Scale posture: the hydration join is the tier's standing rule —
    text is touched only AFTER matching, k rows at a time when the
    caller bounds its matches (a top-k, a ranked page).  The match
    frame carries NO broadcast hint: :func:`phrase_search` returns one
    row per matching document with no k bound, and a common phrase on
    a web corpus matches a corpus-scale fraction of docs — a pinned
    broadcast would OOM exactly there, so AQE picks the join strategy
    from measured sizes (the same regime as ``text.collocations``;
    pair with ``scale.file_stats`` pruning / Z-order clustering for
    the point lookup at 100 TB).  The slice/join are pure JVM
    expressions."""
    m = matches.select(F.col(id_col), F.col(pos_col))
    t = _analyze(_tokens(text_col), analyzer)
    hits = docs.where(
        F.col(text_col).isNotNull() & (F.trim(F.col(text_col)) != "")
    ).join(m, id_col)
    start = F.greatest(F.lit(1), F.col(pos_col) - F.lit(int(width)))
    toks = t.alias("_t")
    hits = hits.select(F.col(id_col), F.col(pos_col), toks)
    end = F.least(
        F.size("_t"),
        F.col(pos_col) + F.lit(int(match_len) - 1 + int(width)),
    )
    # an out-of-range position (pos > dl — not producible by
    # phrase_search, but callers can hand-build matches) clamps to an
    # empty snippet instead of erroring on a negative slice length
    length = F.greatest(F.lit(0), end - start + 1)
    snip = F.array_join(F.slice("_t", start, length), " ")
    return hits.select(
        F.col(id_col),
        F.col(pos_col),
        start.cast("int").alias("snippet_start"),
        snip.alias("snippet"),
    )


def eval_compare(
    per_q_a: DataFrame,
    per_q_b: DataFrame,
    metric: str = "ndcg",
    q_id_col: str = "q_id",
    scale: int = 10**6,
) -> DataFrame:
    """Paired comparison of two systems from their
    :func:`retrieval_eval` outputs — the decision step of an IR
    ablation (does length normalization help? is hybrid fusion worth
    it?): one row ::

        (n_queries, a_mean, b_mean, mean_delta, wins, ties, losses)

    over the queries BOTH systems evaluated (inner join on
    ``q_id_col`` — a paired test compares like with like).  ``wins``
    counts queries where A's ``metric`` strictly exceeds B's at
    ``scale`` precision; the fixed-point comparison also makes the
    means and delta exact integer sums (the corpus mean contract), so
    the whole row is hash-stable.  Every frame is per-query-eval
    sized; no corpus data is touched."""
    a = per_q_a.select(F.col(q_id_col), F.col(metric).alias("_a"))
    b = per_q_b.select(F.col(q_id_col), F.col(metric).alias("_b"))
    j = a.join(b, q_id_col, "inner")
    afx = F.floor(F.col("_a") * F.lit(float(scale)) + F.lit(0.5))
    bfx = F.floor(F.col("_b") * F.lit(float(scale)) + F.lit(0.5))
    n = F.count(F.lit(1))
    return j.agg(
        n.alias("n_queries"),
        ((F.sum(afx) / F.lit(float(scale))) / n).alias("a_mean"),
        ((F.sum(bfx) / F.lit(float(scale))) / n).alias("b_mean"),
        ((F.sum(afx - bfx) / F.lit(float(scale))) / n).alias("mean_delta"),
        F.sum(F.when(afx > bfx, 1).otherwise(0)).alias("wins"),
        F.sum(F.when(afx == bfx, 1).otherwise(0)).alias("ties"),
        F.sum(F.when(afx < bfx, 1).otherwise(0)).alias("losses"),
    )
