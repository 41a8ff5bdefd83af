"""Lexical retrieval tier (operators/retrieval.py): positional
inverted index, phrase search, BM25 — pinned against pure-Python
reference implementations, plus the persisted-index partition-pruning
and no-Python plan contracts."""

import math
import os
import shutil
import tempfile
from collections import Counter

import pytest
from pyspark.sql import functions as F

from gcf_corima_parquet_converter_spark.operators import retrieval as R

DOCS = [
    (1, "the quick brown fox jumps over the lazy dog"),
    (2, "quick brown foxes are quick and brown"),
    (3, "the dog sleeps all day the dog dreams"),
    (4, "spark shuffles data across the cluster"),
    (5, "a quick brown fox met a quick brown fox"),
    (6, None),
    (7, "   "),
    (8, ""),
    (9, "single"),
]


def _py_tokens(text):
    return [t for t in text.strip().split() if t] if text and text.strip() else []


def _py_index(docs):
    """{(term, doc): (tf, [1-based positions], dl)}"""
    out = {}
    for did, text in docs:
        toks = _py_tokens(text)
        for i, t in enumerate(toks, start=1):
            tf, pos, _ = out.get((t, did), (0, [], len(toks)))
            out[(t, did)] = (tf + 1, pos + [i], len(toks))
    return out


def _py_bm25(docs, terms, k1=1.2, b=0.75, idf="robertson"):
    toks = {d: _py_tokens(t) for d, t in docs if _py_tokens(t)}
    n = len(toks)
    avgdl = sum(len(v) for v in toks.values()) / n
    scores = {}
    for term in set(terms):
        df = sum(1 for v in toks.values() if term in v)
        if df == 0:
            continue
        ratio = (n - df + 0.5) / (df + 0.5)
        w = math.log(1.0 + ratio) if idf == "robertson" else 1.0 + ratio
        for d, v in toks.items():
            tf = Counter(v)[term]
            if tf:
                scores[d] = scores.get(d, 0.0) + w * (
                    tf * (k1 + 1) / (tf + k1 * (1 - b + b * len(v) / avgdl))
                )
    return scores


@pytest.fixture(scope="module")
def docs_df(spark):
    return spark.createDataFrame(DOCS, "doc_id long, text string")


@pytest.fixture(scope="module")
def idx(docs_df):
    return R.inverted_index(docs_df).cache()


def test_inverted_index_matches_python_model(idx):
    got = {
        (r["term"], r["doc_id"]): (r["tf"], r["positions"], r["dl"])
        for r in idx.collect()
    }
    assert got == _py_index(DOCS)
    # null / blank / empty docs carry no postings at all
    assert not any(d in (6, 7, 8) for _, d in got)


def test_index_stats_counts_indexed_docs_only(idx):
    row = R.index_stats(idx).first()
    lens = [len(_py_tokens(t)) for _, t in DOCS if _py_tokens(t)]
    assert row["n_docs"] == len(lens)
    assert row["avgdl"] == sum(lens) / len(lens)


def test_phrase_search_counts_and_positions(idx):
    # "quick brown" occurs: doc1 @2, doc2 @1, doc5 @(2, 7)
    got = {
        r["doc_id"]: (r["n_matches"], r["first_pos"])
        for r in R.phrase_search(idx, "quick brown").collect()
    }
    assert got == {1: (1, 2), 2: (1, 1), 5: (2, 2)}
    # 3-term phrase
    got3 = {
        r["doc_id"]: (r["n_matches"], r["first_pos"])
        for r in R.phrase_search(idx, ["quick", "brown", "fox"]).collect()
    }
    assert got3 == {1: (1, 2), 5: (2, 2)}
    # repeated-word phrase: "the dog ... the dog" in doc 3
    gotd = {
        r["doc_id"]: (r["n_matches"], r["first_pos"])
        for r in R.phrase_search(idx, "the dog").collect()
    }
    assert gotd == {3: (2, 1)}
    # single-term phrase = term lookup
    got1 = {
        r["doc_id"]: (r["n_matches"], r["first_pos"])
        for r in R.phrase_search(idx, "single").collect()
    }
    assert got1 == {9: (1, 1)}
    # absent phrase -> empty
    assert R.phrase_search(idx, "lazy fox").count() == 0
    with pytest.raises(ValueError, match="at least one term"):
        R.phrase_search(idx, [])


def test_phrase_search_overlapping_matches(spark):
    d = spark.createDataFrame([(1, "x x x x")], "doc_id long, text string")
    got = R.phrase_search(R.inverted_index(d), "x x").collect()
    assert [(r["n_matches"], r["first_pos"]) for r in got] == [(3, 1)]


def test_bm25_robertson_matches_python(idx):
    terms = ["quick", "dog", "spark"]
    want = _py_bm25(DOCS, terms)
    got = {
        r["doc_id"]: r["score"]
        for r in R.bm25_topk(idx, terms, k=100).collect()
    }
    assert set(got) == set(want)
    for d in want:
        assert got[d] == pytest.approx(want[d], abs=1e-9), d
    # ranks: score desc, doc_id tiebreak
    ranked = sorted(want.items(), key=lambda kv: (-kv[1], kv[0]))
    got_rank = {
        r["doc_id"]: r["rank"]
        for r in R.bm25_topk(idx, terms, k=100).collect()
    }
    for i, (d, _) in enumerate(ranked, start=1):
        assert got_rank[d] == i


def test_bm25_rational_scale_is_exact_and_batch_matches_single(spark, idx):
    terms = ["quick", "dog"]
    single = [
        (r["rank"], r["doc_id"], r["score"])
        for r in R.bm25_topk(
            idx, terms, k=5, idf="rational", scale=1_000_000
        ).orderBy("rank").collect()
    ]
    qs = spark.createDataFrame(
        [(9, terms)], "q_id long, terms array<string>"
    )
    batch = [
        (r["rank"], r["doc_id"], r["score"])
        for r in R.bm25_topk_batch(
            idx, qs, k=5, idf="rational", scale=1_000_000
        ).orderBy("rank").collect()
    ]
    assert single == batch
    # fixed-point scores are exact multiples of 1/scale
    for _, _, s in single:
        assert s == round(s * 1_000_000) / 1_000_000
    # repeated query terms count once (set semantics)
    dup = [
        (r["rank"], r["doc_id"], r["score"])
        for r in R.bm25_topk(
            idx, ["quick", "quick", "dog"], k=5, idf="rational",
            scale=1_000_000,
        ).orderBy("rank").collect()
    ]
    assert dup == single


def test_bm25_unknown_term_and_bad_idf(idx):
    # a term absent from the corpus contributes nothing; all-absent -> empty
    base = {
        r["doc_id"]: r["score"]
        for r in R.bm25_topk(idx, ["quick"], k=100).collect()
    }
    plus = {
        r["doc_id"]: r["score"]
        for r in R.bm25_topk(idx, ["quick", "zzz_absent"], k=100).collect()
    }
    assert plus == base
    assert R.bm25_topk(idx, ["zzz_absent"], k=5).count() == 0
    with pytest.raises(ValueError, match="idf must be"):
        R.bm25_topk(idx, ["quick"], idf="nope").collect()


def test_persisted_index_prunes_partitions_and_matches(spark, idx):
    d = tempfile.mkdtemp()
    try:
        info = R.write_inverted_index(idx, d, n_buckets=16)
        assert info["n_docs"] == R.index_stats(idx).first()["n_docs"]
        post, stats = R.read_index_artifact(spark, d)
        assert post.count() == idx.count()
        # term-bounded load: static tbucket partition filters + term
        # pushdown reach the scan
        pruned, pruned_stats = R.load_postings_artifact(
            spark, d, ["quick", "dog"]
        )
        assert [tuple(r) for r in pruned_stats.collect()] == [
            tuple(r) for r in stats.collect()
        ]
        # the at-scale footgun (stats silently derived from a pruned
        # sliver) is refused, not mis-scored
        with pytest.raises(ValueError, match="term-pruned"):
            R.bm25_topk(pruned, ["quick", "dog"], k=5)
        plan = pruned._jdf.queryExecution().executedPlan().toString()
        assert "PartitionFilters: [tbucket" in plan.replace("#", "#")
        assert "In(term" in plan
        want_buckets = sorted(
            {R._term_bucket_py(t, 16) for t in ("quick", "dog")}
        )
        for b in want_buckets:
            assert str(b) in plan.split("PartitionFilters")[1][:120]
        # scoring over the pruned postings + persisted stats equals the
        # in-memory path exactly
        mem = [
            tuple(r)
            for r in R.bm25_topk(
                idx, ["quick", "dog"], k=5, idf="rational", scale=10**6
            ).orderBy("rank").collect()
        ]
        per = [
            tuple(r)
            for r in R.bm25_topk(
                pruned, ["quick", "dog"], k=5, idf="rational",
                scale=10**6, stats=stats,
            ).orderBy("rank").collect()
        ]
        assert mem == per
        # md5 bucket kernel: Spark and Python agree on every term
        spark_b = {
            r["term"]: r["b"]
            for r in idx.select(
                "term", R._term_bucket_col(16).alias("b")
            ).distinct().collect()
        }
        assert spark_b == {
            t: R._term_bucket_py(t, 16) for t in spark_b
        }
        with pytest.raises(ValueError, match="non-empty"):
            R.load_postings_artifact(spark, d, [])
    finally:
        shutil.rmtree(d, ignore_errors=True)


def test_retrieval_plans_stay_jvm(idx, spark):
    # no Python stages anywhere in the tier (index build, phrase, bm25)
    for df in (
        idx,
        R.phrase_search(idx, "quick brown"),
        R.bm25_topk(idx, ["quick", "dog"], k=5),
    ):
        plan = df._jdf.queryExecution().executedPlan().toString()
        for marker in ("BatchEvalPython", "ArrowEvalPython", "InPandas"):
            assert marker not in plan
        assert "CartesianProduct" not in plan


# ----------------------------------- incremental index (manifest epochs)


def _batch(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_index_append_read_equals_oneshot(spark, tmp_path):
    """Two disjoint epochs read back as exactly the one-shot index of
    their union — postings rows, stats, and BM25 results all equal."""
    root = str(tmp_path / "inc_idx")
    day1 = DOCS[:5]
    day2 = [(10, "brown dog fox quick"), (11, "spark quick spark")]
    R.index_append(R.inverted_index(_batch(spark, day1)), root, 0, n_buckets=8)
    R.index_append(R.inverted_index(_batch(spark, day2)), root, 1)
    post, stats = R.read_index_artifact(spark, root)
    oneshot = R.inverted_index(_batch(spark, day1 + day2))
    got = {
        (r["term"], r["doc_id"]): (r["tf"], r["positions"], r["dl"])
        for r in post.collect()
    }
    want = {
        (r["term"], r["doc_id"]): (r["tf"], r["positions"], r["dl"])
        for r in oneshot.collect()
    }
    assert got == want
    srow, orow = stats.first(), R.index_stats(oneshot).first()
    assert (srow["n_docs"], srow["avgdl"]) == (orow["n_docs"], orow["avgdl"])
    art = [
        tuple(r)
        for r in R.bm25_topk(
            post, ["quick", "spark"], k=5, idf="rational", scale=10**6,
            stats=stats,
        ).orderBy("rank").collect()
    ]
    mem = [
        tuple(r)
        for r in R.bm25_topk(
            oneshot, ["quick", "spark"], k=5, idf="rational", scale=10**6
        ).orderBy("rank").collect()
    ]
    assert art == mem


def test_index_pending_deletes_overlay_and_compaction(spark, tmp_path):
    """A purged doc disappears logically via the overlay (postings AND
    stats), physically at compaction with delete_ids; appends continue
    through the compaction and a post-compaction epoch is served."""
    root = str(tmp_path / "inc_del")
    R.index_append(
        R.inverted_index(_batch(spark, DOCS[:5])), root, 0, n_buckets=8
    )
    dels = spark.createDataFrame([(2,)], "doc_id long")
    post, stats = R.read_index_artifact(spark, root, pending_deletes=dels)
    assert post.where(F.col("doc_id") == 2).count() == 0
    srow = stats.first()
    lens = {d: len(_py_tokens(t)) for d, t in DOCS[:5] if _py_tokens(t)}
    want_n = len(lens) - 1
    want_avg = (sum(lens.values()) - lens[2]) / want_n
    assert (srow["n_docs"], srow["avgdl"]) == (want_n, want_avg)
    # pruned loader: same overlay semantics even when the deleted doc's
    # postings are OUTSIDE the pruned term set ('spark' is only in doc 4;
    # deleted doc 2 has no 'spark' posting, yet stats must still shrink)
    dels4 = spark.createDataFrame([(1,)], "doc_id long")
    ppost, pstats = R.load_postings_artifact(
        spark, root, ["spark"], pending_deletes=dels4
    )
    assert {r["doc_id"] for r in ppost.collect()} == {4}
    prow = pstats.first()
    assert prow["n_docs"] == len(lens) - 1
    assert prow["avgdl"] == (sum(lens.values()) - lens[1]) / (len(lens) - 1)
    # merge-on-compact deletion: physical rows die, stats rebuilt exact
    res = R.index_compact(spark, root, delete_ids=dels)
    assert res["version"] == 1 and res["epochs_folded"] == 1
    post2, stats2 = R.read_index_artifact(spark, root)
    assert post2.where(F.col("doc_id") == 2).count() == 0
    s2 = stats2.first()
    assert (s2["n_docs"], s2["avgdl"]) == (want_n, want_avg)
    # re-ingest after purge: doc 2's text returns under a new epoch and
    # is novel again (no ghost suppression anywhere in this tier)
    R.index_append(R.inverted_index(_batch(spark, [DOCS[1]])), root, 2)
    post3, stats3 = R.read_index_artifact(spark, root)
    assert post3.where(F.col("doc_id") == 2).count() > 0
    assert stats3.first()["n_docs"] == len(lens)
    # pruned load serves base + live epoch through one manifest read
    p3, _ = R.load_postings_artifact(spark, root, ["quick"])
    assert {r["doc_id"] for r in p3.collect()} == {1, 2, 5}


def test_index_compact_concurrent_append_stats_consistent(spark, tmp_path):
    """The r13 drift window closed: an epoch appended BETWEEN the
    postings compaction and the stats compaction is counted exactly
    once.  The stats rebuild reads the postings base the compaction
    COMMITTED (pinned manifest — not a re-resolved view the racing
    append could have grown), and the stats fold is align_manifest-
    pinned to that commit, so the racer stays LIVE in both artifacts."""
    root = str(tmp_path / "inc_race")
    R.index_append(
        R.inverted_index(_batch(spark, DOCS[:5])), root, 0, n_buckets=8
    )
    day2 = [(30, "late epoch lands mid compaction"), (31, "quick spark")]

    def _mid():
        R.index_append(R.inverted_index(_batch(spark, day2)), root, 1)

    R.index_compact(spark, root, _between_hook=_mid)
    lens = {d: len(_py_tokens(t)) for d, t in DOCS[:5] if _py_tokens(t)}
    lens.update({30: 5, 31: 2})
    post, stats = R.read_index_artifact(spark, root)
    srow = stats.first()
    assert srow["n_docs"] == len(lens)  # racer counted ONCE, not 0 or 2x
    assert srow["avgdl"] == sum(lens.values()) / len(lens)
    assert {
        r["doc_id"] for r in post.select("doc_id").distinct().collect()
    } == set(lens)
    # the next compaction folds the straggler; totals unchanged
    R.index_compact(spark, root)
    s2 = R.read_index_artifact(spark, root)[1].first()
    assert (s2["n_docs"], s2["avgdl"]) == (srow["n_docs"], srow["avgdl"])


def test_index_append_pins_n_buckets(spark, tmp_path):
    root = str(tmp_path / "inc_pin")
    idx = R.inverted_index(_batch(spark, DOCS[:3]))
    R.index_append(idx, root, 0, n_buckets=4)
    # a later mismatched n_buckets is ignored: the manifest's value wins
    R.index_append(R.inverted_index(_batch(spark, [(20, "new doc")])), root, 1,
                   n_buckets=999)
    post, _ = R.read_index_artifact(spark, root)
    spark_b = post.select(
        "term", R._term_bucket_col(4).alias("b")
    ).distinct()
    # every persisted row sits in the bucket the PINNED config assigns
    raw = spark.read.parquet(f"{root}/postings/epochs")
    got = {(r["term"], r["tbucket"]) for r in raw.select("term", "tbucket").collect()}
    want = {(r["term"], r["b"]) for r in spark_b.collect()}
    assert got == want


# --------------------------------------------------------- RRF fusion


def test_rrf_fuse_matches_python_model(spark):
    """Fused ranks/scores equal the Python RRF over two hand-made
    rankings, including docs present in only one list."""
    bm = spark.createDataFrame(
        [(10, 1), (11, 2), (12, 3), (13, 4)], "doc_id long, rank int"
    )
    cos = spark.createDataFrame(
        [(12, 1), (10, 2), (99, 3)], "doc_id long, rank int"
    )
    got = {
        r["doc_id"]: (r["rank"], r["rrf_score"], r["n_sources"])
        for r in R.rrf_fuse([bm, cos], k=60, topk=10).collect()
    }
    want_scores = {}
    for ranking in ([(10, 1), (11, 2), (12, 3), (13, 4)],
                    [(12, 1), (10, 2), (99, 3)]):
        for d, rk in ranking:
            want_scores[d] = want_scores.get(d, 0.0) + 1.0 / (60 + rk)
    order = sorted(want_scores.items(), key=lambda kv: (-kv[1], kv[0]))
    for i, (d, s) in enumerate(order, start=1):
        rk, score, ns = got[d]
        assert rk == i, d
        assert score == pytest.approx(s, rel=1e-15)
    assert got[10][2] == 2 and got[99][2] == 1
    # doc in both lists outranks single-list docs with better single
    # ranks here: 12 (ranks 3+1) beats 11 (rank 2 only)
    assert got[12][0] < got[11][0]
    # fixed-point mode: scores exact multiples of 1/scale, same order
    fxd = [
        (r["rank"], r["doc_id"])
        for r in R.rrf_fuse([bm, cos], k=60, topk=10, scale=10**9).collect()
    ]
    assert fxd == [(got[d][0], d) for d, _ in order]
    with pytest.raises(ValueError, match="non-empty"):
        R.rrf_fuse([])


def test_rrf_fuse_topk_and_single_ranking(spark):
    one = spark.createDataFrame(
        [(i, i) for i in range(1, 8)], "doc_id long, rank int"
    )
    got = R.rrf_fuse([one], topk=3).collect()
    assert [(r["rank"], r["doc_id"]) for r in sorted(got, key=lambda r: r["rank"])] == [
        (1, 1), (2, 2), (3, 3)
    ]


def test_index_artifact_prunes_both_branches(spark, tmp_path):
    """The manifest reader's base ∪ live-epochs union must partition-
    prune on tbucket in BOTH branches — a pruned term lookup reads only
    its buckets from the compacted base AND from epochs appended after
    the compaction."""
    root = str(tmp_path / "prune2")
    R.index_append(R.inverted_index(_batch(spark, DOCS[:5])), root, 0,
                   n_buckets=8)
    R.index_compact(spark, root)  # epoch 0 -> base/v1
    R.index_append(
        R.inverted_index(_batch(spark, [(30, "quick spark post epoch")])),
        root, 1,
    )
    post, _ = R.load_postings_artifact(spark, root, ["quick"])
    # rows come from base (docs 1/2/5) AND the live epoch (doc 30)
    assert {r["doc_id"] for r in post.collect()} == {1, 2, 5, 30}
    plan = post._jdf.queryExecution().executedPlan().toString()
    import re

    pfs = re.findall(r"PartitionFilters: \[[^\]]*tbucket[^\]]*\]", plan)
    assert len(pfs) == 2, plan  # one pruned scan per union branch
    b = R._term_bucket_py("quick", 8)
    for pf in pfs:
        assert str(b) in pf, pf
    # term pushdown on both scans too (single term plans as EqualTo)
    assert (plan.count("In(term") + plan.count("EqualTo(term,quick)")) == 2


# --------------------------------------------------- retrieval evaluation


def _py_eval(results, qrels, k=10, scale=10**9):
    """{q_id: (n_rel, n_hits, first_rel_rank, recall, rr, ap, ndcg)} —
    same fixed-point discount table / precision terms as the operator."""
    disc = R.ndcg_discounts_fx(k, scale)
    rel = {}
    for q, d, r in qrels:
        if r >= 1:
            rel.setdefault(q, {})[d] = r
    out = {}
    for q, judged in rel.items():
        ranked = sorted(
            [(rk, d) for (qq, d, rk) in results if qq == q and rk <= k]
        )
        hits = [(rk, d) for rk, d in ranked if d in judged]
        dcg = sum(((1 << judged[d]) - 1) * disc[rk - 1] for rk, d in hits)
        ideal = sorted(judged.items(), key=lambda kv: (-kv[1], kv[0]))[:k]
        idcg = sum(
            ((1 << r) - 1) * disc[i] for i, (_, r) in enumerate(ideal)
        )
        first = min((rk for rk, _ in hits), default=None)
        hit_ranks = {rk for rk, _ in hits}
        ap_fx, cum = 0, 0
        for rk, _ in ranked:
            if rk in hit_ranks:
                cum += 1
                ap_fx += math.floor(cum * float(scale) / rk + 0.5)
        out[q] = (
            len(judged),
            len(hits),
            first,
            len(hits) / len(judged),
            (1.0 / first) if first else 0.0,
            ap_fx / float(scale) / len(judged),
            dcg / idcg,
        )
    return out


def test_retrieval_eval_matches_python_model(spark):
    results = [
        # q1: hits at ranks 1 and 3 (graded rels 2 and 1)
        (1, 10, 1), (1, 11, 2), (1, 12, 3), (1, 13, 4),
        # q2: relevant docs exist but none retrieved
        (2, 20, 1), (2, 21, 2),
        # q4: retrieved but NO judgments -> dropped from the output
        (4, 40, 1),
        # q1 rank beyond k must be ignored
        (1, 14, 99),
    ]
    qrels = [
        (1, 10, 2), (1, 12, 1), (1, 99, 3),   # 99 never retrieved
        (2, 55, 1),
        (3, 30, 1),                            # q3 absent from results
        (1, 13, 0),                            # rel=0: not relevant
    ]
    res_df = spark.createDataFrame(
        results, "q_id long, doc_id long, rank int"
    )
    qrel_df = spark.createDataFrame(qrels, "q_id long, doc_id long, rel int")
    got = {
        r["q_id"]: (
            r["n_rel"], r["n_hits"], r["first_rel_rank"],
            r["recall"], r["rr"], r["ap"], r["ndcg"],
        )
        for r in R.retrieval_eval(res_df, qrel_df, k=10).collect()
    }
    want = _py_eval(results, qrels, k=10)
    assert got == want  # exact, including the ap/ndcg doubles
    assert set(got) == {1, 2, 3}  # q4 dropped, q3 evaluated at zero
    assert got[2] == (1, 0, None, 0.0, 0.0, 0.0, 0.0)
    assert got[3] == (1, 0, None, 0.0, 0.0, 0.0, 0.0)
    # q1 sanity: rank-99 hit ignored, rel=0 judgment not counted
    assert got[1][0] == 3 and got[1][1] == 2 and got[1][2] == 1

    # summary means are the fixed-point favg of the per-query rows
    s = R.retrieval_eval_summary(
        R.retrieval_eval(res_df, qrel_df, k=10)
    ).first()
    assert s["n_queries"] == 3

    def favg(vals, scale=10**6):
        import math
        return sum(
            math.floor(v * scale + 0.5) for v in vals
        ) / scale / len(vals)

    assert s["recall_at_k"] == favg([v[3] for v in want.values()])
    assert s["mrr"] == favg([v[4] for v in want.values()])
    assert s["map"] == favg([v[5] for v in want.values()])
    assert s["ndcg_at_k"] == favg([v[6] for v in want.values()])


def test_retrieval_eval_k_cutoff_and_perfect_ranking(spark):
    # a perfect ranking scores ndcg == 1.0 exactly; k cuts both the
    # retrieved list and the ideal list
    qrels = [(1, d, r) for d, r in ((10, 3), (11, 2), (12, 1))]
    perfect = [(1, 10, 1), (1, 11, 2), (1, 12, 3)]
    res_df = spark.createDataFrame(perfect, "q_id long, doc_id long, rank int")
    qrel_df = spark.createDataFrame(qrels, "q_id long, doc_id long, rel int")
    row = R.retrieval_eval(res_df, qrel_df, k=3).first()
    assert row["ndcg"] == 1.0 and row["recall"] == 1.0 and row["rr"] == 1.0
    assert row["ap"] == 1.0  # every prefix of a perfect ranking is pure
    # k=1: only the top hit counts; ideal also truncates to 1
    row1 = R.retrieval_eval(res_df, qrel_df, k=1).first()
    assert row1["n_hits"] == 1 and row1["ndcg"] == 1.0
    assert row1["recall"] == 1.0 / 3.0


def test_retrieval_eval_plan_is_jvm_and_bounded(spark):
    res_df = spark.createDataFrame(
        [(1, 10, 1)], "q_id long, doc_id long, rank int"
    )
    qrel_df = spark.createDataFrame(
        [(1, 10, 1)], "q_id long, doc_id long, rel int"
    )
    plan = (
        R.retrieval_eval(res_df, qrel_df, k=5)
        ._jdf.queryExecution().executedPlan().toString()
    )
    for marker in ("BatchEvalPython", "ArrowEvalPython", "InPandas",
                   "CartesianProduct"):
        assert marker not in plan


# ------------------------------------------- pseudo-relevance feedback


def _py_prf(docs, ranking, n_terms, exclude=(), scale=None):
    """{rank order list of (term, weight)} — RM1 weights over fb docs."""
    scores = dict(ranking)
    agg = {}
    for did, text in docs:
        if did not in scores or not _py_tokens(text):
            continue
        toks = _py_tokens(text)
        dl, s = len(toks), scores[did]
        for term, tf in Counter(toks).items():
            c = (tf / dl) * s
            if scale is not None:
                c = math.floor(c * scale + 0.5)
            agg[term] = agg.get(term, 0) + c
    if scale is not None:
        agg = {t: v / scale for t, v in agg.items()}
    items = [(t, w) for t, w in agg.items() if t not in set(exclude)]
    items.sort(key=lambda kv: (-kv[1], kv[0]))
    return items[:n_terms]


def test_prf_expand_matches_python_model(spark, docs_df, idx):
    ranking = R.bm25_topk(
        idx, ["quick", "brown"], k=3, idf="rational", scale=10**6
    )
    fb = [(r["doc_id"], r["score"]) for r in ranking.collect()]
    got = [
        (r["term"], r["weight"])
        for r in R.prf_expand(
            docs_df, ranking, n_terms=4, exclude=["quick", "brown"],
            scale=10**6,
        ).collect()
    ]
    want = _py_prf(DOCS, fb, 4, exclude=("quick", "brown"), scale=10**6)
    assert got == want
    # original terms really are excluded; expansion is non-empty here
    assert got and all(t not in ("quick", "brown") for t, _ in got)


def test_prf_expand_full_loop_changes_ranking(spark, docs_df, idx):
    # the classic feedback loop: first-pass -> expand -> re-score with
    # the union; the expanded query must retrieve a doc the original
    # missed (doc 3 shares no original term but shares 'dog'/'the'
    # with the feedback set)
    first = R.bm25_topk(idx, ["jumps"], k=2, idf="rational", scale=10**6)
    exp = R.prf_expand(docs_df, first, n_terms=3, exclude=["jumps"],
                       scale=10**6)
    terms = ["jumps"] + [r["term"] for r in exp.collect()]
    second = R.bm25_topk(idx, terms, k=10, idf="rational", scale=10**6)
    first_ids = {r["doc_id"] for r in first.collect()}
    second_ids = {r["doc_id"] for r in second.collect()}
    assert second_ids > first_ids  # strictly more docs reachable
    # plan stays JVM (no Python stage in the whole loop)
    plan = (
        R.prf_expand(docs_df, first, n_terms=3)
        ._jdf.queryExecution().executedPlan().toString()
    )
    for marker in ("BatchEvalPython", "ArrowEvalPython", "InPandas",
                   "CartesianProduct"):
        assert marker not in plan


# -------------------------------------------------- snippet hydration


def test_snippets_match_python_model(spark, docs_df, idx):
    m = R.phrase_search(idx, "quick brown")
    got = {
        r["doc_id"]: (r["first_pos"], r["snippet_start"], r["snippet"])
        for r in R.snippets(
            docs_df, m, width=1, match_len=2
        ).collect()
    }
    want = {}
    first = {1: 2, 2: 1, 5: 2}  # from test_phrase_search fixtures
    for did, text in DOCS:
        if did not in first:
            continue
        toks = _py_tokens(text)
        pos = first[did]
        a = max(1, pos - 1)
        b = min(len(toks), pos + 1 + 1)
        want[did] = (pos, a, " ".join(toks[a - 1:b]))
    assert got == want
    # left-edge match (doc 2 @1) keeps start=1; right-edge clamps
    assert got[2][1] == 1
    wide = {
        r["doc_id"]: r["snippet"]
        for r in R.snippets(docs_df, m, width=100, match_len=2).collect()
    }
    for did in (1, 2, 5):
        toks = _py_tokens(dict(DOCS)[did])
        assert wide[did] == " ".join(toks)  # whole doc when width >> dl
    # plan: pure JVM, and only matched docs tokenize (broadcast join)
    plan = (
        R.snippets(docs_df, m, width=2, match_len=2)
        ._jdf.queryExecution().executedPlan().toString()
    )
    for marker in ("BatchEvalPython", "ArrowEvalPython", "InPandas",
                   "CartesianProduct"):
        assert marker not in plan
    assert "BroadcastHashJoin" in plan


def test_eval_compare_matches_python_model(spark):
    a = spark.createDataFrame(
        [(1, 0.9), (2, 0.5), (3, 0.7), (4, 0.25)],
        "q_id long, ndcg double",
    )
    # q4 absent from B: paired comparison drops it (inner join)
    b = spark.createDataFrame(
        [(1, 0.8), (2, 0.5), (3, 0.9)], "q_id long, ndcg double"
    )
    row = R.eval_compare(a, b, metric="ndcg").first()
    fx = lambda x: math.floor(x * 1e6 + 0.5)
    avals, bvals = [0.9, 0.5, 0.7], [0.8, 0.5, 0.9]
    assert row["n_queries"] == 3
    assert row["a_mean"] == sum(map(fx, avals)) / 1e6 / 3
    assert row["b_mean"] == sum(map(fx, bvals)) / 1e6 / 3
    assert row["mean_delta"] == sum(
        fx(x) - fx(y) for x, y in zip(avals, bvals)
    ) / 1e6 / 3
    assert (row["wins"], row["ties"], row["losses"]) == (1, 1, 1)
    # a full-loop smoke: comparing a system against itself is all ties
    same = R.eval_compare(a, a).first()
    assert (same["wins"], same["losses"]) == (0, 0)
    assert same["ties"] == 4 and same["mean_delta"] == 0.0


def test_retrieval_eval_high_grades_use_long_shift(spark):
    # rel > 31 must not wrap (Java int shifts mask the count at &31):
    # gains run in LONG, exact to rel = 62 — pinned vs the Python model
    results = [(1, 10, 1), (1, 11, 2)]
    qrels = [(1, 10, 5), (1, 11, 33)]
    res_df = spark.createDataFrame(results, "q_id long, doc_id long, rank int")
    qrel_df = spark.createDataFrame(qrels, "q_id long, doc_id long, rel int")
    row = R.retrieval_eval(res_df, qrel_df, k=10).first()
    want = _py_eval(results, qrels, k=10)[1]
    assert (row["n_rel"], row["n_hits"]) == (want[0], want[1])
    assert row["ndcg"] == want[6]
    # sanity: the mis-ranked giant-gain doc drags ndcg far below 1
    assert row["ndcg"] < 0.7


def test_snippets_out_of_range_position_yields_empty(spark, docs_df):
    # hand-built matches can carry positions beyond the doc length;
    # the window clamps to an empty snippet instead of erroring
    m = spark.createDataFrame([(9, 50)], "doc_id long, first_pos int")
    row = R.snippets(docs_df, m, width=2, match_len=1).first()
    assert row["snippet"] == ""


# ------------------------------------------------------------ analyzers


def test_inverted_index_analyzers_and_query_twin(spark):
    docs = [
        (1, "Spark, spark! SPARK runs"),
        (2, "spark shines"),
        (3, "... ,,, !!!"),          # strips to nothing under 'simple'
        (4, "Café! visitors"),       # non-ASCII letter survives 'simple'
    ]
    d = spark.createDataFrame(docs, "doc_id long, text string")
    # keep: case-sensitive, punctuation attached (the raw default)
    keep = R.inverted_index(d)  # analyzer="keep"
    assert {r["term"] for r in keep.where(F.col("doc_id") == 1).collect()} \
        == {"Spark,", "spark!", "SPARK", "runs"}
    # lowercase: folds case, punctuation still attached
    low = R.inverted_index(d, analyzer="lowercase")
    assert {r["term"] for r in low.where(F.col("doc_id") == 1).collect()} \
        == {"spark,", "spark!", "spark", "runs"}
    # simple: case-fold + edge punctuation strip -> one 'spark' posting
    # with tf=3 and intact positions; the all-punct doc drops entirely
    simp = R.inverted_index(d, analyzer="simple")
    got = {
        (r["term"], r["doc_id"]): (r["tf"], r["positions"], r["dl"])
        for r in simp.collect()
    }
    assert got[("spark", 1)] == (3, [1, 2, 3], 4)
    assert got[("runs", 1)] == (1, [4], 4)
    assert got[("café", 4)] == (1, [1], 2)  # JVM strips the same class
    assert not any(d_ == 3 for _, d_ in got)
    # same-analyzer contract: the driver-side twin normalizes query
    # terms identically, so BM25 and phrase search line up
    assert R.analyze_terms(["Spark,", "RUNS"], "simple") == ["spark", "runs"]
    assert R.analyze_terms("..x..", "simple") == ["x"]
    # explicit ASCII punctuation class: non-ASCII letters survive and
    # interior punctuation is kept — and the JVM regex strips the SAME
    # characters (checked below via the indexed doc)
    assert R.analyze_terms(["Café!", "A-B"], "simple") == ["café", "a-b"]
    assert R.analyze_terms(["Mixed"], "lowercase") == ["mixed"]
    assert R.analyze_terms(["AsIs"], "keep") == ["AsIs"]
    hits = {
        r["doc_id"]
        for r in R.bm25_topk(
            simp, R.analyze_terms(["SPARK!"], "simple"), k=10
        ).collect()
    }
    assert hits == {1, 2}
    # phrase adjacency holds on the ANALYZED stream
    ph = {
        r["doc_id"]: (r["n_matches"], r["first_pos"])
        for r in R.phrase_search(
            simp, R.analyze_terms("SPARK runs", "simple")
        ).collect()
    }
    assert ph == {1: (1, 3)}
    with pytest.raises(ValueError, match="analyzer must be"):
        R.inverted_index(d, analyzer="stem")
    with pytest.raises(ValueError, match="analyzer must be"):
        R.analyze_terms(["x"], "stem")
    # persisted round-trip: the index stores ANALYZED terms, so pruned
    # loads bucket-hash the analyzed form — analyze_terms keeps the
    # driver-side md5 math aligned with what the partitions hold
    dpath = tempfile.mkdtemp()
    try:
        R.write_inverted_index(simp, dpath, n_buckets=8)
        post, stats = R.load_postings_artifact(
            spark, dpath, R.analyze_terms(["SPARK!", "Café,"], "simple")
        )
        assert {(r["term"], r["doc_id"]) for r in post.collect()} == {
            ("spark", 1), ("spark", 2), ("café", 4)
        }
    finally:
        shutil.rmtree(dpath, ignore_errors=True)


def test_snippets_match_frame_not_forced_broadcast(spark, docs_df, idx):
    """r14 verdict (scale-weak mark): the documented feeder
    ``phrase_search`` returns one row per matching DOCUMENT with no k
    bound — a common phrase on a web corpus matches a corpus-scale
    fraction of docs, so ``snippets`` must NOT pin the match frame
    with a broadcast hint (a hint overrides every size threshold and
    OOMs at exactly the scale the operator targets).  Modeled by the
    too-big-to-broadcast regime (threshold -1, AQE off so the static
    strategy shows): the hydration join must plan as a shuffle join.
    At small scale AQE still upgrades it to a broadcast at runtime
    from MEASURED sizes — behavior, not a hint, decides (the exact
    regime ``text.collocations`` got in r14)."""
    m = R.phrase_search(idx, "quick brown")
    conf = spark.conf
    old_thresh = conf.get("spark.sql.autoBroadcastJoinThreshold")
    old_aqe = conf.get("spark.sql.adaptive.enabled")
    try:
        conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        conf.set("spark.sql.adaptive.enabled", "false")
        plan = (
            R.snippets(docs_df, m, width=2, match_len=2)
            ._jdf.queryExecution().executedPlan().toString()
        )
    finally:
        conf.set("spark.sql.autoBroadcastJoinThreshold", old_thresh)
        conf.set("spark.sql.adaptive.enabled", old_aqe)
    assert "BroadcastHashJoin" not in plan
    assert (
        plan.count("SortMergeJoin") + plan.count("ShuffledHashJoin") >= 1
    )
    # results are identical under the forced-shuffle regime
    got = {
        r["doc_id"]
        for r in R.snippets(docs_df, m, width=2, match_len=2).collect()
    }
    assert got == {1, 2, 5}


def test_snippets_analyzer_slices_analyzed_stream(spark):
    """ADVICE r15 (medium): positions from a ``'simple'`` index refer
    to the ANALYZED token stream, where tokens that strip to nothing
    (a standalone ``'...'``) are DROPPED — slicing the raw stream
    there shifts every later window off its match.  ``snippets`` must
    slice the same-analyzer stream."""
    docs = [
        # raw tokens:      1    2    3       4      5    6
        # analyzed ('...' drops): the  quick brown  fox  runs
        (1, "the ... Quick! brown fox runs"),
        (2, "plain quick brown text"),
    ]
    d = spark.createDataFrame(docs, "doc_id long, text string")
    simp = R.inverted_index(d, analyzer="simple")
    m = R.phrase_search(simp, R.analyze_terms("Quick, BROWN", "simple"))
    first = {r["doc_id"]: r["first_pos"] for r in m.collect()}
    assert first == {1: 2, 2: 2}  # analyzed positions
    got = {
        r["doc_id"]: (r["snippet_start"], r["snippet"])
        for r in R.snippets(
            d, m, width=1, match_len=2, analyzer="simple"
        ).collect()
    }
    # doc 1 sliced on the analyzed stream: [the quick brown fox] —
    # the raw stream would have returned '... quick! brown' (shifted
    # across the dropped token and with punctuation intact)
    assert got[1] == (1, "the quick brown fox")
    assert got[2] == (1, "plain quick brown text")
    with pytest.raises(ValueError, match="analyzer must be"):
        R.snippets(d, m, analyzer="stem")


def test_prf_expand_analyzer_mines_analyzed_terms(spark):
    """ADVICE r15: against an analyzed index, expansion terms mined
    from RAW tokens ('Spark,') match zero postings and the feedback
    loop silently degrades — with ``analyzer=`` the mined terms are
    the index's own analyzed vocabulary."""
    docs = [
        (1, "Spark, shuffles DATA! across clusters"),
        (2, "spark data pipelines"),
        (3, "unrelated text entirely here"),
    ]
    d = spark.createDataFrame(docs, "doc_id long, text string")
    simp = R.inverted_index(d, analyzer="simple")
    first = R.bm25_topk(simp, R.analyze_terms(["Spark!"], "simple"), k=2)
    exp = R.prf_expand(
        d, first, n_terms=3, exclude=["spark"], analyzer="simple"
    )
    terms = [r["term"] for r in exp.collect()]
    assert terms  # mined something
    vocab = {r["term"] for r in simp.select("term").distinct().collect()}
    assert set(terms) <= vocab  # every mined term IS an indexed term
    assert "data" in terms  # 'DATA!'/'data' folded together
    # the expanded second pass actually scores the new terms
    second = R.bm25_topk(simp, ["spark"] + terms, k=3)
    assert second.count() >= first.count()


def test_pruned_marker_is_structural(spark, idx):
    """r14 verdict minor / ADVICE r15: the pruned-postings guard must
    survive transformations — the r14 Python attribute dropped off
    the first ``where``/``select``/``cache``, silently re-enabling
    the wrong-stats derivation it exists to refuse.  r15 carries it
    as column metadata on ``term``."""
    d = tempfile.mkdtemp()
    try:
        R.write_inverted_index(idx, d, n_buckets=8)
        pruned, stats = R.load_postings_artifact(spark, d, ["quick", "dog"])
        assert not hasattr(pruned, "_gcfspark_pruned")  # attribute gone
        transformed = [
            pruned.where(F.col("dl") > 0),
            pruned.select("term", "doc_id", "tf", "positions", "dl"),
            pruned.cache(),
            pruned.where(F.col("tf") >= 1).select(pruned.columns),
        ]
        for t in transformed:
            with pytest.raises(ValueError, match="term-pruned"):
                R.bm25_topk(t, ["quick", "dog"], k=5)
        # and scoring WITH the stats pair still works on those frames
        assert (
            R.bm25_topk(
                transformed[0], ["quick", "dog"], k=5, stats=stats
            ).count()
            > 0
        )
        # a full (unpruned) index is unmarked: stats=None stays allowed
        full, _ = R.read_index_artifact(spark, d)
        assert R.bm25_topk(full, ["quick"], k=3).count() > 0
    finally:
        shutil.rmtree(d, ignore_errors=True)


def test_index_append_stats_first_closes_freshness_window(
    spark, docs_df, tmp_path
):
    """r14 verdict #8 / the f499715 documented window, now CLOSED:
    index_append writes stats-then-postings and readers key the stats
    read off the postings snapshot, so (a) a mid-append orphan stats
    epoch is invisible, and (b) the moment an epoch's postings commit,
    its stats row is consumed too — there is no instant where postings
    are served with stale corpus stats."""
    from gcf_corima_parquet_converter_spark.operators import manifest as M

    root = str(tmp_path / "idx")
    batch0 = R.inverted_index(docs_df.where(F.col("doc_id") <= 4))
    batch1 = R.inverted_index(docs_df.where(F.col("doc_id") > 4))
    R.index_append(batch0, root, 0, n_buckets=8)
    n0 = batch0.select("doc_id").distinct().count()
    # --- simulate the exact mid-append instant: stats epoch 1
    # committed, postings epoch 1 not yet (index_append's write order)
    M.write_epoch(
        R._batch_stats(batch1, "doc_id").coalesce(1),
        f"{root}/stats",
        1,
    )
    post, stats = R.read_index_artifact(spark, root)
    srow = stats.first()
    assert srow["n_docs"] == n0  # orphan stats epoch NOT counted
    assert post.select("doc_id").distinct().count() == n0
    # scoring at this instant is exactly the epoch-0 corpus
    mid = {r["doc_id"]: r["score"] for r in R.bm25_topk(
        post, ["quick"], k=10, stats=stats
    ).collect()}
    only0 = {r["doc_id"]: r["score"] for r in R.bm25_topk(
        R.inverted_index(docs_df.where(F.col("doc_id") <= 4)),
        ["quick"], k=10,
    ).collect()}
    assert mid == only0
    # --- postings epoch 1 lands: stats row consumed the same instant
    m = M.manifest_resolve(spark, f"{root}/postings")
    M.write_epoch(
        batch1.withColumn(
            "tbucket", R._term_bucket_col(int(m["n_buckets"]))
        ),
        f"{root}/postings",
        1,
        partition_cols=("tbucket",),
    )
    post2, stats2 = R.read_index_artifact(spark, root)
    total = R.index_stats(R.inverted_index(docs_df)).first()
    s2 = stats2.first()
    assert s2["n_docs"] == total["n_docs"]
    assert s2["avgdl"] == total["avgdl"]
    # pruned loader sees the same aligned pair
    p3, s3 = R.load_postings_artifact(spark, root, ["quick"])
    assert s3.first()["n_docs"] == total["n_docs"]


# ------------------------------------------------------ proximity


def _py_proximity(docs, terms, slop):
    """Pure-python existence model: anchor matches iff an ordered
    chain with gaps in [1, slop+1] completes."""
    out = {}
    for did, text in docs:
        toks = text.split()
        pos = {}
        for i, t in enumerate(toks, start=1):
            pos.setdefault(t, []).append(i)
        T = list(pos.get(terms[-1], []))
        for t in reversed(terms[:-1]):
            T = [
                x
                for x in pos.get(t, [])
                if any(x < y <= x + slop + 1 for y in T)
            ]
            if not T:
                break
        if T:
            out[did] = (len(T), min(T))
    return out


def test_proximity_search_matches_python_model(spark):
    docs = [
        (1, "a b c"),                  # adjacent: matches every slop
        (2, "a x b x c"),              # gaps of 2: needs slop >= 1
        (3, "a x x b c"),              # mixed gaps 3,1: needs slop >= 2
        (4, "c b a"),                  # wrong order: never matches
        (5, "a b x x x c"),            # gap 4 at the end: slop >= 3
        (6, "a a b c"),                # two anchors, both complete
        (7, "a b"),                    # c missing entirely
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    idx = R.inverted_index(df)
    for slop in (0, 1, 2, 3):
        got = {
            r["doc_id"]: (r["n_matches"], r["first_pos"])
            for r in R.proximity_search(idx, "a b c", slop=slop).collect()
        }
        assert got == _py_proximity(docs, ["a", "b", "c"], slop), slop


def test_proximity_greedy_pitfall_case(spark):
    # the case a leftmost-greedy chain MISSES: greedy takes b@2, then
    # finds no c in (2, 4]; the valid chain is 1 -> 3 -> 5 (slop=1)
    df = spark.createDataFrame(
        [(1, "a b b x c")], "doc_id long, text string"
    )
    idx = R.inverted_index(df)
    row = R.proximity_search(idx, "a b c", slop=1).first()
    assert row is not None and row["n_matches"] == 1
    assert row["first_pos"] == 1


def test_proximity_slop0_equals_phrase_search(spark, sf_dir):
    from gcf_corima_parquet_converter_spark import catalog

    docs = catalog.load(spark, sf_dir, "documents")
    idx = R.inverted_index(docs)
    a = sorted(
        map(tuple, R.phrase_search(idx, "spark window").collect())
    )
    b = sorted(
        map(
            tuple,
            R.proximity_search(idx, "spark window", slop=0).collect(),
        )
    )
    assert a == b and a  # identical AND non-empty on the corpus


def test_proximity_args_and_single_term(spark):
    df = spark.createDataFrame([(1, "a b a")], "doc_id long, text string")
    idx = R.inverted_index(df)
    with pytest.raises(ValueError, match="at least one"):
        R.proximity_search(idx, [])
    with pytest.raises(ValueError, match="slop"):
        R.proximity_search(idx, "a", slop=-1)
    row = R.proximity_search(idx, "a").first()  # single term: tf + first
    assert row["n_matches"] == 2 and row["first_pos"] == 1


def test_proximity_over_persisted_pruned_index_matches_inline(spark, idx):
    d = tempfile.mkdtemp()
    try:
        R.write_inverted_index(idx, d, n_buckets=16)
        pruned, _ = R.load_postings_artifact(spark, d, ["quick", "fox"])
        a = sorted(
            map(tuple, R.proximity_search(idx, "quick fox", slop=1).collect())
        )
        b = sorted(
            map(
                tuple,
                R.proximity_search(pruned, "quick fox", slop=1).collect(),
            )
        )
        assert a == b and a
        plan = pruned._jdf.queryExecution().executedPlan().toString()
        assert "PartitionFilters: [tbucket" in plan
    finally:
        shutil.rmtree(d, ignore_errors=True)


def _py_min_span(docs, terms):
    import itertools

    out = {}
    for did, text in docs:
        toks = text.split()
        pos = {
            t: [i + 1 for i, x in enumerate(toks) if x == t]
            for t in set(terms)
        }
        if any(not pos[t] for t in set(terms)):
            continue
        best = None
        for tup in itertools.product(*[pos[t] for t in terms]):
            cand = (max(tup) - min(tup) + 1, min(tup))
            if best is None or cand < best:
                best = cand
        out[did] = best
    return out


def test_min_span_matches_bruteforce_python_model(spark):
    docs = [
        (1, "a x x b x a b"),     # tightest cluster at the end: span 2
        (2, "b x x x a"),         # only one tuple: span 5
        (3, "a x a"),             # b missing -> dropped
        (4, "b a"),               # unordered: matches, span 2
        (5, "a b a"),             # two span-2 windows: earliest start
        (6, "c a b c"),           # 3 terms, span 3... c at both ends
        (7, "a b c"),             # adjacent: span 3
        (8, "c x b x a"),         # reverse order: span 5
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    idx = R.inverted_index(df)
    got2 = {
        r["doc_id"]: (r["min_span"], r["first_pos"])
        for r in R.min_span(idx, "a b").collect()
    }
    assert got2 == _py_min_span(docs, ["a", "b"])
    got3 = {
        r["doc_id"]: (r["min_span"], r["first_pos"])
        for r in R.min_span(idx, "a b c").collect()
    }
    assert got3 == _py_min_span(docs, ["a", "b", "c"])
    # single term: span 1 at the first occurrence
    got1 = {
        r["doc_id"]: (r["min_span"], r["first_pos"])
        for r in R.min_span(idx, "a").collect()
    }
    assert got1 == _py_min_span(docs, ["a"])
    with pytest.raises(ValueError, match="at least one"):
        R.min_span(idx, [])


def test_min_span_plan_no_explode_no_python(spark):
    df = spark.createDataFrame([(1, "a b")], "doc_id long, text string")
    # round-trip the index through parquet so its own tokenize-explode
    # lineage is gone — the assertion isolates min_span's plan
    d = tempfile.mkdtemp()
    try:
        R.inverted_index(df).write.parquet(os.path.join(d, "idx"))
        idx = spark.read.parquet(os.path.join(d, "idx"))
        plan = (
            R.min_span(idx, "a b")
            ._jdf.queryExecution().executedPlan().toString()
        )
        # packed-array sweep: no positions explode (the one Generate
        # is the posexplode of the literal query terms)
        assert "explode(positions" not in plan
        for marker in ("BatchEvalPython", "ArrowEvalPython", "InPandas"):
            assert marker not in plan
    finally:
        shutil.rmtree(d, ignore_errors=True)


def test_snippets_hydrate_min_span_and_proximity_matches(spark):
    """The (id, n_matches/min_span, first_pos) shape contract: snippets
    hydrates min_span and proximity_search output exactly like
    phrase_search's — the window opens at the tightest cluster / the
    first ordered match."""
    docs_df = spark.createDataFrame(
        [(1, "u v w a b x y z"), (2, "a q q q b")],
        "doc_id long, text string",
    )
    idx = R.inverted_index(docs_df)
    ms = R.min_span(idx, "a b")
    got = {
        r["doc_id"]: r["snippet"]
        for r in R.snippets(
            docs_df, ms, width=1, match_len=2
        ).collect()
    }
    # doc1: min window [4,5] -> one token either side
    assert got[1] == "w a b x"
    # doc2: span 5 window starts at 1, match_len=2 clips inside the doc
    assert got[2] == "a q q"
    prox = R.proximity_search(idx, "a b", slop=3)
    got_p = {
        r["doc_id"]: r["snippet"]
        for r in R.snippets(
            docs_df, prox, width=1, match_len=2
        ).collect()
    }
    assert got_p[2] == "a q q"  # anchored at the ordered match start


# ---------------------------------------------------------- r16: the
# two-phase top-k guard contract (VERDICT r15 #1).  The scored frame
# feeding bm25's final per-query ranking is unbounded, so rows must be
# bounded BEFORE the partitionBy(q_id) exchange.  On this engine the
# rank-then-filter shape triggers Catalyst's WindowGroupLimit rewrite
# (SPARK-37099) — a partition-local top-k with NO extra exchange —
# and bm25_topk_batch falls back to the explicit spark_partition_id
# pre-top-k only when k exceeds windowGroupLimitThreshold.  These
# tests pin the plan shape structurally and prove partition
# invariance, so neither an engine upgrade nor a refactor can
# silently reopen the funnel.


def test_bm25_topk_native_plan_is_two_phase(idx):
    """The native path: a WindowGroupLimit Partial must sit BELOW the
    q_id exchange (bounding what crosses to k rows per input
    partition per query), and the manual fallback must be absent."""
    out = R.bm25_topk(idx, ["quick", "brown"], k=3)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "_lrk" not in plan  # manual guard not in the common path
    lines = plan.splitlines()
    exch = [
        i for i, ln in enumerate(lines)
        if "Exchange hashpartitioning(q_id" in ln
    ]
    assert exch, "expected a q_id exchange under the final ranking"
    below = "\n".join(lines[exch[0]:])
    assert "WindowGroupLimit" in below and ", Partial" in below, (
        "no partition-local bound below the q_id exchange — the "
        "WindowGroupLimit rewrite did not fire; the 100 TB funnel "
        "is open"
    )


def test_bm25_topk_fallback_guard_when_k_above_threshold(spark, idx):
    """k above windowGroupLimitThreshold disables the Catalyst
    rewrite; bm25_topk_batch must then apply the explicit
    partition-local pre-top-k, and results must be identical."""
    expected = [
        (r["rank"], r["doc_id"])
        for r in R.bm25_topk(idx, ["quick", "brown"], k=3).collect()
    ]
    old = spark.conf.get("spark.sql.optimizer.windowGroupLimitThreshold")
    spark.conf.set("spark.sql.optimizer.windowGroupLimitThreshold", "2")
    try:
        out = R.bm25_topk(idx, ["quick", "brown"], k=3)
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert "_lrk" in plan, "fallback guard missing"
        got = [(r["rank"], r["doc_id"]) for r in out.collect()]
    finally:
        spark.conf.set(
            "spark.sql.optimizer.windowGroupLimitThreshold", old
        )
    assert got == expected


def test_bm25_topk_partition_invariance(spark, docs_df):
    """The guard's correctness claim: the top-k is identical under
    any input partitioning (1 partition, default, prime skew), in
    both the native and the fallback regime."""
    base = None
    for n_parts, thresh in [(1, None), (7, None), (13, "2")]:
        idx_n = R.inverted_index(docs_df.repartition(n_parts))
        old = spark.conf.get(
            "spark.sql.optimizer.windowGroupLimitThreshold"
        )
        if thresh is not None:
            spark.conf.set(
                "spark.sql.optimizer.windowGroupLimitThreshold", thresh
            )
        try:
            got = [
                (r["rank"], r["doc_id"], r["score"])
                for r in R.bm25_topk(
                    idx_n, ["quick", "brown", "dog"], k=4,
                    idf="rational", scale=1_000_000,
                ).collect()
            ]
        finally:
            spark.conf.set(
                "spark.sql.optimizer.windowGroupLimitThreshold", old
            )
        if base is None:
            base = got
        assert got == base, f"top-k changed under {n_parts} partitions"


def test_min_span_duplicate_terms_collapse(spark):
    """Duplicate query terms collapse to distinct terms up front
    (ADVICE r15): min_span('a a b') == min_span('a b') — MinDist is a
    per-distinct-term covering measure, and without the dedupe one
    occurrence would silently satisfy both duplicate slots."""
    docs_df = spark.createDataFrame(
        [(1, "a x b"), (2, "a a b"), (3, "b x x a")],
        "doc_id long, text string",
    )
    idx = R.inverted_index(docs_df)
    dup = {
        r["doc_id"]: (r["min_span"], r["first_pos"])
        for r in R.min_span(idx, "a a b").collect()
    }
    ded = {
        r["doc_id"]: (r["min_span"], r["first_pos"])
        for r in R.min_span(idx, "a b").collect()
    }
    assert dup == ded
    assert dup[1] == (3, 1) and dup[2] == (2, 2) and dup[3] == (4, 1)


def test_proximity_and_min_span_analyzer_composition(spark):
    """r15 verdict #7: proximity_search/min_span take caller-provided
    terms, so an analyzed index composes via analyze_terms (the
    same-analyzer contract BM25 has).  Over a noised corpus (upper +
    edge punctuation) the 'simple'-analyzed index with analyzed query
    terms must match the raw index over the clean lowercase corpus
    exactly — positions included, since the analyzer drops no tokens
    here and positions are assigned AFTER analysis."""
    clean = [
        (1, "spark window merge runs fast"),
        (2, "spark then window then much later merge spark window merge"),
        (3, "merge window spark"),  # wrong order: min_span only
        (4, "spark window"),        # missing term
    ]
    noisy = [
        (i, " ".join(w.upper() + "," for w in t.split())) for i, t in clean
    ]
    sch = "doc_id long, text string"
    raw_idx = R.inverted_index(spark.createDataFrame(clean, sch))
    an_idx = R.inverted_index(
        spark.createDataFrame(noisy, sch), analyzer="simple"
    )
    terms = R.analyze_terms("SPARK, Window. MERGE,", "simple")
    assert terms == ["spark", "window", "merge"]

    def rows(df):
        return sorted(tuple(r) for r in df.collect())

    assert rows(
        R.proximity_search(an_idx, terms, slop=2)
    ) == rows(R.proximity_search(raw_idx, "spark window merge", slop=2))
    assert rows(R.min_span(an_idx, terms)) == rows(
        R.min_span(raw_idx, "spark window merge")
    )
    # raw terms against the analyzed index miss by contract: the
    # postings store analyzed tokens only
    assert (
        R.proximity_search(an_idx, ["SPARK,", "Window."], slop=2).count()
        == 0
    )


def test_positional_search_batch_matches_per_query_operators(spark):
    """The batched positional pass (one term join + per-row induction
    fold) equals the Python existence model run per query — over a
    randomized corpus and a query mix covering per-row slop, k=1,
    repeated terms, a missing term, and malformed rows (null/empty
    terms arrays are skipped per contract).  proximity_search is the
    batch operator's one-row call, so the model is the independent
    side."""
    import random

    rnd = random.Random(77)
    voc = ["a", "b", "c", "d", "e", "f"]
    docs = [
        (i, " ".join(rnd.choice(voc) for _ in range(rnd.randint(3, 30))))
        for i in range(60)
    ]
    idx = R.inverted_index(
        spark.createDataFrame(docs, "doc_id long, text string")
    )
    queries = [
        (1, ["a", "b"], 0),
        (2, ["a", "b"], 2),
        (3, ["c"], 0),                # single term
        (4, ["a", "b", "c"], 1),
        (5, ["b", "a", "b"], 1),      # repeated term: ordinal slots
        (6, ["zz", "a"], 3),          # missing term -> no rows
        (7, None, 1),                 # null terms -> skipped
        (8, [], 2),                   # empty terms -> skipped
    ]
    qdf = spark.createDataFrame(
        queries, "q_id long, terms array<string>, slop int"
    )
    got = {
        (r["q_id"], r["doc_id"]): (r["n_matches"], r["first_pos"])
        for r in R.positional_search_batch(
            idx, qdf, slop_col="slop"
        ).collect()
    }
    want = {
        (qid, d): v
        for qid, tl, sl in queries
        if tl
        for d, v in _py_proximity(docs, tl, sl).items()
    }
    assert got == want
    assert got  # the fixture really produces matches

    # constant-slop mode (no slop_col): every query at slop=1
    got1 = {
        (r["q_id"], r["doc_id"]): (r["n_matches"], r["first_pos"])
        for r in R.positional_search_batch(idx, qdf, slop=1).collect()
    }
    want1 = {
        (qid, d): v
        for qid, tl, _ in queries
        if tl
        for d, v in _py_proximity(docs, tl, 1).items()
    }
    assert got1 == want1
    with pytest.raises(ValueError):
        R.positional_search_batch(idx, qdf, slop=-1)


def test_min_span_batch_matches_per_query_operator(spark):
    """min_span_batch (array-state sweep, variable per-row term count)
    equals the brute-force Python model run per query — including
    duplicate-term collapse and all-terms-present filtering — over
    the randomized corpus.  min_span is the batch operator's one-row
    call, so the model is the independent side."""
    import random

    rnd = random.Random(78)
    voc = ["a", "b", "c", "d", "e"]
    docs = [
        (i, " ".join(rnd.choice(voc) for _ in range(rnd.randint(3, 25))))
        for i in range(50)
    ]
    idx = R.inverted_index(
        spark.createDataFrame(docs, "doc_id long, text string")
    )
    queries = [
        (1, ["a", "b"]),
        (2, ["a", "b", "c"]),
        (3, ["d"]),                   # single term: span 1
        (4, ["b", "a", "b"]),         # duplicates collapse
        (5, ["zz", "a"]),             # missing term -> no rows
        (6, None),
        (7, []),
    ]
    qdf = spark.createDataFrame(queries, "q_id long, terms array<string>")
    got = {
        (r["q_id"], r["doc_id"]): (r["min_span"], r["first_pos"])
        for r in R.min_span_batch(idx, qdf).collect()
    }
    want = {
        (qid, d): v
        for qid, tl in queries
        if tl
        for d, v in _py_min_span(docs, tl).items()
    }
    assert got == want
    assert got
    # single-term spans are 1 at the term's first occurrence
    for (qid, _), (span, _) in got.items():
        if qid == 3:
            assert span == 1


def test_rrf_fuse_batch_matches_per_query_fuse(spark):
    """rrf_fuse_batch over (q_id, id, rank) rankings equals rrf_fuse
    run per query — scores, n_sources, ranks and the topk cut."""
    r1 = spark.createDataFrame(
        [(1, 10, 1), (1, 11, 2), (2, 20, 1), (2, 10, 2)],
        "q_id long, doc_id long, rank int",
    )
    r2 = spark.createDataFrame(
        [(1, 11, 1), (1, 12, 2), (2, 10, 1)],
        "q_id long, doc_id long, rank int",
    )
    got = {
        (r["q_id"], r["rank"]): (r["doc_id"], r["rrf_score"], r["n_sources"])
        for r in R.rrf_fuse_batch([r1, r2], topk=2, scale=10**6).collect()
    }
    want = {}
    for qid in (1, 2):
        a = r1.where(F.col("q_id") == qid).select("doc_id", "rank")
        b = r2.where(F.col("q_id") == qid).select("doc_id", "rank")
        for r in R.rrf_fuse([a, b], topk=2, scale=10**6).collect():
            want[(qid, r["rank"])] = (
                r["doc_id"], r["rrf_score"], r["n_sources"]
            )
    assert got == want
    with pytest.raises(ValueError):
        R.rrf_fuse_batch([])


def test_positional_batch_plan_one_term_join_no_explode_no_python(spark):
    """The batch operators' plan shape IS the point: ONE postings
    equi-join regardless of query count or term count, no positions
    explode, no Python stages — so a 100-query batch costs three
    joins total, not hundreds.  proximity_search, min_span and
    bm25_topk are one-row calls of the batch operators and inherit
    the shape: no positions explode, no Python stage, and no
    ``ExistingRDD`` scan (their one-row query is a ``Range``, not a
    Python-built row) — nor does rrf_fuse over their rankings."""
    docs = spark.range(10).select(
        F.col("id").alias("doc_id"), F.lit("a b c d e f g").alias("text")
    )
    idx = R.inverted_index(docs)

    def n_joins(df):
        plan = df._jdf.queryExecution().optimizedPlan().toString()
        return plan.count("Join ")

    small = spark.createDataFrame(
        [(1, ["a", "b"], 0)], "q_id long, terms array<string>, slop int"
    )
    big = spark.createDataFrame(
        [
            (q, [["a", "b", "c"], ["d", "e"], ["f", "g", "a", "b"]][q % 3], q % 3)
            for q in range(40)
        ],
        "q_id long, terms array<string>, slop int",
    )
    for op in (
        lambda qd: R.positional_search_batch(idx, qd, slop_col="slop"),
        lambda qd: R.min_span_batch(idx, qd),
    ):
        js, jb = n_joins(op(small)), n_joins(op(big))
        assert js == jb, (js, jb)
        phys = op(big)._jdf.queryExecution().executedPlan().toString()
        assert "Generate explode(positions" not in phys
        for marker in ("BatchEvalPython", "ArrowEvalPython", "PythonUDF"):
            assert marker not in phys

    def ranking(terms):
        return R.bm25_topk(idx, terms, k=3).select("doc_id", "rank")

    for single in (
        R.proximity_search(idx, "a c e", slop=1),
        R.min_span(idx, "b a"),
        R.bm25_topk(idx, ["a", "b"], k=3),
        R.rrf_fuse([ranking(["a"]), ranking(["b", "c"])], topk=3),
    ):
        phys = single._jdf.queryExecution().executedPlan().toString()
        assert "Generate explode(positions" not in phys
        assert "ExistingRDD" not in phys
        for marker in ("BatchEvalPython", "ArrowEvalPython", "PythonUDF"):
            assert marker not in phys


def _py_lev(a, b):
    dp = list(range(len(b) + 1))
    for i, ca in enumerate(a, 1):
        prev, dp[0] = dp[0], i
        for j, cb in enumerate(b, 1):
            prev, dp[j] = dp[j], min(
                dp[j] + 1, dp[j - 1] + 1, prev + (ca != cb)
            )
    return dp[len(b)]


def test_fuzzy_expand_terms_matches_bruteforce_levenshtein(spark):
    """The deletion-neighborhood candidate join + levenshtein verify
    finds EXACTLY the vocabulary terms within distance e — equal to
    brute-force Levenshtein over vocab x queries for e=1 and e=2,
    including the transposition case ('ab' vs 'ba' intersects
    deletion neighborhoods at e=1 but verifies to distance 2 and must
    drop) and a no-match query."""
    import random

    rnd = random.Random(5)
    words = [
        "spark", "spork", "park", "sparks", "window", "widow",
        "windows", "merge", "marge", "mergee", "join", "coin", "jon",
        "banana", "bananna", "table", "cable", "stable", "ab", "ba", "a",
    ]
    docs = [
        (i, " ".join(rnd.sample(words, rnd.randint(3, 8))))
        for i in range(40)
    ]
    idx = R.inverted_index(
        spark.createDataFrame(docs, "doc_id long, text string")
    )
    vocab = {
        r["term"]: r["df"]
        for r in idx.groupBy("term")
        .agg(F.count(F.lit(1)).alias("df"))
        .collect()
    }
    queries = ["spakr", "windw", "merge", "jion", "ba", "zzz"]
    for e in (1, 2):
        got = {
            (r["q_term"], r["term"]): (r["dist"], r["df"])
            for r in R.fuzzy_expand_terms(
                idx, queries, max_edits=e
            ).collect()
        }
        want = {
            (q, w): (_py_lev(q, w), dfc)
            for q in queries
            for w, dfc in vocab.items()
            if _py_lev(q, w) <= e
        }
        assert got == want, e
    # transposition: candidate at e=1 (deletion sets intersect) but
    # the exact verify rejects it — only the identical term survives
    e1 = {
        (r["q_term"], r["term"])
        for r in R.fuzzy_expand_terms(idx, ["ba"], max_edits=1).collect()
    }
    assert ("ba", "ab") not in e1 and ("ba", "ba") in e1
    # arg validation + duplicate-term collapse
    with pytest.raises(ValueError):
        R.fuzzy_expand_terms(idx, [], max_edits=1)
    with pytest.raises(ValueError):
        R.fuzzy_expand_terms(idx, ["a"], max_edits=3)
    dup = R.fuzzy_expand_terms(idx, ["spark", "spark"], max_edits=1)
    assert dup.count() == dup.distinct().count()


def test_fuzzy_expand_composes_with_bm25_and_plan_is_jvm(spark):
    """The robustness loop: a misspelled query expands through the
    vocabulary and re-queries BM25 with the matched terms — the
    corrected ranking equals querying the true terms directly (when
    the expansion is unambiguous).  Plan: the candidate join's query
    side is broadcast, no Python stages, no vocabulary
    cross-product (BroadcastNestedLoopJoin absent)."""
    docs = [
        (i, f"spark window shuffle doc{i} " + ("merge " * (i % 3)))
        for i in range(30)
    ]
    ddf = spark.createDataFrame(docs, "doc_id long, text string")
    idx = R.inverted_index(ddf)
    exp = R.fuzzy_expand_terms(idx, ["spak", "window"], max_edits=1)
    terms = sorted({r["term"] for r in exp.collect()})
    assert terms == ["spark", "window"]
    corrected = R.bm25_topk(idx, terms, k=5, idf="rational", scale=10**6)
    direct = R.bm25_topk(
        idx, ["spark", "window"], k=5, idf="rational", scale=10**6
    )
    assert [tuple(r) for r in corrected.collect()] == [
        tuple(r) for r in direct.collect()
    ]
    plan = exp._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastNestedLoopJoin" not in plan
    for marker in ("BatchEvalPython", "ArrowEvalPython", "PythonUDF"):
        assert marker not in plan
    assert "BroadcastHashJoin" in plan or "BroadcastExchange" in plan


def test_fuzzy_vocab_artifact_prunes_and_matches_inline(spark):
    """The persisted fuzzy-vocab artifact (write_fuzzy_vocab /
    fuzzy_match_terms) answers identically to the inline operator,
    with STATIC vbucket partition filters + variant pushdown reaching
    the scan — the load_postings_artifact pattern applied to the SymSpell
    candidate table.  A max_edits=2 artifact serves e=1 lookups; the
    reverse raises."""
    import random

    rnd = random.Random(9)
    words = [
        "spark", "spork", "park", "window", "widow", "merge", "marge",
        "join", "coin", "table", "cable", "ab", "ba",
    ]
    docs = [
        (i, " ".join(rnd.sample(words, rnd.randint(3, 7))))
        for i in range(40)
    ]
    idx = R.inverted_index(
        spark.createDataFrame(docs, "doc_id long, text string")
    )
    d = tempfile.mkdtemp()
    try:
        info = R.write_fuzzy_vocab(idx, d, max_edits=2, n_buckets=16)
        assert info["max_edits"] == 2
        queries = ["spakr", "windw", "merge", "ba", "zzz"]
        for e in (1, 2):
            inline = {
                tuple(r)
                for r in R.fuzzy_expand_terms(
                    idx, queries, max_edits=e
                ).collect()
            }
            persisted = {
                tuple(r)
                for r in R.fuzzy_match_terms(
                    spark, d, queries, max_edits=e
                ).collect()
            }
            assert persisted == inline, e
        # default e = the artifact's build setting
        dflt = {
            tuple(r)
            for r in R.fuzzy_match_terms(spark, d, queries).collect()
        }
        assert dflt == {
            tuple(r)
            for r in R.fuzzy_expand_terms(
                idx, queries, max_edits=2
            ).collect()
        }
        # static pruning reaches the scan
        plan = (
            R.fuzzy_match_terms(spark, d, ["spakr"], max_edits=1)
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        assert "PartitionFilters: [vbucket" in plan
        assert "In(variant" in plan
        want = sorted({
            R._term_bucket_py(v, 16)
            for v in R._del_variants_py("spakr", 1)
        })
        head = plan.split("PartitionFilters")[1][:200]
        for b in want:
            assert str(b) in head
        # e above the build setting is refused, not silently wrong
        lo = tempfile.mkdtemp()
        try:
            R.write_fuzzy_vocab(idx, lo, max_edits=1, n_buckets=8)
            with pytest.raises(ValueError, match="max_edits=1"):
                R.fuzzy_match_terms(spark, lo, ["spakr"], max_edits=2)
        finally:
            shutil.rmtree(lo, ignore_errors=True)
        with pytest.raises(ValueError):
            R.fuzzy_match_terms(spark, d, [])
    finally:
        shutil.rmtree(d, ignore_errors=True)


def test_score_fuse_batch_combsum_combmnz_and_degenerate_arm(spark):
    """Weighted score fusion (CombSUM/CombMNZ): per-(arm, query)
    min-max normalization into [0,1], weighted fixed-point sum,
    optional overlap boost (MNZ multiplies by n_sources), ties by id.
    An all-tied arm list normalizes to 1.0 for every doc.  Expected
    values hand-computed."""
    a = spark.createDataFrame(
        # q1: scores 10/20/30 -> norms 0.0/0.5/1.0
        [(1, 101, 10.0), (1, 102, 20.0), (1, 103, 30.0),
         # q2: degenerate (all tied) -> both norm 1.0
         (2, 201, 5.0), (2, 202, 5.0)],
        "q_id long, doc_id long, score double",
    )
    b = spark.createDataFrame(
        # q1: 1/3 -> norms 0.0/1.0; doc 104 only in arm b
        [(1, 103, 1.0), (1, 104, 3.0), (2, 201, 7.0), (2, 203, 9.0)],
        "q_id long, doc_id long, score double",
    )
    got = {
        (r["q_id"], r["rank"]): (
            r["doc_id"], round(r["fused_score"], 6), r["n_sources"]
        )
        for r in R.score_fuse_batch(
            [a, b], weights=[1.0, 0.5], topk=10
        ).collect()
    }
    # q1: 101 -> 0.0; 102 -> 0.5; 103 -> 1.0 + 0.5*0.0 = 1.0 (2 srcs);
    #     104 -> 0.5*1.0 = 0.5 (ties 102 at 0.5 -> doc id breaks: 102)
    assert got[(1, 1)] == (103, 1.0, 2)
    assert got[(1, 2)] == (102, 0.5, 1)
    assert got[(1, 3)] == (104, 0.5, 1)
    assert got[(1, 4)] == (101, 0.0, 1)
    # q2: 201 -> 1.0 + 0.5*0.0 = 1.0 (2 srcs); 202 -> 1.0; 203 -> 0.5
    assert got[(2, 1)] == (201, 1.0, 2)
    assert got[(2, 2)] == (202, 1.0, 1)
    assert got[(2, 3)] == (203, 0.5, 1)
    # MNZ: overlap boost — 201 doubles to 2.0, 103 doubles to 2.0
    mnz = {
        (r["q_id"], r["doc_id"]): round(r["fused_score"], 6)
        for r in R.score_fuse_batch(
            [a, b], weights=[1.0, 0.5], topk=10, mnz=True
        ).collect()
    }
    assert mnz[(1, 103)] == 2.0 and mnz[(2, 201)] == 2.0
    assert mnz[(1, 102)] == 0.5
    with pytest.raises(ValueError, match="weights"):
        R.score_fuse_batch([a, b], weights=[1.0])
    with pytest.raises(ValueError):
        R.score_fuse_batch([])


def test_fuzzy_vocab_append_merges_df_and_replays_exactly_once(spark):
    """r17 incremental fuzzy lifecycle: fuzzy_vocab_append lands a new
    corpus slice's vocabulary under its own epoch; the reader's
    cross-epoch df SUM makes the artifact answer EXACTLY like an
    inline expansion over the union corpus (a term split across
    slices must report its union df; a term first seen in the append
    must become matchable).  A replayed epoch (dynamic overwrite)
    changes nothing, and a full write_fuzzy_vocab rebuild clears every
    epoch."""
    docs0 = [(i, "spark window merge") for i in range(6)]
    docs1 = [(100 + i, "spark quantum") for i in range(3)]
    d0 = spark.createDataFrame(docs0, "doc_id long, text string")
    d1 = spark.createDataFrame(docs1, "doc_id long, text string")
    both = d0.unionByName(d1)
    d = tempfile.mkdtemp()
    try:
        R.write_fuzzy_vocab(R.inverted_index(d0), d, max_edits=1,
                            n_buckets=8)
        # 'quantum' not yet in the vocabulary
        assert R.fuzzy_match_terms(spark, d, ["quantm"]).count() == 0
        R.fuzzy_vocab_append(R.inverted_index(d1), d, epoch=1)
        queries = ["spak", "windo", "quantm"]
        want = {
            tuple(r)
            for r in R.fuzzy_expand_terms(
                R.inverted_index(both), queries, max_edits=1
            ).collect()
        }
        got = {
            tuple(r)
            for r in R.fuzzy_match_terms(spark, d, queries).collect()
        }
        assert got == want
        # 'spark' df merged across slices: 6 (build) + 3 (append)
        assert ("spak", "spark", 1, 9) in got
        # replay the append epoch — dynamic overwrite rewrites exactly
        # its own partitions, the SUM cannot double-count
        R.fuzzy_vocab_append(R.inverted_index(d1), d, epoch=1)
        again = {
            tuple(r)
            for r in R.fuzzy_match_terms(spark, d, queries).collect()
        }
        assert again == want
        # rebuild = compaction: every epoch clears, df resets to the
        # rebuilt corpus
        R.write_fuzzy_vocab(R.inverted_index(d0), d, max_edits=1,
                            n_buckets=8)
        assert R.fuzzy_match_terms(spark, d, ["quantm"]).count() == 0
        assert ("spak", "spark", 1, 6) in {
            tuple(r)
            for r in R.fuzzy_match_terms(spark, d, ["spak"]).collect()
        }
    finally:
        shutil.rmtree(d, ignore_errors=True)


def _py_mmr(cands, k, lam, scale):
    """Reference MMR selection with the operator's exact fixed-point
    math: cands = [(id, rel_fx, vec)], returns [(rank, id, mmr_fx,
    rel_fx)]."""
    import math
    from functools import reduce

    def dot_fx(a, b):
        s = reduce(lambda acc, xy: acc + xy[0] * xy[1], zip(a, b), 0.0)
        return math.floor(s * scale + 0.5)

    sel, rem = [], sorted(cands)
    out = []
    for rank in range(1, k + 1):
        if not rem:
            break
        best = None
        for c in rem:
            if sel:
                ms = max(dot_fx(c[2], s[2]) for s in sel)
                m = math.floor(lam * c[1] - (1 - lam) * ms + 0.5)
            else:
                m = math.floor(lam * c[1] + 0.5)
            key = (m, -c[0])
            if best is None or key > best[0]:
                best = (key, c, m)
        _, c, m = best
        sel.append(c)
        rem = [r for r in rem if r[0] != c[0]]
        out.append((rank, c[0], m, c[1]))
    return out


def test_mmr_rerank_matches_python_model_and_diversifies(spark):
    """mmr_rerank (Carbonell & Goldstein 1998) pinned against a pure-
    Python greedy selection with the identical fixed-point math; on a
    two-cluster corpus the lam=0.5 pick order must alternate clusters
    while lam=1.0 degenerates to pure relevance order."""
    import math

    # two tight clusters on the unit circle: ids 1-3 near (1,0),
    # ids 4-6 near (0,1); relevance favors cluster A slightly
    def unit(theta):
        return [math.cos(theta), math.sin(theta)]

    vecs = {
        1: unit(0.00), 2: unit(0.05), 3: unit(0.10),
        4: unit(1.50), 5: unit(1.55), 6: unit(1.60),
    }
    rel = {1: 1.00, 2: 0.95, 3: 0.90, 4: 0.85, 5: 0.80, 6: 0.75}
    ranked = spark.createDataFrame(
        [(0, i, rel[i]) for i in vecs], "q_id long, doc_id long, score double"
    )
    emb = spark.createDataFrame(
        [(i, v) for i, v in vecs.items()],
        "vec_id long, embedding array<float>",
    )
    scale = 10**6
    mn, mx = min(rel.values()), max(rel.values())
    cands = [
        (
            i,
            math.floor((rel[i] - mn) / (mx - mn) * scale + 0.5),
            # the operator consumes float32-rounded vectors
            [float(__import__("numpy").float32(x)) for x in vecs[i]],
        )
        for i in vecs
    ]
    for lam, k in ((0.5, 4), (1.0, 6), (0.3, 6)):
        want = {
            (0, r, i, m, rf) for r, i, m, rf in _py_mmr(cands, k, lam, scale)
        }
        got = {
            tuple(r)
            for r in R.mmr_rerank(
                ranked, emb, k=k, lam=lam, scale=scale
            ).collect()
        }
        assert got == want, (lam, k)
    picks05 = [
        i for _, i, _, _ in _py_mmr(cands, 4, 0.5, scale)
    ]
    # diversity: after the top hit (cluster A), the second pick jumps
    # to cluster B instead of taking A's near-duplicates
    assert picks05[0] == 1 and picks05[1] in (4, 5, 6)
    picks10 = [i for _, i, _, _ in _py_mmr(cands, 6, 1.0, scale)]
    assert picks10 == [1, 2, 3, 4, 5, 6]  # lam=1: relevance order

    # k > candidates returns all; a candidate without an embedding
    # drops; guards raise
    all_rows = R.mmr_rerank(ranked, emb, k=50, lam=0.5).collect()
    assert len(all_rows) == 6
    fewer = R.mmr_rerank(
        ranked, emb.where(F.col("vec_id") != 3), k=50, lam=0.5
    ).collect()
    assert len(fewer) == 5 and all(r["doc_id"] != 3 for r in fewer)
    with pytest.raises(ValueError, match="k must"):
        R.mmr_rerank(ranked, emb, k=0)
    with pytest.raises(ValueError, match="lam"):
        R.mmr_rerank(ranked, emb, lam=1.5)


def test_min_span_batch_candidates_restriction(spark):
    """r17 verdict #4: min_span_batch(candidates=) folds spans only
    for the given (q_id, doc) pairs — for those pairs the spans are
    IDENTICAL to the unrestricted fold (the restriction prunes, never
    alters), other docs emit nothing, and a candidate doc that does
    not contain every term still emits nothing."""
    docs = [
        (1, "spark window merge runs fast"),
        (2, "spark then window then much later merge"),
        (3, "merge window spark"),
        (4, "spark window"),
        (5, "no relevant terms here"),
    ]
    idx = R.inverted_index(
        spark.createDataFrame(docs, "doc_id long, text string")
    )
    q = spark.createDataFrame(
        [(0, ["spark", "window", "merge"])],
        "q_id long, terms array<string>",
    )
    full = {
        (r["doc_id"], r["min_span"], r["first_pos"])
        for r in R.min_span_batch(idx, q).collect()
    }
    assert {t[0] for t in full} == {1, 2, 3}
    cand = spark.createDataFrame(
        [(0, 1), (0, 3), (0, 4), (0, 5)], "q_id long, doc_id long"
    )
    got = {
        (r["doc_id"], r["min_span"], r["first_pos"])
        for r in R.min_span_batch(idx, q, candidates=cand).collect()
    }
    # doc 2 pruned (not a candidate); docs 4/5 absent (don't contain
    # every term); docs 1/3 keep their exact unrestricted spans
    assert got == {t for t in full if t[0] in (1, 3)}


def test_fuzzy_vocab_compact_lifecycle(spark):
    """r18 fuzzy-tier compaction (r17 verdict #3): build -> N appends
    -> fuzzy_vocab_compact folds the epochs into the next base version
    behind one manifest PUT; fuzzy_match_terms answers IDENTICALLY
    before and after, the artifact's live file count drops, and
    appends keep landing after the fold (pause-free lifecycle — the
    q103/index_compact contract applied to the fuzzy artifact)."""
    from gcf_corima_parquet_converter_spark.operators import manifest as M

    d0 = spark.createDataFrame(
        [(i, "spark window merge") for i in range(4)],
        "doc_id long, text string",
    )
    slices = [
        spark.createDataFrame(
            [(100 * e + i, "spark quantum") for i in range(2)],
            "doc_id long, text string",
        )
        for e in range(1, 4)
    ]
    d = tempfile.mkdtemp()
    queries = ["spak", "windo", "quantm"]

    def live_files(root):
        m = M.manifest_resolve(spark, root)
        live = [
            e for e in M.list_epochs(spark, root)
            if e not in set(m["folded_epochs"])
            and e > int(m["folded_watermark"])
        ]
        paths = [M.base_dir(root, int(m["version"]))] + [
            f"{M.epochs_dir(root)}/epoch={e}" for e in live
        ]
        n = 0
        for p in paths:
            for base, _, files in os.walk(p):
                n += sum(1 for f in files if f.endswith(".parquet"))
        return n

    try:
        R.write_fuzzy_vocab(R.inverted_index(d0), d, max_edits=1,
                            n_buckets=4)
        for e, sl in enumerate(slices, start=1):
            R.fuzzy_vocab_append(R.inverted_index(sl), d, epoch=e)
        vroot = f"{d}/{R._FUZZY_SUBDIR}"
        before = {
            tuple(r)
            for r in R.fuzzy_match_terms(spark, d, queries).collect()
        }
        files_before = live_files(vroot)
        res = R.fuzzy_vocab_compact(spark, d)
        assert res["version"] == 2 and res["epochs_folded"] == 3
        after = {
            tuple(r)
            for r in R.fuzzy_match_terms(spark, d, queries).collect()
        }
        assert after == before
        # df summed across the build + the three appended slices
        assert ("quantm", "quantum", 1, 6) in after
        assert ("spak", "spark", 1, 10) in after
        # the fold's payoff: one file per live vbucket instead of one
        # per (epoch, vbucket)
        assert live_files(vroot) < files_before
        # settings survive the fold via the manifest extra
        m = M.manifest_resolve(spark, vroot)
        assert m["n_buckets"] == 4 and m["max_edits"] == 1
        # pause-free: appends keep landing after the fold
        R.fuzzy_vocab_append(
            R.inverted_index(
                spark.createDataFrame(
                    [(900, "quantum leap")], "doc_id long, text string"
                )
            ),
            d, epoch=4,
        )
        assert ("quantm", "quantum", 1, 7) in {
            tuple(r)
            for r in R.fuzzy_match_terms(spark, d, ["quantm"]).collect()
        }
    finally:
        shutil.rmtree(d, ignore_errors=True)


def test_fuzzy_vocab_append_guards(spark):
    """ADVICE r17: fuzzy_vocab_append rejects reserved negative epochs
    (epoch=-1 is the folded base — a dynamic overwrite there would
    corrupt base vocabulary counts) and refuses a legacy / missing
    artifact with a rebuild message instead of producing a mixed
    layout that fails far away at read time; fuzzy_vocab_compact has
    the same legacy guard."""
    docs = spark.createDataFrame(
        [(1, "spark window")], "doc_id long, text string"
    )
    idx = R.inverted_index(docs)
    d = tempfile.mkdtemp()
    try:
        R.write_fuzzy_vocab(idx, d, max_edits=1, n_buckets=4)
        with pytest.raises(ValueError, match="reserved"):
            R.fuzzy_vocab_append(idx, d, epoch=-1)
        # a pre-r18 layout: rows directly under epoch=*/vbucket=*,
        # no _manifests dir
        legacy = tempfile.mkdtemp()
        try:
            vv = R._fuzzy_variant_rows(idx, 1, 4).withColumn(
                "epoch", F.lit(-1)
            )
            vv.write.partitionBy("epoch", "vbucket").mode(
                "overwrite"
            ).parquet(f"{legacy}/{R._FUZZY_SUBDIR}")
            with pytest.raises(ValueError, match="rebuild"):
                R.fuzzy_vocab_append(idx, legacy, epoch=1)
            with pytest.raises(ValueError, match="rebuild"):
                R.fuzzy_vocab_compact(spark, legacy)
        finally:
            shutil.rmtree(legacy, ignore_errors=True)
    finally:
        shutil.rmtree(d, ignore_errors=True)


def test_batch_positional_and_fuzzy_analyzer_composition(spark):
    """The batch operators and the fuzzy expander keep the
    same-analyzer contract: caller-provided terms pass through
    analyze_terms and the analyzed index answers exactly like the raw
    index over the clean corpus.  For fuzzy matching the analyzer
    runs BEFORE the edit-distance step (match against the analyzed
    vocabulary — 'SPAKR,' analyzed to 'spakr' then matched to
    'spark')."""
    clean = [
        (1, "spark window merge runs fast"),
        (2, "spark then window then much later merge spark window merge"),
        (3, "merge window spark"),
        (4, "spark window"),
    ]
    noisy = [
        (i, " ".join(w.upper() + "," for w in t.split())) for i, t in clean
    ]
    sch = "doc_id long, text string"
    raw_idx = R.inverted_index(spark.createDataFrame(clean, sch))
    an_idx = R.inverted_index(
        spark.createDataFrame(noisy, sch), analyzer="simple"
    )
    terms = R.analyze_terms("SPARK, Window. MERGE,", "simple")

    def rows(df):
        return sorted(tuple(r) for r in df.collect())

    qd_an = spark.createDataFrame(
        [(1, terms, 2), (2, terms[:2], 0)],
        "q_id long, terms array<string>, slop int",
    )
    qd_raw = spark.createDataFrame(
        [(1, ["spark", "window", "merge"], 2), (2, ["spark", "window"], 0)],
        "q_id long, terms array<string>, slop int",
    )
    assert rows(
        R.positional_search_batch(an_idx, qd_an, slop_col="slop")
    ) == rows(R.positional_search_batch(raw_idx, qd_raw, slop_col="slop"))
    assert rows(R.min_span_batch(an_idx, qd_an)) == rows(
        R.min_span_batch(raw_idx, qd_raw)
    )
    # fuzzy: analyzed query term against the analyzed vocabulary
    fq = R.analyze_terms("SPAKR,", "simple")
    assert fq == ["spakr"]
    got = {
        (r["q_term"], r["term"], r["dist"])
        for r in R.fuzzy_expand_terms(an_idx, fq, max_edits=2).collect()
    }
    want = {
        (r["q_term"], r["term"], r["dist"])
        for r in R.fuzzy_expand_terms(
            raw_idx, ["spakr"], max_edits=2
        ).collect()
    }
    assert got == want and ("spakr", "spark", 2) in got


def test_fuzzy_correct_terms_best_pick_and_composition(spark):
    """fuzzy_correct_terms picks ONE best vocabulary match per query
    term (dist asc -> df desc -> term asc): exact terms correct to
    themselves, ties on distance break toward the more attested term,
    no-match terms drop, and a query whose every term drops vanishes
    (nothing to score)."""
    # 'aable' is distance 1 to BOTH 'table' and 'cable' (substitute
    # the first letter); document frequency must break the tie
    docs = (
        [(i, "cable spark") for i in range(10)]
        + [(100, "table spark"), (101, "window cable")]
    )
    idx = R.inverted_index(
        spark.createDataFrame(docs, "doc_id long, text string")
    )
    qdf = spark.createDataFrame(
        [
            (1, ["aable", "spark"]),     # tie -> 'cable' (df 11 vs 1)
            (2, ["windoq"]),             # -> window
            (3, ["qqqqqqq"]),            # no match -> query vanishes
        ],
        "q_id long, terms array<string>",
    )
    got = {
        r["q_id"]: sorted(r["terms"])
        for r in R.fuzzy_correct_terms(idx, qdf, max_edits=1).collect()
    }
    assert got == {1: ["cable", "spark"], 2: ["window"]}
    with pytest.raises(ValueError):
        R.fuzzy_correct_terms(
            idx,
            spark.createDataFrame([], "q_id long, terms array<string>"),
        )
    # the driver-side term pool is a CONTRACT, not a hope (ADVICE
    # r16): past max_query_terms distinct terms the call fails fast
    # instead of collecting an unbounded frame onto the driver
    with pytest.raises(ValueError, match="distinct terms"):
        R.fuzzy_correct_terms(idx, qdf, max_edits=1, max_query_terms=2)


def test_champion_lists_candidates_and_exactness(spark):
    """Champion-list pruned BM25 (Manning IIR 7.1.3, impact-ordered
    per Anh & Moffat): candidates come from the per-term top-m impact
    lists, scores are EXACT for every candidate (full postings, full
    stats/df), and with m >= max df the pruned ranking equals exact
    BM25 bit-for-bit — while recall@10 grows monotonically toward it
    as m grows, at a candidate count bounded by m x |terms|."""
    import random

    rnd = random.Random(11)
    voc = ["the", "a", "spark", "window", "merge", "rare1", "rare2"]
    wts = [40, 30, 10, 8, 6, 1, 1]
    docs = [
        (
            i,
            " ".join(
                rnd.choices(voc, weights=wts, k=rnd.randint(5, 60))
            ),
        )
        for i in range(300)
    ]
    idx = R.inverted_index(
        spark.createDataFrame(docs, "doc_id long, text string")
    ).cache()
    full_df = idx.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    maxdf = full_df.agg(F.max("df")).collect()[0][0]
    qdf = spark.createDataFrame(
        [(0, ["the", "spark"]), (1, ["window", "merge"]), (2, ["rare1"])],
        "q_id long, terms array<string>",
    )
    exact = R.bm25_topk_batch(idx, qdf, k=10, idf="rational", scale=10**6)
    ex_rows = sorted(map(tuple, exact.collect()))
    ex_ids = {(r[0], r[2]) for r in ex_rows}

    prev_recall = 0.0
    for m in (8, 32, maxdf):
        ch = R.champion_lists(idx, m=m)
        # per-term list length == min(m, df)
        cnts = {
            r["term"]: r["n"]
            for r in ch.groupBy("term")
            .agg(F.count(F.lit(1)).alias("n"))
            .collect()
        }
        dfs = {r["term"]: r["df"] for r in full_df.collect()}
        assert all(cnts[t] == min(m, dfs[t]) for t in cnts)
        cands = R.champion_candidates(ch, qdf)
        # candidate bound: <= m x |terms| per query
        per_q = {
            r["q_id"]: r["n"]
            for r in cands.groupBy("q_id")
            .agg(F.count(F.lit(1)).alias("n"))
            .collect()
        }
        assert per_q[0] <= 2 * m and per_q[1] <= 2 * m and per_q[2] <= m
        approx = R.bm25_topk_batch(
            idx, qdf, k=10, idf="rational", scale=10**6, candidates=cands
        )
        ap_rows = sorted(map(tuple, approx.collect()))
        # every returned (q, doc, score) is the EXACT score: compare
        # against the exact run's scores for shared (q, doc) pairs
        ex_scores = {(r[0], r[2]): r[3] for r in ex_rows}
        for r in ap_rows:
            if (r[0], r[2]) in ex_scores:
                assert r[3] == ex_scores[(r[0], r[2])]
        recall = len({(r[0], r[2]) for r in ap_rows} & ex_ids) / len(ex_ids)
        assert recall >= prev_recall
        prev_recall = recall
    # m >= max df: identical incl. scores and ranks
    assert ap_rows == ex_rows
    with pytest.raises(ValueError):
        R.champion_lists(idx, m=0)


def test_champion_lists_plan_is_guarded_and_jvm(spark, idx):
    """champion_lists' per-term ranking uses the rank-then-filter
    WindowGroupLimit shape below the threshold and the explicit
    partition-local guard above it; the whole path stays JVM."""
    ch = R.champion_lists(idx, m=4)
    plan = ch._jdf.queryExecution().executedPlan().toString()
    assert "WindowGroupLimit" in plan
    for marker in ("BatchEvalPython", "ArrowEvalPython", "PythonUDF"):
        assert marker not in plan
    spark.conf.set("spark.sql.optimizer.windowGroupLimitThreshold", "2")
    try:
        plan_hi = (
            R.champion_lists(idx, m=4)
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        assert "_lrk" in plan_hi, "fallback guard missing"
        # guard and native shape agree on the result
        a = sorted(map(tuple, R.champion_lists(idx, m=4).collect()))
    finally:
        spark.conf.unset("spark.sql.optimizer.windowGroupLimitThreshold")
    b = sorted(map(tuple, R.champion_lists(idx, m=4).collect()))
    assert a == b
