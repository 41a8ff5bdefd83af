"""Property tests (hypothesis): invariants that fixed examples miss."""

from __future__ import annotations

import numpy as np
from hypothesis import given, settings
from hypothesis import strategies as st

from gcf_corima_parquet_converter_spark.schema.sanitize import sanitize_name
from gcf_corima_parquet_converter_spark.sources.dat import (
    DecodeParams,
    PacketFramer,
    frame_packets,
)

PARAMS = DecodeParams(
    dim=3, data_type="int16", samples_per_ts=8, sensitivity=0.001, odr=100.0
)
PACKET = PARAMS.samples_per_ts * PARAMS.dim * 2 + 8


@settings(max_examples=40, deadline=None)
@given(
    n_packets=st.integers(0, 6),
    tail=st.integers(0, PACKET - 1),
    data=st.data(),
)
def test_framer_chunking_invariance(n_packets, tail, data):
    """Decoding a byte stream through ANY chunking equals decoding the
    whole buffer at once — the T2 remainder-carry law."""
    rng = np.random.default_rng(42)
    total = n_packets * PACKET + tail
    buf = rng.integers(0, 256, total, dtype=np.uint8).tobytes()
    # random cut points
    n_cuts = data.draw(st.integers(0, min(8, total)))
    cuts = sorted(data.draw(
        st.lists(st.integers(0, total), min_size=n_cuts, max_size=n_cuts)
    ))
    chunks = [buf[a:b] for a, b in zip([0] + cuts, cuts + [total])]

    whole_samples, whole_ts, whole_rest = frame_packets(buf, PARAMS)
    framer = PacketFramer(PARAMS)
    parts = [framer.feed(c) for c in chunks]
    got_samples = (
        np.concatenate([s for s, _ in parts if len(s)])
        if any(len(s) for s, _ in parts)
        else np.empty((0, PARAMS.dim))
    )
    got_ts = np.concatenate([t for _, t in parts])
    np.testing.assert_array_equal(got_samples, whole_samples)
    np.testing.assert_array_equal(got_ts, whole_ts)
    assert framer._buf == whole_rest


@settings(max_examples=200, deadline=None)
@given(st.text(max_size=40))
def test_sanitize_name_idempotent_and_safe(name):
    once = sanitize_name(name)
    assert sanitize_name(once) == once  # idempotent
    assert " " not in once and "[" not in once and "]" not in once


@settings(max_examples=8, deadline=None)
@given(data=st.data())
def test_asof_join_matches_pandas_property(spark, data):
    """asof_join == pandas merge_asof for random inputs (right side
    unique per (k, t) — duplicate on-values use the engine's own
    deterministic tiebreak, which pandas cannot model)."""
    import pandas as pd

    from gcf_corima_parquet_converter_spark.operators.telemetry import asof_join

    n_l = data.draw(st.integers(1, 25))
    lt = data.draw(
        st.lists(st.integers(0, 100), min_size=n_l, max_size=n_l)
    )
    lk = data.draw(
        st.lists(st.integers(0, 2), min_size=n_l, max_size=n_l)
    )
    rt = sorted(
        data.draw(st.sets(st.integers(0, 100), min_size=1, max_size=15))
    )
    rk = data.draw(
        st.lists(st.integers(0, 2), min_size=len(rt), max_size=len(rt))
    )
    direction = data.draw(st.sampled_from(["backward", "forward"]))
    # Tolerance interacts with the struct-carry (the match is found,
    # THEN nulled when the gap exceeds tolerance): draw it too, so
    # forward+tolerance+null-payload interleavings are all pinned.
    tolerance = data.draw(st.sampled_from([None, 1, 7, 40]))
    # Some right rows carry a genuinely-NULL payload: a matched null row
    # must yield null, not a stale value from an earlier right row.
    null_mask = data.draw(
        st.lists(st.booleans(), min_size=len(rt), max_size=len(rt))
    )
    rv_vals = [
        None if null_mask[v] else float(v * 10) for v in range(len(rt))
    ]
    left = pd.DataFrame({"k": lk, "t": sorted(lt), "lv": range(n_l)})
    right = pd.DataFrame(
        {"k": rk, "t": rt, "rv": [np.nan if v is None else v for v in rv_vals]}
    )

    exp = pd.merge_asof(
        left, right, on="t", by="k", direction=direction, tolerance=tolerance
    )
    spark_right = spark.createDataFrame(
        list(zip(rk, rt, rv_vals)), schema="k long, t long, rv double"
    )
    got = (
        asof_join(
            spark.createDataFrame(left),
            spark_right,
            on="t",
            right_cols=["rv"],
            by=["k"],
            direction=direction,
            tolerance=tolerance,
        )
        .orderBy("lv")
        .toPandas()
    )
    e = exp.sort_values("lv")["rv"].astype("float64").to_numpy()
    g = got["rv"].astype("float64").to_numpy()
    assert ((e == g) | (np.isnan(e) & np.isnan(g))).all(), (direction, tolerance, exp, got)


@settings(max_examples=6, deadline=None)
@given(data=st.data())
def test_line_dedup_matches_python_model(spark, data):
    """line_dedup == the obvious per-corpus Python model: a content
    line is dropped iff its trimmed text appears in >= min_docs
    distinct docs; blank lines survive; order is preserved."""
    from gcf_corima_parquet_converter_spark.operators import dedup as D

    pool = ["alpha", "beta", "gamma", "delta", "  ", ""]
    n_docs = data.draw(st.integers(2, 5))
    docs = {
        i: data.draw(st.lists(st.sampled_from(pool), min_size=0, max_size=6))
        for i in range(n_docs)
    }
    min_docs = data.draw(st.integers(2, 3))

    from collections import defaultdict

    appears: dict[str, set[int]] = defaultdict(set)
    for i, lines in docs.items():
        for ln in lines:
            if ln.strip():
                appears[ln.strip()].add(i)
    dup = {k for k, v in appears.items() if len(v) >= min_docs}
    expected = {
        i: "\n".join(ln for ln in lines if not (ln.strip() and ln.strip() in dup))
        for i, lines in docs.items()
    }

    df = spark.createDataFrame(
        [(i, "\n".join(lines)) for i, lines in docs.items()], ["doc_id", "text"]
    )
    got = {
        r["doc_id"]: r["text"]
        for r in D.line_dedup(df, "doc_id", "text", min_docs=min_docs).collect()
    }
    assert got == expected


@settings(max_examples=6, deadline=None)
@given(
    f1=st.floats(0.1, 0.9),
    f2=st.floats(0.1, 0.9),
    salt=st.sampled_from(["", "a", "b"]),
)
def test_weighted_sample_monotone_in_fraction(spark, f1, f2, salt):
    """Raising the fraction only ADDS rows (the per-row uniform is
    fixed by (id, salt), the threshold scales linearly) — so sample
    sets are nested, which makes fraction sweeps reproducible."""
    from gcf_corima_parquet_converter_spark.operators.pipeline import weighted_sample

    lo, hi = sorted([f1, f2])
    rows = [(i, float(1 + (i * 7) % 13)) for i in range(60)]
    df = spark.createDataFrame(rows, ["id", "w"])
    small = {
        r["id"] for r in weighted_sample(df, "id", "w", lo, salt=salt).collect()
    }
    big = {
        r["id"] for r in weighted_sample(df, "id", "w", hi, salt=salt).collect()
    }
    assert small <= big


@settings(max_examples=8, deadline=None)
@given(data=st.data())
def test_dedup_components_matches_python_union_find(spark, data):
    """dedup_components vs a driver-side union-find on random pair
    graphs: every node labeled, label == min id of its component."""
    from gcf_corima_parquet_converter_spark.operators import dedup as D

    n_nodes = data.draw(st.integers(2, 30))
    edges = data.draw(
        st.lists(
            st.tuples(
                st.integers(0, n_nodes - 1), st.integers(0, n_nodes - 1)
            ).filter(lambda e: e[0] != e[1]),
            min_size=1,
            max_size=40,
        )
    )
    # python model: union-find with path compression
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    def union(a, b):
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)

    for a, b in edges:
        union(a, b)
    expected = {x: find(x) for x in parent}

    pairs = spark.createDataFrame(edges, "id_a long, id_b long")
    got = {r["id"]: r["comp"] for r in D.dedup_components(pairs).collect()}
    assert got == expected


@settings(max_examples=6, deadline=None)
@given(data=st.data())
def test_duplicate_spans_matches_python_model(spark, data):
    """duplicate_spans vs a plain-Python sliding-window model on random
    small-alphabet corpora (duplicated runs arise naturally)."""
    from collections import defaultdict

    from gcf_corima_parquet_converter_spark.operators import dedup as D

    W = data.draw(st.integers(2, 4))
    n_docs = data.draw(st.integers(2, 5))
    docs = {
        i: data.draw(st.lists(st.sampled_from("abc"), min_size=0, max_size=14))
        for i in range(1, n_docs + 1)
    }

    owners = defaultdict(set)
    wins = {
        i: {p: " ".join(t[p : p + W]) for p in range(len(t) - W + 1)}
        for i, t in docs.items()
    }
    for i, ws in wins.items():
        for w in ws.values():
            owners[w].add(i)
    expected = {}
    for i, t in docs.items():
        pos = sorted(p for p, w in wins[i].items() if len(owners[w]) >= 2)
        spans, last = [], None
        for p in pos:
            if last is not None and p == last + 1:
                spans[-1] = (spans[-1][0], p + W)
            else:
                spans.append((p, p + W))
            last = p
        if spans:
            expected[i] = spans

    df = spark.createDataFrame(
        [(i, " ".join(t)) for i, t in docs.items()], "doc_id long, text string"
    )
    got = defaultdict(list)
    for r in (
        D.duplicate_spans(df, "doc_id", "text", width=W)
        .orderBy("doc_id", "span_start")
        .collect()
    ):
        got[r["doc_id"]].append((r["span_start"], r["span_end"]))
    assert dict(got) == expected


@settings(max_examples=8, deadline=None)
@given(data=st.data())
def test_merge_spans_matches_python_interval_model(spark, data):
    """merge_spans vs a plain-Python sweep: disjoint, non-adjacent
    output covering exactly the union of the inputs (ends exclusive;
    touching spans merge; nested/duplicate spans collapse)."""
    from collections import defaultdict

    from gcf_corima_parquet_converter_spark.operators import dedup as D

    n_docs = data.draw(st.integers(1, 4))
    spans = {
        i: data.draw(
            st.lists(
                st.tuples(st.integers(0, 20), st.integers(1, 10)).map(
                    lambda t: (t[0], t[0] + t[1])
                ),
                min_size=1,
                max_size=10,
            )
        )
        for i in range(1, n_docs + 1)
    }

    def model(ivals):
        out = []
        for s, e in sorted(ivals):
            if out and s <= out[-1][1]:  # overlap or touch: extend
                out[-1] = (out[-1][0], max(out[-1][1], e))
            else:
                out.append((s, e))
        return out

    expected = {i: model(v) for i, v in spans.items()}
    df = spark.createDataFrame(
        [(i, s, e) for i, v in spans.items() for s, e in v],
        "doc_id long, span_start long, span_end long",
    )
    got = defaultdict(list)
    for r in (
        D.merge_spans(df, "doc_id")
        .orderBy("doc_id", "span_start")
        .collect()
    ):
        got[r["doc_id"]].append((r["span_start"], r["span_end"]))
    assert dict(got) == expected
    # structural invariants: strictly increasing, disjoint, non-adjacent
    for v in got.values():
        assert all(b[0] > a[1] for a, b in zip(v, v[1:]))


@settings(max_examples=10, deadline=None)
@given(data=st.data())
def test_zorder_key_matches_model_random(spark, data):
    """Morton key == python interleave model for ANY boundary lists
    (including duplicate boundaries from skewed quantiles)."""
    import pyspark.sql.functions as F

    from gcf_corima_parquet_converter_spark.operators import scale

    bits = 3
    nb = (1 << bits) - 1
    bx = sorted(data.draw(st.lists(
        st.integers(-50, 50), min_size=nb, max_size=nb)))
    by = sorted(data.draw(st.lists(
        st.integers(-50, 50), min_size=nb, max_size=nb)))
    rows = data.draw(st.lists(
        st.tuples(st.integers(-60, 60), st.integers(-60, 60)),
        min_size=1, max_size=30))
    df = spark.createDataFrame(
        [(float(x), float(y)) for x, y in rows], "x double, y double"
    )
    collected = df.withColumn(
        "z",
        scale.zorder_key(
            df, ["x", "y"],
            {"x": [float(b) for b in bx], "y": [float(b) for b in by]},
            bits=bits,
        ),
    ).collect()

    def model(x, y):
        rx = sum(1 for b in bx if b <= x)
        ry = sum(1 for b in by if b <= y)
        key = 0
        for bit in range(bits):
            key |= ((rx >> bit) & 1) << (bit * 2)
            key |= ((ry >> bit) & 1) << (bit * 2 + 1)
        return key

    # each collected row carries its own inputs — no ordering assumption
    for r in collected:
        assert r["z"] == model(r["x"], r["y"]), (r["x"], r["y"])


@settings(max_examples=10, deadline=None)
@given(data=st.data())
def test_global_running_sum_matches_python_model(spark, data):
    """Exact prefix sums for ANY int values (negatives included) under
    ANY partition count."""
    from gcf_corima_parquet_converter_spark.operators import pipeline as P
    import pyspark.sql.functions as F

    vals = data.draw(st.lists(
        st.integers(-1000, 1000), min_size=1, max_size=60))
    n_parts = data.draw(st.integers(1, 5))
    df = spark.createDataFrame(
        [(i, v) for i, v in enumerate(vals)], "id long, v long"
    ).repartition(7)
    got = {
        r["id"]: r["running_sum"]
        for r in P.global_running_sum(
            df, [F.col("id")], "v", n_partitions=n_parts
        ).collect()
    }
    acc = 0
    for i, v in enumerate(vals):
        acc += v
        assert got[i] == acc, (i, v)


@settings(max_examples=8, deadline=None)
@given(data=st.data())
def test_interval_join_binned_matches_python_model(spark, data):
    """Bin-blocked interval join == the naive O(n*m) sweep for ANY
    points/intervals (empty, touching, nested, zero-width) and ANY
    bin width."""
    from gcf_corima_parquet_converter_spark.operators import telemetry as tm

    pts = data.draw(st.lists(st.integers(-50, 150), min_size=0, max_size=25))
    ivs = data.draw(st.lists(
        st.tuples(st.integers(-50, 150), st.integers(-5, 60)),
        min_size=0, max_size=12))
    w = data.draw(st.integers(1, 40))
    points = spark.createDataFrame(
        [(i, t) for i, t in enumerate(pts)], "pid int, Time long"
    )
    intervals = spark.createDataFrame(
        [(j, s, s + ln) for j, (s, ln) in enumerate(ivs)],
        "iv int, t_start long, t_end long",
    )
    got = sorted(
        (r["pid"], r["iv"])
        for r in tm.interval_join_binned(points, intervals, w).collect()
    )
    want = sorted(
        (i, j)
        for i, t in enumerate(pts)
        for j, (s, ln) in enumerate(ivs)
        if s <= t < s + ln
    )
    assert got == want


@settings(max_examples=8, deadline=None)
@given(data=st.data())
def test_apply_corpus_update_matches_dict_model(spark, data):
    """MERGE semantics == a Python dict applied the obvious way, for
    ANY base/update id overlap pattern including tombstones of
    missing ids."""
    from gcf_corima_parquet_converter_spark.operators import pipeline as P

    base_ids = data.draw(st.lists(
        st.integers(0, 30), min_size=0, max_size=15, unique=True))
    upd = data.draw(st.lists(
        st.tuples(st.integers(0, 40), st.booleans()),
        min_size=0, max_size=15, unique_by=lambda t: t[0]))
    base = spark.createDataFrame(
        [(i, f"b{i}") for i in base_ids], "id long, txt string"
    )
    updates = spark.createDataFrame(
        [(i, f"u{i}", d) for i, d in upd], "id long, txt string, del boolean"
    )
    got = {r["id"]: r["txt"]
           for r in P.apply_corpus_update(base, updates, "id",
                                          delete_col="del").collect()}
    model = {i: f"b{i}" for i in base_ids}
    for i, d in upd:
        if d:
            model.pop(i, None)
        else:
            model[i] = f"u{i}"
    assert got == model


@settings(max_examples=8, deadline=None)
@given(
    dim=st.integers(1, 4),
    spts=st.sampled_from([0, 4, 16]),
    dtype=st.sampled_from(["int16", "float32"]),
    n_packets=st.integers(1, 40),
    tail=st.integers(0, 30),
    split_packets=st.integers(1, 7),
)
def test_ranged_decode_equals_whole_file(
    spark, tmp_path_factory, dim, spts, dtype, n_packets, tail,
    split_packets,
):
    """r12 S4 invariant: for ANY wire format (dim/spts/dtype), trailing
    garbage, and packet-aligned split size, the ranged decode emits
    exactly the whole-file decode's rows (numpy over the whole file's
    bytes)."""
    import os

    from gcf_corima_parquet_converter_spark.sources.dat import decode_dat
    from tests.fixtures import decode_reference

    p = DecodeParams(
        dim=dim,
        data_type=dtype,
        samples_per_ts=spts,
        sensitivity=0.5,
        odr=64.0,
        axis_names=tuple(f"c{i}" for i in range(dim)),
    )
    rng = np.random.default_rng(n_packets * 31 + dim)
    rows_per_packet = spts if spts else 1
    if spts == 0:
        # stampless wire format: every plen bytes IS a sample, so
        # "trailing garbage" is indistinguishable from data — keep the
        # tail sub-packet so the expected row count stays exact
        tail = tail % (dim * (2 if dtype == "int16" else 4))
    else:
        # same ambiguity one level up: a garbage tail of >= packet_len
        # bytes IS a valid packet byte-wise (no magic, no checksum on
        # this wire format) — every framing decodes it, so the planted
        # row count is only well-defined for a sub-packet tail.  Both
        # decode paths were verified to AGREE on the over-long tail
        # (each emits the ghost packet); only the expectation breaks.
        tail = tail % p.packet_len
    n = n_packets * rows_per_packet
    width = np.dtype("int16" if dtype == "int16" else "float32")
    raw = (rng.normal(0, 3, (n, dim)) * 100).astype(width)
    chunks = []
    for k in range(n_packets):
        chunks.append(raw[k * rows_per_packet : (k + 1) * rows_per_packet].tobytes())
        if spts:
            chunks.append(
                np.float64((k + 1) * rows_per_packet / p.odr).tobytes()
            )
    buf = b"".join(chunks) + b"\x7f" * tail
    d = tmp_path_factory.mktemp("rng")
    f = os.path.join(str(d), "s.dat")
    with open(f, "wb") as fh:
        fh.write(buf)

    whole = decode_reference(f, p)
    ranged = (
        decode_dat(spark, f, p, split_bytes=p.packet_len * split_packets)
        .toPandas().sort_values("Time").reset_index(drop=True)
    )
    assert len(whole) == len(ranged) == n
    np.testing.assert_allclose(
        ranged["Time"].to_numpy(), whole["Time"].to_numpy(), atol=1e-12
    )
    for i in range(dim):
        np.testing.assert_array_equal(
            ranged[f"c{i}"].to_numpy(), whole[f"c{i}"].to_numpy()
        )


@settings(max_examples=12, deadline=None)
@given(data=st.data())
def test_retrieval_eval_matches_python_model_property(spark, data):
    """retrieval_eval over RANDOM rankings + graded qrels equals the
    pure-Python trec_eval-style model EXACTLY (recall/rr/ap/ndcg as
    bit-identical doubles) — including duplicate judgments (max-rel
    collapse), unjudged queries, zero-hit queries, and rank cutoffs."""
    import math as _math

    from gcf_corima_parquet_converter_spark.operators import retrieval as R

    k = data.draw(st.integers(1, 6))
    n_q = data.draw(st.integers(1, 4))
    results, qrels = [], []
    for q in range(1, n_q + 1):
        n_res = data.draw(st.integers(0, 8))
        docs = data.draw(
            st.lists(st.integers(0, 12), min_size=n_res, max_size=n_res,
                     unique=True)
        )
        results.extend((q, d, r) for r, d in enumerate(docs, start=1))
        n_j = data.draw(st.integers(0, 10))
        for _ in range(n_j):
            qrels.append((
                q,
                data.draw(st.integers(0, 12)),
                data.draw(st.integers(0, 4)),  # rel 0 = not relevant
            ))
    # Python model with max-rel collapse for duplicate judgments
    disc = R.ndcg_discounts_fx(k, 10**9)
    rel = {}
    for q, d, r in qrels:
        if r >= 1:
            cur = rel.setdefault(q, {})
            cur[d] = max(cur.get(d, 0), r)
    want = {}
    for q, judged in rel.items():
        ranked = sorted((r, d) for (qq, d, r) in results
                        if qq == q and r <= k)
        hits = [(r, d) for r, d in ranked if d in judged]
        dcg = sum(((1 << judged[d]) - 1) * disc[r - 1] for r, d in hits)
        ideal = sorted(judged.items(), key=lambda kv: (-kv[1], kv[0]))[:k]
        idcg = sum(((1 << rr) - 1) * disc[i]
                   for i, (_, rr) in enumerate(ideal))
        first = min((r for r, _ in hits), default=None)
        ap_fx, cum = 0, 0
        for r, d in ranked:
            if d in judged:
                cum += 1
                ap_fx += _math.floor(cum * 1e9 / r + 0.5)
        want[q] = (
            len(judged), len(hits), first,
            len(hits) / len(judged),
            (1.0 / first) if first else 0.0,
            ap_fx / 1e9 / len(judged),
            dcg / idcg,
        )
    res_df = spark.createDataFrame(
        results or [(999, 999, 1)], "q_id long, doc_id long, rank int"
    )
    qrel_df = spark.createDataFrame(
        qrels or [(999, 999, 0)], "q_id long, doc_id long, rel int"
    )
    got = {
        r["q_id"]: (r["n_rel"], r["n_hits"], r["first_rel_rank"],
                    r["recall"], r["rr"], r["ap"], r["ndcg"])
        for r in R.retrieval_eval(res_df, qrel_df, k=k).collect()
        if r["q_id"] != 999
    }
    assert got == want


@settings(max_examples=12, deadline=None)
@given(data=st.data())
def test_ann_eval_matches_python_model_property(spark, data):
    """ann_eval over RANDOM approx/exact rankings equals the
    pure-Python model EXACTLY (recall/rr as bit-identical doubles) —
    including queries the approx side missed entirely, approx-only
    queries (dropped), rank cutoffs on both sides, and top-1
    agreement."""
    from gcf_corima_parquet_converter_spark.operators import similarity as S

    k = data.draw(st.integers(1, 6))
    n_q = data.draw(st.integers(1, 4))
    approx, exact = [], []
    for q in range(1, n_q + 1):
        ids = data.draw(
            st.lists(
                st.integers(0, 12), min_size=0, max_size=8, unique=True
            )
        )
        for rank, i in enumerate(ids, start=1):
            exact.append((q, i, rank))
        if data.draw(st.booleans()):  # approx may skip a query whole
            a_ids = data.draw(
                st.lists(
                    st.integers(0, 12), min_size=0, max_size=8, unique=True
                )
            )
            for rank, i in enumerate(a_ids, start=1):
                approx.append((q, i, rank))
    # an approx-only query must be dropped from the output
    approx.append((999, 1, 1))
    if not exact:
        return  # nothing to evaluate either engine-side or model-side

    ex_k = {}
    for q, i, r in exact:
        if r <= k:
            ex_k.setdefault(q, {})[i] = r
    ap_k = {}
    for q, i, r in approx:
        if r <= k:
            ap_k.setdefault(q, {})[i] = r
    want = {}
    for q, truth in ex_k.items():
        got = ap_k.get(q, {})
        hits = [got[i] for i in truth if i in got]
        first = min(hits) if hits else None
        top1 = [i for i, r in truth.items() if r == 1]
        want[q] = (
            len(truth),
            len(hits),
            len(hits) / len(truth),
            first,
            (1.0 / first) if first else 0.0,
            int(bool(top1) and got.get(top1[0]) == 1),
        )

    a_df = spark.createDataFrame(
        approx, "q_id long, vec_id long, rank int"
    )
    e_df = spark.createDataFrame(exact, "q_id long, vec_id long, rank int")
    got = {
        r["q_id"]: (
            r["n_exact"], r["n_hits"], r["recall"],
            r["first_hit_rank"], r["rr"], r["top1_hit"],
        )
        for r in S.ann_eval(a_df, e_df, k=k).collect()
    }
    assert got == want
