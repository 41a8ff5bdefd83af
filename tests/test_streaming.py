"""Streaming twin: stateful packet reassembly across micro-batches and
windowed RMS with watermark — verified against the batch pipeline."""

import glob
import os

import numpy as np
import pandas as pd
import pyspark.sql.functions as F
import pytest

from gcf_corima_parquet_converter_spark.sources.dat import (
    DecodeParams,
    frame_packets,
    sample_times,
)
from gcf_corima_parquet_converter_spark.streaming.ingest import (
    CHUNK_SCHEMA,
    reassemble_packets,
    streaming_rms,
)
from tests.fixtures import make_dat_bytes

P = DecodeParams(
    dim=3, data_type="int16", samples_per_ts=64, sensitivity=0.000061, odr=2000.0
)


def _write_chunk_files(tmp_path, data: bytes, n_files: int, cut: int):
    """Split the byte stream into chunk rows spread over n_files parquet
    files (each file = one micro-batch with availableNow + 1-file
    trigger not guaranteed; we use one batch and verify state via a
    second directory pass instead)."""
    chunks = [data[i : i + cut] for i in range(0, len(data), cut)]
    per = (len(chunks) + n_files - 1) // n_files
    os.makedirs(tmp_path, exist_ok=True)
    for f in range(n_files):
        part = chunks[f * per : (f + 1) * per]
        pdf = pd.DataFrame(
            {
                "comp_name": "iis3dwb_acc",
                "chunk_id": range(f * per, f * per + len(part)),
                "chunk": part,
            }
        )
        pdf.to_parquet(f"{tmp_path}/chunks_{f:03d}.parquet")
    return len(chunks)


def test_streaming_reassembly_matches_batch(spark, tmp_path):
    data, in_g, t = make_dat_bytes(n_seconds=3.0)
    cut = 1000  # not a packet multiple: every chunk splits a packet
    src = str(tmp_path / "chunks")
    _write_chunk_files(src, data, n_files=4, cut=cut)
    stream = (
        spark.readStream.schema(CHUNK_SCHEMA)
        .option("maxFilesPerTrigger", 1)  # several micro-batches -> state carry
        .parquet(src)
    )
    decoded = reassemble_packets(stream, {"iis3dwb_acc": P})
    out = str(tmp_path / "out")
    q = (
        decoded.writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = (
        spark.read.parquet(out)
        .orderBy("sample_idx")
        .toPandas()
        .reset_index(drop=True)
    )
    exp_samples, exp_ts, _ = frame_packets(data, P)
    assert len(got) == len(exp_samples)
    np.testing.assert_allclose(got["A_x_g"], exp_samples[:, 0])
    np.testing.assert_allclose(
        got["Time"], sample_times(exp_ts, P, len(exp_samples)), atol=1e-12
    )


def test_streaming_rms_matches_batch_pipeline(spark, tmp_path):
    from gcf_corima_parquet_converter_spark.operators.telemetry import tumbling_rms

    data, in_g, t = make_dat_bytes(n_seconds=4.5)
    src = str(tmp_path / "chunks2")
    _write_chunk_files(src, data, n_files=3, cut=4096)
    stream = (
        spark.readStream.schema(CHUNK_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    rms_stream = streaming_rms(reassemble_packets(stream, {"iis3dwb_acc": P}))
    q = (
        rms_stream.writeStream.format("memory")
        .queryName("rms_stream_t")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt2"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = (
        spark.table("rms_stream_t")
        .orderBy("Time")
        .select("Time", "rms_x", "rms_y", "rms_z", "rms_mod")
        .toPandas()
    )
    # batch reference on the same decoded samples
    samples, ts, _ = frame_packets(data, P)
    pdf = pd.DataFrame(
        {
            "Time": (np.rint(sample_times(ts, P, len(samples)) * 1e9)).astype("int64"),
            "A_x_g": samples[:, 0],
            "A_y_g": samples[:, 1],
            "A_z_g": samples[:, 2],
        }
    )
    exp = (
        tumbling_rms(
            spark.createDataFrame(pdf),
            value_cols=["A_x_g", "A_y_g", "A_z_g"],
            rename={"A_x_g": "rms_x", "A_y_g": "rms_y", "A_z_g": "rms_z"},
        )
        .orderBy("Time")
        .toPandas()
    )
    # Append-mode watermarking only finalizes a window once the
    # watermark (set from PREVIOUS batches) passes its end, and
    # availableNow stops without a flushing batch — so trailing windows
    # legitimately stay in state.  Every EMITTED window must be a
    # bit-equal prefix of the batch pipeline's result.
    assert 1 <= len(got) <= len(exp)
    merged = got.merge(exp, on="Time", suffixes=("_s", "_b"))
    assert len(merged) == len(got), "streaming emitted a window batch lacks"
    for c in ["rms_x", "rms_y", "rms_z", "rms_mod"]:
        np.testing.assert_allclose(merged[f"{c}_s"], merged[f"{c}_b"], rtol=1e-9)


def test_sessionize_batch_and_stream(spark, tmp_path):
    from gcf_corima_parquet_converter_spark.streaming.ingest import sessionize

    # two users; user 1 has two sessions split by a >10s gap
    pdf = pd.DataFrame(
        {
            "user_id": [1, 1, 1, 2, 2],
            "ts": pd.to_datetime(
                ["2025-01-01 00:00:00", "2025-01-01 00:00:05",
                 "2025-01-01 00:01:00", "2025-01-01 00:00:00",
                 "2025-01-01 00:00:03"]
            ),
        }
    )
    batch = sessionize(
        spark.createDataFrame(pdf), gap="10 seconds", watermark=None
    )
    rows = {(r.user_id, r.n_events) for r in batch.collect()}
    assert rows == {(1, 2), (1, 1), (2, 2)}

    src = str(tmp_path / "sess_src")
    # write via Spark: pandas' parquet writer emits TIMESTAMP(NANOS),
    # which the explicit 'ts timestamp' stream schema rejects
    spark.createDataFrame(pdf).coalesce(1).write.parquet(src)
    stream = spark.readStream.schema("user_id long, ts timestamp").parquet(src)
    q = (
        sessionize(stream, gap="10 seconds", watermark="5 seconds")
        .writeStream.format("memory")
        .queryName("sessions_t")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "sess_ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {(r.user_id, r.n_events) for r in spark.table("sessions_t").collect()}
    # append mode emits only watermark-closed sessions; all emitted
    # sessions must appear in the batch result
    assert got <= rows


def test_acquisition_gate_waits_then_processes_once(spark, tmp_path):
    from gcf_corima_parquet_converter_spark.sources.synthetic import write_acquisition
    from gcf_corima_parquet_converter_spark.streaming.acquisition_gate import (
        stream_acquisitions,
    )

    landing = str(tmp_path / "landing")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "gate_ckpt")
    acq = os.path.join(landing, "ACQ1")
    write_acquisition(acq)
    # make it INCOMPLETE: hold back the .dat
    dat = os.path.join(acq, "iis3dwb_acc.dat")
    held = os.path.join(str(tmp_path), "held.dat")
    os.rename(dat, held)

    processed: list[str] = []
    q = stream_acquisitions(
        spark, landing, out, ckpt,
        on_processed=lambda folder, res: processed.append(folder),
    )
    q.awaitTermination(120)
    assert processed == []          # gate held: acquisition incomplete
    assert not os.path.exists(os.path.join(out, "iis3dwb_acc"))

    # final file arrives -> a new availableNow pass completes the dir
    os.rename(held, dat)
    q2 = stream_acquisitions(
        spark, landing, out, ckpt,
        on_processed=lambda folder, res: processed.append(folder),
    )
    q2.awaitTermination(120)
    assert processed == [acq]
    enriched = spark.read.parquet(os.path.join(out, "iis3dwb_acc"))
    assert enriched.count() > 0 and "alias" in enriched.columns

    # third pass: marker prevents reprocessing even though readiness holds
    q3 = stream_acquisitions(
        spark, landing, out, ckpt,
        on_processed=lambda folder, res: processed.append(folder),
    )
    q3.awaitTermination(120)
    assert processed == [acq]       # still exactly once


def test_dedup_stream_drops_cross_batch_redeliveries(spark, tmp_path):
    """Duplicate keys re-delivered in a LATER micro-batch (within the
    watermark) must be dropped; distinct keys all survive."""
    from gcf_corima_parquet_converter_spark.streaming.ingest import dedup_stream

    src = str(tmp_path / "docs")
    os.makedirs(src, exist_ok=True)
    base = pd.Timestamp("2025-07-11T16:00:00Z")
    # batch 0: docs 0..9; batch 1: docs 5..14 (5 redeliveries) + 10..14 new
    for f, ids in enumerate([range(0, 10), range(5, 15)]):
        pd.DataFrame(
            {
                "doc_id": list(ids),
                "ts": [base + pd.Timedelta(seconds=f * 10 + i) for i in ids],
            }
        ).astype({"ts": "datetime64[us, UTC]"}).to_parquet(
            f"{src}/batch_{f}.parquet"
        )

    stream = (
        spark.readStream.schema("doc_id long, ts timestamp")
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    out = str(tmp_path / "out")
    q = (
        dedup_stream(stream, ["doc_id"], watermark="10 minutes")
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", str(tmp_path / "ckpt_dedup"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = spark.read.parquet(out).toPandas()
    assert sorted(got.doc_id) == list(range(15))  # each key exactly once


def test_label_stream_matches_batch_interval_join(spark, tmp_path):
    """Stream-stream tag join labels exactly the samples inside each
    tag interval — verified against the batch label_samples result."""
    from gcf_corima_parquet_converter_spark.operators.telemetry import label_samples
    from gcf_corima_parquet_converter_spark.streaming.ingest import label_stream

    base = pd.Timestamp("2025-07-11T16:00:00Z")
    sec = pd.Timedelta(seconds=1)
    samples_pdf = pd.DataFrame(
        {
            "sample_id": range(40),
            "ts": [base + i * sec for i in range(40)],
        }
    ).astype({"ts": "datetime64[us, UTC]"})
    tags_pdf = pd.DataFrame(
        {
            "label": ["run", "idle"],
            "t_start": [base + 5 * sec, base + 20 * sec],
            "t_end": [base + 12 * sec, base + 25 * sec],
        }
    ).astype({"t_start": "datetime64[us, UTC]", "t_end": "datetime64[us, UTC]"})

    s_dir, t_dir = str(tmp_path / "samples"), str(tmp_path / "tags")
    os.makedirs(s_dir), os.makedirs(t_dir)
    samples_pdf.iloc[:20].to_parquet(f"{s_dir}/a.parquet")
    samples_pdf.iloc[20:].to_parquet(f"{s_dir}/b.parquet")
    tags_pdf.to_parquet(f"{t_dir}/t.parquet")

    s_stream = spark.readStream.schema("sample_id long, ts timestamp").parquet(s_dir)
    t_stream = spark.readStream.schema(
        "label string, t_start timestamp, t_end timestamp"
    ).parquet(t_dir)
    out = str(tmp_path / "out")
    q = (
        label_stream(s_stream, t_stream, max_duration="1 minute")
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", str(tmp_path / "ckpt_label"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = spark.read.parquet(out).toPandas().sort_values("sample_id")

    expect = (
        label_samples(
            spark.createDataFrame(samples_pdf),
            spark.createDataFrame(tags_pdf),
            time_col="ts",
            how="inner",
        )
        .toPandas()
        .sort_values("sample_id")
    )
    assert list(got.sample_id) == list(expect.sample_id)
    assert list(got.label) == list(expect.label)
    # interval semantics: [start, end) — ids 5..11 run, 20..24 idle
    assert list(got.sample_id) == list(range(5, 12)) + list(range(20, 25))


def test_curation_ops_compose_with_streams(spark, tmp_path):
    """hash_split and redact_pii are pure narrow maps, so they apply
    unchanged to a streaming ingest — the continuous training-data
    pipeline shape (stream -> split/scrub -> partitioned sink)."""
    from gcf_corima_parquet_converter_spark.operators.pipeline import (
        hash_split,
        redact_pii,
    )

    src = str(tmp_path / "cur_src")
    os.makedirs(src)
    pd.DataFrame(
        {
            "doc_id": range(50),
            "text": [f"doc {i} contact x{i}@example.com ok" for i in range(50)],
        }
    ).to_parquet(f"{src}/a.parquet")

    stream = spark.readStream.schema("doc_id long, text string").parquet(src)
    out = str(tmp_path / "cur_out")
    q = (
        redact_pii(hash_split(stream, "doc_id"), "text")
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", str(tmp_path / "cur_ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = spark.read.parquet(out).toPandas()
    assert len(got) == 50
    assert set(got.split) <= {"train", "val", "test"}
    assert (got.n_email == 1).all()
    assert got.text.str.contains(r"\[EMAIL\]", regex=True).all()
    assert not got.text.str.contains("example.com").any()


def test_near_dup_stream_gates_duplicates(spark, tmp_path):
    """Streaming LSH novelty gate vs the batch LSH on the same corpus:
    exact copies vanish entirely; distinct docs emit fully novel; a
    mutated copy's verdict agrees with whether the BATCH banding
    collides it with its original (same hash kernels both sides)."""
    from gcf_corima_parquet_converter_spark.operators import dedup as D
    from gcf_corima_parquet_converter_spark.streaming.ingest import near_dup_stream

    base = pd.Timestamp("2025-07-11T16:00:00Z")
    prose = (
        "the quick brown fox jumps over the lazy dog while seven wizards "
        "brew strong potions at midnight under a pale cold moon"
    )
    other = (
        "completely different subject matter entirely about spark adaptive "
        "query execution exchange reuse and broadcast hash join planning"
    )
    mutated = " ".join(prose.split()[:-2])  # near-copy: last 2 tokens cut
    batches = [
        [(1, prose), (2, other)],
        [(3, prose), (4, mutated)],  # 3 = exact copy, 4 = near copy
        [(99, "watermark sentinel advancing event time far ahead")],
    ]
    src = str(tmp_path / "docs")
    os.makedirs(src, exist_ok=True)
    for f, rows in enumerate(batches):
        ts = base + pd.Timedelta(minutes=30 if f == 2 else 0, seconds=f * 5)
        pd.DataFrame(
            {
                "doc_id": [r[0] for r in rows],
                "text": [r[1] for r in rows],
                "ts": [ts] * len(rows),
            }
        ).astype({"ts": "datetime64[us, UTC]"}).to_parquet(f"{src}/b{f}.parquet")

    stream = (
        spark.readStream.schema("doc_id long, text string, ts timestamp")
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    out = str(tmp_path / "out")
    q = (
        near_dup_stream(stream, "doc_id", "text", watermark="10 minutes")
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", str(tmp_path / "ckpt_nd"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    got = {
        int(r["doc_id"]): (int(r["n_novel_bands"]), bool(r["is_candidate_dup"]))
        for r in spark.read.parquet(out).collect()
    }
    # originals fully novel; exact copy swallowed entirely
    assert got[1] == (4, False)
    assert got[2] == (4, False)
    assert 3 not in got
    # mutated copy: same verdict as the batch banding on the same corpus
    corpus = spark.createDataFrame(
        [(1, prose), (2, other), (4, mutated)], ["doc_id", "text"]
    )
    batch_cand = {
        (r["id_a"], r["id_b"])
        for r in D.minhash_candidate_pairs(
            D.minhash_signatures(corpus, "doc_id", "text", k=16),
            "doc_id", bands=4, rows_per_band=4,
        ).collect()
    }
    if (1, 4) in batch_cand:
        assert 4 not in got or got[4][1], "batch collides (1,4) but stream saw all bands novel"
    else:
        assert got[4] == (4, False)


def test_verify_flagged_pairs_matches_batch(spark, tmp_path):
    """Lambda companion parity: gate flags + verify_flagged_pairs over
    the replayed window == batch minhash_dedup_pairs on the same slice
    (every batch candidate pair touches >=1 flagged endpoint, so the
    flagged restriction loses nothing)."""
    from gcf_corima_parquet_converter_spark.operators import dedup as D
    from gcf_corima_parquet_converter_spark.streaming.ingest import near_dup_stream

    base = pd.Timestamp("2025-07-11T16:00:00Z")
    prose = (
        "the quick brown fox jumps over the lazy dog while seven wizards "
        "brew strong potions at midnight under a pale cold moon"
    )
    other = (
        "completely different subject matter entirely about spark adaptive "
        "query execution exchange reuse and broadcast hash join planning"
    )
    mutated = " ".join(prose.split()[:-2])       # near copy of 1
    docs = [
        (1, prose), (2, other),                  # batch 0: originals
        (3, prose), (4, mutated),                # batch 1: exact + near copy
        (5, other + " with a small trailing addition here"),  # near copy of 2
    ]
    batches = [docs[:2], docs[2:]]
    src = str(tmp_path / "docs")
    os.makedirs(src, exist_ok=True)
    for f, rows in enumerate(batches):
        pd.DataFrame(
            {
                "doc_id": [r[0] for r in rows],
                "text": [r[1] for r in rows],
                "ts": [base + pd.Timedelta(seconds=f * 5)] * len(rows),
            }
        ).astype({"ts": "datetime64[us, UTC]"}).to_parquet(f"{src}/b{f}.parquet")
    # sentinel batch far ahead so every doc window finalizes
    pd.DataFrame(
        {"doc_id": [99], "text": ["sentinel advancing the watermark clock"],
         "ts": [base + pd.Timedelta(minutes=30)]}
    ).astype({"ts": "datetime64[us, UTC]"}).to_parquet(f"{src}/b9.parquet")

    stream = (
        spark.readStream.schema("doc_id long, text string, ts timestamp")
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    out = str(tmp_path / "out")
    q = (
        near_dup_stream(stream, "doc_id", "text", watermark="10 minutes")
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", str(tmp_path / "ckpt_vf"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    emitted = spark.read.parquet(out).collect()
    flagged_ids = {int(r["doc_id"]) for r in emitted if r["is_candidate_dup"]}
    # swallowed docs (all buckets claimed) never emit: they are flagged too
    input_ids = {d[0] for d in docs}
    flagged_ids |= input_ids - {int(r["doc_id"]) for r in emitted}
    assert flagged_ids, "fixture must flag at least the exact copy"

    slice_df = spark.createDataFrame(docs, ["doc_id", "text"])
    flagged = spark.createDataFrame(
        [(i,) for i in sorted(flagged_ids)], ["doc_id"]
    )
    lam = {
        (r["id_a"], r["id_b"], r["n_common"], r["n_a"], r["n_b"])
        for r in D.verify_flagged_pairs(
            slice_df, flagged, "doc_id", "text", k=16, bands=4
        ).collect()
    }
    batch = {
        (r["id_a"], r["id_b"], r["n_common"], r["n_a"], r["n_b"])
        for r in D.minhash_dedup_pairs(
            slice_df, "doc_id", "text", k=16, bands=4
        ).collect()
    }
    # same banding geometry both sides (k=16, bands=4 — the gate's):
    # candidates then agree bucket-for-bucket and the exact verify makes
    # the PAIR sets identical
    assert lam == batch
    # the exact copy collides in every band — guaranteed present
    assert (1, 3) in {(a, b) for a, b, *_ in lam}


def test_near_dup_stream_state_survives_restart(spark, tmp_path):
    """The novelty gate's bucket state must recover from the checkpoint
    across query RESTARTS: an exact copy arriving in a later RUN (same
    checkpoint, within the watermark) is still swallowed."""
    from gcf_corima_parquet_converter_spark.streaming.ingest import near_dup_stream

    base = pd.Timestamp("2025-07-11T16:00:00Z")
    prose = (
        "alpha beta gamma delta epsilon zeta eta theta iota kappa "
        "lambda mu nu xi omicron pi rho sigma tau upsilon"
    )
    src = str(tmp_path / "docs")
    os.makedirs(src, exist_ok=True)
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt_restart")

    def write_batch(fname, rows, minutes):
        pd.DataFrame(
            {
                "doc_id": [r[0] for r in rows],
                "text": [r[1] for r in rows],
                "ts": [base + pd.Timedelta(minutes=minutes)] * len(rows),
            }
        ).astype({"ts": "datetime64[us, UTC]"}).to_parquet(f"{src}/{fname}.parquet")

    def run_once():
        stream = (
            spark.readStream.schema("doc_id long, text string, ts timestamp")
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )
        q = (
            near_dup_stream(stream, "doc_id", "text", watermark="30 minutes")
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(180)

    write_batch("a", [(1, prose)], 0)
    run_once()  # run 1: doc 1 claims its buckets; query STOPS

    # run 2, same checkpoint: an exact copy within the watermark, plus a
    # sentinel far ahead so doc windows finalize
    write_batch("b", [(2, prose)], 5)
    write_batch("c", [(99, "sentinel text advancing the watermark clock")], 60)
    run_once()

    got = {
        int(r["doc_id"]): int(r["n_novel_bands"])
        for r in spark.read.parquet(out).collect()
    }
    assert got.get(1) == 4     # original fully novel
    assert 2 not in got        # copy swallowed by state recovered from ckpt


def test_windowed_distinct_stream_matches_batch(spark, tmp_path):
    """Streaming HLL windowed distinct (live twin of the sketch tier):
    every emitted window's estimate equals the batch hll estimate on
    the same rows (same aggregate, same lg_k -> bit-equal)."""
    import os
    import time as _time

    from gcf_corima_parquet_converter_spark.streaming.ingest import (
        windowed_distinct,
    )

    src = str(tmp_path / "events_src")
    os.makedirs(src)
    base = 1_700_000_000  # epoch seconds
    early = [(i % 37, base + (i % 100)) for i in range(400)]  # windows 0-1
    late = [(i % 11, base + 600 + i % 30) for i in range(100)]  # 10 min later
    sch = "user_id long, epoch long"

    def write_file(rows, name, mtime):
        p = str(tmp_path / name)
        spark.createDataFrame(rows, sch).coalesce(1).write.mode(
            "overwrite"
        ).parquet(p)
        import glob as _g
        import shutil

        [f] = _g.glob(os.path.join(p, "part-*.parquet"))
        dst = os.path.join(src, name + ".parquet")
        shutil.copy(f, dst)
        os.utime(dst, (mtime, mtime))

    now = _time.time()
    write_file(early, "a", now - 60)
    write_file(late, "b", now)

    stream = (
        spark.readStream.schema(sch)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
        .withColumn("ts", F.timestamp_seconds("epoch"))
    )
    out = windowed_distinct(stream, "user_id", window="1 minute",
                            watermark="2 minutes", lg_k=12)
    q = (
        out.writeStream.format("memory")
        .queryName("wd_stream_t")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt_wd"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        r["window_start"]: r["approx_distinct"]
        for r in spark.table("wd_stream_t").collect()
    }
    # the late file's watermark (base+600+29 - 2min) passes the early
    # windows, so they must have been emitted
    assert len(got) >= 1
    batch = spark.createDataFrame(early + late, sch).withColumn(
        "ts", F.timestamp_seconds("epoch")
    )
    exp = {
        r["window_start"]: r["approx_distinct"]
        for r in batch.groupBy(F.window("ts", "1 minute").alias("w"))
        .agg(
            F.hll_sketch_estimate(
                F.hll_sketch_agg("user_id", F.lit(12))
            ).alias("approx_distinct")
        )
        .select(F.col("w.start").alias("window_start"), "approx_distinct")
        .collect()
    }
    for w, n in got.items():
        assert exp[w] == n, (w, n, exp.get(w))


def test_windowed_histogram_stream_matches_batch(spark, tmp_path):
    """Streaming histogram sketch (live twin of the quantile tier):
    every emitted window's (bucket, n) rows equal the batch
    histogram_shard_sketch on the same rows, and feeding the emitted
    rows to histogram_percentiles gives the same p50/p90 as the batch
    path end-to-end."""
    import os
    import time as _time

    from gcf_corima_parquet_converter_spark.operators import sketches as K
    from gcf_corima_parquet_converter_spark.streaming.ingest import (
        windowed_histogram,
    )

    src = str(tmp_path / "vals_src")
    os.makedirs(src)
    base = 1_700_000_000
    early = [(float((i * 37) % 1000) / 10.0, base + (i % 100))
             for i in range(500)]
    late = [(float(i % 70), base + 600 + i % 30) for i in range(120)]
    sch = "v double, epoch long"

    def write_file(rows, name, mtime):
        p = str(tmp_path / name)
        spark.createDataFrame(rows, sch).coalesce(1).write.mode(
            "overwrite"
        ).parquet(p)
        import glob as _g
        import shutil

        [f] = _g.glob(os.path.join(p, "part-*.parquet"))
        dst = os.path.join(src, name + ".parquet")
        shutil.copy(f, dst)
        os.utime(dst, (mtime, mtime))

    now = _time.time()
    write_file(early, "a", now - 60)
    write_file(late, "b", now)

    stream = (
        spark.readStream.schema(sch)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
        .withColumn("ts", F.timestamp_seconds("epoch"))
    )
    out = windowed_histogram(
        stream, "v", lo=0.0, hi=100.0, n_bins=16,
        window="1 minute", watermark="2 minutes",
    )
    q = (
        out.writeStream.format("memory")
        .queryName("wh_stream_t")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt_wh"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    emitted = spark.table("wh_stream_t")
    got = {
        (r["window_start"], r["_bucket"]): r["n"] for r in emitted.collect()
    }
    assert len(got) >= 1

    batch = spark.createDataFrame(early + late, sch).withColumn(
        "ts", F.timestamp_seconds("epoch")
    ).withColumn("w", F.window("ts", "1 minute"))
    exp_sketch = K.histogram_shard_sketch(
        batch.select(F.col("w.start").alias("window_start"), "v"),
        ["window_start"], "v", 0.0, 100.0, 16,
    )
    exp = {
        (r["window_start"], r["_bucket"]): r["n"] for r in exp_sketch.collect()
    }
    emitted_windows = {w for w, _ in got}
    for (w, b), n in got.items():
        assert exp[(w, b)] == n, (w, b, n)
    # completeness per emitted window: every batch bucket row is there
    for (w, b), n in exp.items():
        if w in emitted_windows:
            assert got[(w, b)] == n

    # the emitted rows ARE a sketch table: percentile extraction on them
    # matches the batch tier end-to-end
    got_p = {
        (r["window_start"], r["q"]): r["value"]
        for r in K.histogram_percentiles(
            emitted.where(F.col("window_start").isin(list(emitted_windows))),
            ["window_start"], [0.5, 0.9], 0.0, 100.0, 16,
        ).collect()
    }
    exp_p = {
        (r["window_start"], r["q"]): r["value"]
        for r in K.histogram_percentiles(
            exp_sketch.where(F.col("window_start").isin(list(emitted_windows))),
            ["window_start"], [0.5, 0.9], 0.0, 100.0, 16,
        ).collect()
    }
    assert got_p == exp_p and len(got_p) == 2 * len(emitted_windows)


def test_windowed_heavy_hitters_stream_matches_batch(spark, tmp_path):
    """Streaming frequency sketch (live twin of heavy_hitters): every
    emitted window's top-k equals the batch exact groupBy top-k when
    items fit max_items (counts distinct by construction, so the
    boundary is tie-free)."""
    import os
    import time as _time

    from gcf_corima_parquet_converter_spark.streaming.ingest import (
        windowed_heavy_hitters,
    )

    src = str(tmp_path / "hh_src")
    os.makedirs(src)
    base = 1_700_000_000
    # per minute-window: item w<j> appears (10 - j) times -> distinct counts
    early = [
        (f"w{j}", base + w * 60 + (j * 17 + r) % 60)
        for w in (0, 1)
        for j in range(6)
        for r in range(10 - j)
    ]
    late = [(f"w{j}", base + 600 + j) for j in range(3)]
    sch = "item string, epoch long"

    def write_file(rows, name, mtime):
        p = str(tmp_path / name)
        spark.createDataFrame(rows, sch).coalesce(1).write.mode(
            "overwrite"
        ).parquet(p)
        import glob as _g
        import shutil

        [f] = _g.glob(os.path.join(p, "part-*.parquet"))
        dst = os.path.join(src, name + ".parquet")
        shutil.copy(f, dst)
        os.utime(dst, (mtime, mtime))

    now = _time.time()
    write_file(early, "a", now - 60)
    write_file(late, "b", now)

    stream = (
        spark.readStream.schema(sch)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
        .withColumn("ts", F.timestamp_seconds("epoch"))
    )
    out = windowed_heavy_hitters(
        stream, "item", k=3, max_items=64,
        window="1 minute", watermark="2 minutes",
    )
    q = (
        out.writeStream.format("memory")
        .queryName("hh_stream_t")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt_hh"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got: dict = {}
    for r in spark.table("hh_stream_t").collect():
        got.setdefault(r["window_start"], []).append(
            (r["item"], r["est_count"])
        )
    assert len(got) >= 1
    for w in got:
        got[w].sort(key=lambda t: (-t[1], t[0]))

    import collections

    batch = spark.createDataFrame(early + late, sch).withColumn(
        "ts", F.timestamp_seconds("epoch")
    ).withColumn("w", F.window("ts", "1 minute")).collect()
    exact: dict = collections.defaultdict(collections.Counter)
    for r in batch:
        exact[r["w"]["start"]][r["item"]] += 1
    for w, pairs in got.items():
        want = sorted(exact[w].items(), key=lambda kv: (-kv[1], kv[0]))[:3]
        assert pairs == want, (w, pairs, want)


def test_maintain_dedup_indexes_matches_batch_built(spark, tmp_path):
    """The stream-maintained digest + band indexes over a file replay
    equal the batch-built indexes over the same rows, and feeding them
    to the incremental dedup finds a cross-boundary near-dup."""
    import os

    from gcf_corima_parquet_converter_spark.operators import dedup as D
    from gcf_corima_parquet_converter_spark.streaming.ingest import (
        maintain_dedup_indexes,
    )

    src = str(tmp_path / "docs_src")
    os.makedirs(src)
    rows1 = [
        (i, f"doc number {i} body with words " + " ".join(
            f"w{(i * 31 + j) % 997}" for j in range(30)))
        for i in range(20)
    ]
    rows2 = [(100 + i, f"second batch doc {i} more words {i * 3}")
             for i in range(10)]
    sch = "doc_id long, text string"
    for name, rows in (("a", rows1), ("b", rows2)):
        p = str(tmp_path / name)
        spark.createDataFrame(rows, sch).coalesce(1).write.parquet(p)
        import glob as _g
        import shutil

        [f] = _g.glob(os.path.join(p, "part-*.parquet"))
        shutil.copy(f, os.path.join(src, name + ".parquet"))

    dig_p, band_p = str(tmp_path / "digidx"), str(tmp_path / "bandidx")
    stream = (
        spark.readStream.schema(sch)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    q = maintain_dedup_indexes(
        stream, "doc_id", "text", dig_p, band_p,
        checkpoint=str(tmp_path / "ckpt_idx"),
    )
    q.awaitTermination(120)

    all_rows = spark.createDataFrame(rows1 + rows2, sch)
    want_dig = {
        r["digest"]
        for r in D.exact_dedup_incremental(all_rows, ["text"], "doc_id")
        .select("digest").collect()
    }
    got_dig = {
        r["digest"] for r in D.load_dedup_index(spark, dig_p).collect()
    }
    assert got_dig == want_dig

    want_band = {
        tuple(r) for r in D.minhash_index(all_rows, "doc_id", "text").collect()
    }
    got_band = {
        tuple(r) for r in D.load_dedup_index(spark, band_p).collect()
    }
    assert got_band == want_band

    # the maintained index serves the incremental path: a near-dup of a
    # streamed doc is flagged without rescanning any history text
    near = rows1[5][1].replace("body", "torso")
    day3 = spark.createDataFrame([(900, near)], sch)
    flagged, _ = D.minhash_dedup_incremental(
        day3, D.load_dedup_index(spark, band_p), "doc_id", "text"
    )
    assert (900, 5) in {(r["new_id"], r["old_id"]) for r in flagged.collect()}


def test_maintain_sketch_shards_merge_equals_batch(spark, tmp_path):
    """Stream-materialized sketch shards merge to the same answers as
    sketching the full data in one pass — for the HLL (idempotent) and
    histogram (sum-semantics) tiers; epochs land as their own
    partitions so replays cannot double-count."""
    import os

    from gcf_corima_parquet_converter_spark.operators import sketches as K
    from gcf_corima_parquet_converter_spark.streaming.ingest import (
        maintain_sketch_shards,
    )

    src = str(tmp_path / "ev_src")
    os.makedirs(src)
    rows1 = [(i % 57, "a" if i % 2 else "b", float(i % 90)) for i in range(400)]
    rows2 = [(i % 23, "a", float(i % 40)) for i in range(200)]
    sch = "user_id long, lang string, v double"
    for name, rows in (("f1", rows1), ("f2", rows2)):
        p = str(tmp_path / name)
        spark.createDataFrame(rows, sch).coalesce(1).write.parquet(p)
        import glob as _g
        import shutil

        [f] = _g.glob(os.path.join(p, "part-*.parquet"))
        shutil.copy(f, os.path.join(src, name + ".parquet"))

    stream = (
        spark.readStream.schema(sch)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    hll_p = str(tmp_path / "hll_shards")
    q = maintain_sketch_shards(
        stream,
        lambda df: K.hll_shard_sketch(df, ["lang"], "user_id"),
        hll_p,
        checkpoint=str(tmp_path / "ck_hll"),
    )
    q.awaitTermination(120)
    stream2 = (
        spark.readStream.schema(sch)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    hist_p = str(tmp_path / "hist_shards")
    q2 = maintain_sketch_shards(
        stream2,
        lambda df: K.histogram_shard_sketch(df, ["lang"], "v", 0.0, 100.0, 20),
        hist_p,
        checkpoint=str(tmp_path / "ck_hist"),
    )
    q2.awaitTermination(120)

    # one epoch directory per micro-batch (2 input files)
    assert len([
        d for d in os.listdir(hll_p + "/epochs") if d.startswith("epoch=")
    ]) == 2

    all_rows = spark.createDataFrame(rows1 + rows2, sch)
    got_hll = {
        r["lang"]: r["approx_distinct"]
        for r in K.hll_merge(
            K.load_sketch_shards(spark, hll_p), ["lang"]
        ).collect()
    }
    want_hll = {
        r["lang"]: r["approx_distinct"]
        for r in K.hll_merge(
            K.hll_shard_sketch(all_rows, ["lang"], "user_id"), ["lang"]
        ).collect()
    }
    assert got_hll == want_hll  # lossless merge, bit-equal estimates

    got_h = {
        (r["lang"], r["_bucket"]): r["n"]
        for r in K.histogram_merge(
            K.load_sketch_shards(spark, hist_p), ["lang"]
        ).collect()
    }
    want_h = {
        (r["lang"], r["_bucket"]): r["n"]
        for r in K.histogram_shard_sketch(
            all_rows, ["lang"], "v", 0.0, 100.0, 20
        ).collect()
    }
    assert got_h == want_h  # sums match exactly: no double count


def test_maintain_sketch_shards_checkpoint_restart(spark, tmp_path):
    """Restarting the maintenance query on the same checkpoint resumes
    from the recorded offsets: earlier batches are not reprocessed (no
    double-counted shards) and new data lands in NEW epoch partitions."""
    import os

    from gcf_corima_parquet_converter_spark.operators import sketches as K
    from gcf_corima_parquet_converter_spark.streaming.ingest import (
        maintain_sketch_shards,
    )

    src = str(tmp_path / "src")
    os.makedirs(src)
    sch = "user_id long, v double"

    def add_file(name, rows):
        p = str(tmp_path / name)
        spark.createDataFrame(rows, sch).coalesce(1).write.parquet(p)
        import glob as _g
        import shutil

        [f] = _g.glob(os.path.join(p, "part-*.parquet"))
        shutil.copy(f, os.path.join(src, name + ".parquet"))

    rows1 = [(i, float(i % 50)) for i in range(300)]
    add_file("a", rows1)
    path, ckpt = str(tmp_path / "shards"), str(tmp_path / "ck")

    def run():
        stream = (
            spark.readStream.schema(sch)
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )
        q = maintain_sketch_shards(
            stream,
            lambda df: K.histogram_shard_sketch(df, [], "v", 0.0, 50.0, 10),
            path,
            checkpoint=ckpt,
        )
        q.awaitTermination(120)

    run()
    edir = path + "/epochs"
    epochs1 = {d for d in os.listdir(edir) if d.startswith("epoch=")}
    assert len(epochs1) == 1

    rows2 = [(i, float(i % 20)) for i in range(100)]
    add_file("b", rows2)
    run()  # second query instance, same checkpoint
    epochs2 = {d for d in os.listdir(edir) if d.startswith("epoch=")}
    assert len(epochs2) == 2 and epochs1 < epochs2

    merged = {
        r["_bucket"]: r["n"]
        for r in K.histogram_merge(
            K.load_sketch_shards(spark, path), []
        ).collect()
    }
    all_rows = spark.createDataFrame(rows1 + rows2, sch)
    want = {
        r["_bucket"]: r["n"]
        for r in K.histogram_shard_sketch(all_rows, [], "v", 0.0, 50.0, 10)
        .collect()
    }
    assert merged == want  # counts exact: batch a was NOT reprocessed


def test_windowed_fft_stream_matches_batch(spark, tmp_path):
    """Streaming FFT (stateful-buffer twin of windowed_fft): a file
    replay of planted 50 Hz + 120 Hz tones emits, once each window's
    watermark passes, exactly the batch operator's spectrum rows —
    same bucketing, normalization and float values."""
    import glob as _g
    import os
    import shutil
    import time as _time

    import numpy as np

    from gcf_corima_parquet_converter_spark.operators import telemetry as tm
    from gcf_corima_parquet_converter_spark.streaming.ingest import (
        windowed_fft_stream,
    )

    fs, secs = 1000.0, 3
    n = int(fs * secs)
    tt = np.arange(n) / fs
    sig = 1.0 * np.sin(2 * np.pi * 50 * tt) + 0.4 * np.sin(2 * np.pi * 120 * tt)
    base_ns = 1_700_000_000_000_000_000
    rows = [
        ("m1", base_ns + int(i * 1e9 / fs), float(sig[i])) for i in range(n)
    ]
    # two far-future single-sample "flush" files: advance the watermark
    # past every signal window's end so all three windows time out and
    # emit during the availableNow replay (n=1 windows drop, as batch)
    flush1 = [("m1", base_ns + 10_000_000_000, 0.0)]
    flush2 = [("m1", base_ns + 20_000_000_000, 0.0)]
    sch = "comp_name string, Time long, A_x_g double"

    src = str(tmp_path / "fft_src")
    os.makedirs(src)

    def write_file(rs, name, mtime):
        p = str(tmp_path / ("stage_" + name))
        spark.createDataFrame(rs, sch).coalesce(1).write.mode(
            "overwrite"
        ).parquet(p)
        [f] = _g.glob(os.path.join(p, "part-*.parquet"))
        dst = os.path.join(src, name + ".parquet")
        shutil.copy(f, dst)
        os.utime(dst, (mtime, mtime))

    now = _time.time()
    write_file(rows[: n // 2], "a", now - 90)
    write_file(rows[n // 2 :], "b", now - 60)
    write_file(flush1, "c", now - 30)
    write_file(flush2, "d", now)

    stream = (
        spark.readStream.schema(sch)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    out = windowed_fft_stream(
        stream, sample_rate=fs, window_s=1.0, watermark="1 second"
    )
    q = (
        out.writeStream.format("memory")
        .queryName("fft_stream_t")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt_fft"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)

    got = sorted(
        (
            (r["comp_name"], r["window_start"], round(r["freq_hz"], 9),
             r["magnitude"])
            for r in spark.table("fft_stream_t").collect()
        )
    )
    all_rows = rows + flush1 + flush2
    batch = sorted(
        (
            (r["comp_name"], r["window_start"], round(r["freq_hz"], 9),
             r["magnitude"])
            for r in tm.windowed_fft(
                spark.createDataFrame(all_rows, sch).repartition(8),
                sample_rate=fs,
                window_s=1.0,
            ).collect()
        )
    )
    assert len(batch) == 3 * (int(fs) // 2 + 1)  # 3 full windows emitted
    assert got == batch


def test_maintain_ivf_index_grows_saved_artifact_exactly_once(spark, tmp_path):
    """Streaming IVF maintenance: a bootstrap ivf_save plus a streamed
    second half equals the full batch index (same probes, same
    results), and a full replay (fresh checkpoint, same epochs)
    rewrites its own epoch partitions instead of duplicating them."""
    import os

    import numpy as np

    from gcf_corima_parquet_converter_spark.operators import similarity as S
    from gcf_corima_parquet_converter_spark.streaming.ingest import (
        maintain_ivf_index,
    )

    rng = np.random.default_rng(5)
    n, dim = 400, 16
    pts = rng.normal(size=(n, dim))
    pts /= np.linalg.norm(pts, axis=1, keepdims=True)
    rows = [(i, [float(x) for x in pts[i]]) for i in range(n)]
    sch = "vec_id long, embedding array<double>"
    full = spark.createDataFrame(rows, sch)
    first, second = rows[: n // 2], rows[n // 2 :]

    cents = S.kmeans_refine(
        full, S.train_centroids_sample(full, n_centroids=8), n_iter=1
    )
    idx = str(tmp_path / "ivf_idx")
    base = spark.createDataFrame(first, sch)
    S.ivf_save(S.ivf_assign(base, cents), cents, idx)

    src = str(tmp_path / "vec_src")
    os.makedirs(src)
    half = len(second) // 2
    for name, chunk in (("a", second[:half]), ("b", second[half:])):
        spark.createDataFrame(chunk, sch).coalesce(1).write.parquet(
            str(tmp_path / ("stage_" + name))
        )
        import glob as _g
        import shutil

        [f] = _g.glob(str(tmp_path / ("stage_" + name) / "part-*.parquet"))
        shutil.copy(f, os.path.join(src, name + ".parquet"))

    def run_stream(ckpt):
        stream = (
            spark.readStream.schema(sch)
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )
        q = maintain_ivf_index(stream, idx, str(tmp_path / ckpt))
        q.awaitTermination(120)

    run_stream("ckpt1")
    loaded, cents2 = S.ivf_load(spark, idx)
    assert np.allclose(cents, cents2)
    assert loaded.count() == n
    assert {r["epoch"] for r in loaded.select("epoch").distinct().collect()} == {
        -1, 0, 1,
    }

    # probe over the maintained artifact == probe over a full batch assign
    qvec = pts[3]
    want = [
        r["vec_id"]
        for r in S.ivf_topk(S.ivf_assign(full, cents), cents, qvec, k=5).collect()
    ]
    got = [r["vec_id"] for r in S.ivf_topk(loaded, cents2, qvec, k=5).collect()]
    assert got == want

    # replay from scratch (fresh checkpoint, same files -> same epoch
    # ids): dynamic overwrite rewrites epochs 0/1 in place, no dupes
    run_stream("ckpt2")
    loaded2, _ = S.ivf_load(spark, idx)
    assert loaded2.count() == n


def test_maintain_ivfpq_index_streams_codes_byte_compatible(spark, tmp_path):
    """Streaming IVF-PQ maintenance (r8): ``pq=True`` lands each
    micro-batch as (id, codes) rows encoded against the artifact's own
    codebooks — including the residual flag read from meta — so a
    bootstrap ivfpq_save plus a streamed second half equals the full
    batch encode (same ADC probes), and a compaction pass afterwards
    folds the epochs without changing any probe."""
    import shutil

    from gcf_corima_parquet_converter_spark.operators import similarity as S
    from gcf_corima_parquet_converter_spark.streaming.ingest import (
        maintain_ivf_index,
    )

    rng = np.random.default_rng(6)
    n, dim = 400, 16
    pts = rng.normal(size=(n, dim))
    pts /= np.linalg.norm(pts, axis=1, keepdims=True)
    rows = [(i, [float(x) for x in pts[i]]) for i in range(n)]
    sch = "vec_id long, embedding array<double>"
    full = spark.createDataFrame(rows, sch)
    first, second = rows[: n // 2], rows[n // 2 :]

    cents = S.kmeans_refine(
        full, S.train_centroids_sample(full, n_centroids=8), n_iter=3
    )
    books = S.ivfpq_train(
        full, cents, m=4, n_codes=16, sample_size=256, residual=True
    )
    idx = str(tmp_path / "pq_idx")
    base = spark.createDataFrame(first, sch)
    S.ivfpq_save(
        S.ivfpq_encode(base, cents, books, residual=True),
        cents, books, idx, residual=True,
    )

    src = str(tmp_path / "vec_src")
    os.makedirs(src)
    half = len(second) // 2
    for name, chunk in (("a", second[:half]), ("b", second[half:])):
        stage = str(tmp_path / ("stage_" + name))
        spark.createDataFrame(chunk, sch).coalesce(1).write.parquet(stage)
        [f] = glob.glob(stage + "/part-*.parquet")
        shutil.copy(f, os.path.join(src, name + ".parquet"))

    stream = (
        spark.readStream.schema(sch)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    q = maintain_ivf_index(stream, idx, str(tmp_path / "ckpt"), pq=True)
    q.awaitTermination(120)

    loaded, c2, b2, meta = S.ivfpq_load(spark, idx, with_meta=True)
    assert meta == {"residual": True}
    assert loaded.count() == n
    assert {r["epoch"] for r in loaded.select("epoch").distinct().collect()} == {
        -1, 0, 1,
    }

    # probes over the maintained artifact == probes over one batch encode
    want_base = S.ivfpq_encode(full, cents, books, residual=True)
    qvec = pts[3]
    want = [
        (r["vec_id"], r["adc_score"])
        for r in S.ivfpq_topk(
            want_base, cents, books, qvec, k=5, n_probe=3, residual=True
        ).collect()
    ]
    got = [
        (r["vec_id"], r["adc_score"])
        for r in S.ivfpq_topk(
            loaded, c2, b2, qvec, k=5, n_probe=3, residual=True
        ).collect()
    ]
    assert got == want

    # epoch compaction works unchanged on the codes artifact
    out = S.ivf_compact(spark, idx)
    assert out["epochs_folded"] == 2 and out["rows"] == n
    loaded3, c3, b3, meta3 = S.ivfpq_load(spark, idx, with_meta=True)
    assert meta3 == {"residual": True}
    got3 = [
        (r["vec_id"], r["adc_score"])
        for r in S.ivfpq_topk(
            loaded3, c3, b3, qvec, k=5, n_probe=3, residual=True
        ).collect()
    ]
    assert got3 == want


def test_compact_dedup_indexes_same_answers_fewer_files(spark, tmp_path):
    """compact_dedup_indexes (r8): physically dedupe + re-file the
    append-only digest/band indexes; every consumer answer is
    unchanged and the sliver count drops to target_files."""
    from gcf_corima_parquet_converter_spark.operators import dedup as D

    sch = "doc_id long, text string"
    rows = [
        (i, f"doc number {i} body with words " + " ".join(
            f"w{(i * 31 + j) % 997}" for j in range(30)))
        for i in range(20)
    ]
    df = spark.createDataFrame(rows, sch)
    dig_p, band_p = str(tmp_path / "digidx"), str(tmp_path / "bandidx")

    from gcf_corima_parquet_converter_spark.operators import manifest as M

    # simulate a chatty maintenance loop: 4 appends exactly as
    # maintain_dedup_indexes lands them, two of them re-deliveries
    for epoch, batch in enumerate((rows[:10], rows[10:], rows[:10], rows[10:])):
        b = spark.createDataFrame(batch, sch).repartition(4)
        M.write_epoch(
            D.exact_dedup_incremental(b, ["text"], "doc_id").select("digest"),
            dig_p, epoch, append=True,
        )
        M.write_epoch(
            D.minhash_index(b, "doc_id", "text"), band_p, epoch, append=True
        )
    assert D.load_dedup_index(spark, dig_p).count() == 40  # duplicated appends

    out = D.compact_dedup_indexes(
        spark, dig_p, band_p, target_files=2
    )
    assert out["digest"]["rows"] == 20
    assert out["digest"]["version"] == 1
    assert out["digest"]["epochs_folded"] == 4
    assert out["digest"]["files_before"] > 2
    assert out["band"]["files_before"] > 2

    dig = D.load_dedup_index(spark, dig_p)
    assert dig.count() == 20  # physically deduplicated
    want_dig = {
        r["digest"]
        for r in D.exact_dedup_incremental(df, ["text"], "doc_id")
        .select("digest").collect()
    }
    assert {r["digest"] for r in dig.collect()} == want_dig

    band = D.load_dedup_index(spark, band_p)
    want_band = {
        tuple(r) for r in D.minhash_index(df, "doc_id", "text").collect()
    }
    assert {tuple(r) for r in band.collect()} == want_band
    assert band.count() == len(want_band)

    import glob

    assert len(glob.glob(M.base_dir(dig_p, 1) + "/epoch=-1/*.parquet")) == 2
    assert len(glob.glob(M.base_dir(band_p, 1) + "/epoch=-1/*.parquet")) == 2

    # a later maintenance epoch + second compact: the version increments
    M.write_epoch(
        D.exact_dedup_incremental(
            spark.createDataFrame(rows[:5], sch), ["text"], "doc_id"
        ).select("digest"),
        dig_p, 4, append=True,
    )
    assert D.load_dedup_index(spark, dig_p).count() == 25  # 5 re-appends
    out2 = D.compact_dedup_indexes(spark, dig_p, target_files=2)
    assert out2["digest"]["version"] == 2
    assert out2["digest"]["rows"] == 20  # distinct() refolds the dupes
    assert {
        r["digest"] for r in D.load_dedup_index(spark, dig_p).collect()
    } == want_dig

    # consumers still work: exact incremental vs the compacted index,
    # near-dup flagging vs the compacted band index
    day2 = spark.createDataFrame(
        [(900, rows[5][1]), (901, "genuinely fresh text")], sch
    )
    kept = D.exact_dedup_incremental(
        day2, ["text"], "doc_id", seen=dig
    )
    assert [r["doc_id"] for r in kept.select("doc_id").collect()] == [901]
    near = spark.createDataFrame(
        [(902, rows[5][1].replace("body", "torso"))], sch
    )
    flagged, _ = D.minhash_dedup_incremental(near, band, "doc_id", "text")
    assert (902, 5) in {(r["new_id"], r["old_id"]) for r in flagged.collect()}


def test_compact_sketch_shards_folds_epochs_same_answers(spark, tmp_path):
    """compact_sketch_shards (r8): N maintain_sketch_shards epochs fold
    into one epoch=-1 base; merged answers identical for a sketch-
    preserving (hll) AND a sum-semantics (histogram) tier."""
    import glob

    from gcf_corima_parquet_converter_spark.operators import sketches as K
    from gcf_corima_parquet_converter_spark.streaming.ingest import (
        maintain_sketch_shards,
    )

    sch = "lang string, user_id long, score double"
    rows = [
        ("en" if i % 3 else "fr", i % 37, float(i % 11)) for i in range(300)
    ]
    full = spark.createDataFrame(rows, sch)

    for tier, shard_fn, fold_fn, merge_to_answer in (
        (
            "hll",
            lambda df: K.hll_shard_sketch(df, ["lang"], "user_id"),
            lambda df: K.hll_union_shards(df, ["lang"]),
            lambda df: K.hll_merge(df, ["lang"]),
        ),
        (
            "hist",
            lambda df: K.histogram_shard_sketch(df, ["lang"], "score",
                                                lo=0.0, hi=11.0, n_bins=8),
            lambda df: K.histogram_merge(df, ["lang"]),
            lambda df: K.histogram_merge(df, ["lang"]),
        ),
    ):
        from gcf_corima_parquet_converter_spark.operators import (
            manifest as M,
        )

        path = str(tmp_path / f"shards_{tier}")
        # three epochs exactly as the maintenance loop lands them
        for e, lo in enumerate((0, 100, 200)):
            M.write_epoch(
                shard_fn(spark.createDataFrame(rows[lo:lo + 100], sch)),
                path, e,
            )
        want = sorted(
            tuple(r) for r in merge_to_answer(
                K.load_sketch_shards(spark, path)
            ).collect()
        )
        out = K.compact_sketch_shards(spark, path, fold_fn)
        assert out["epochs_folded"] == 3 and out["version"] == 1
        assert glob.glob(M.base_dir(path, 1) + "/epoch=-1")
        got = sorted(
            tuple(r) for r in merge_to_answer(
                K.load_sketch_shards(spark, path)
            ).collect()
        )
        assert got == want, tier
        assert not glob.glob(path + ".compact.*")

    # the compacted shards answer exactly like one sketch of all rows
    path = str(tmp_path / "shards_vs_full")
    for e, lo in enumerate((0, 100, 200)):
        M.write_epoch(
            K.histogram_shard_sketch(
                spark.createDataFrame(rows[lo:lo + 100], sch),
                ["lang"], "score", lo=0.0, hi=11.0, n_bins=8,
            ),
            path, e,
        )
    want = sorted(
        tuple(r) for r in K.histogram_merge(
            K.histogram_shard_sketch(
                full, ["lang"], "score", lo=0.0, hi=11.0, n_bins=8
            ),
            ["lang"],
        ).collect()
    )
    out = K.compact_sketch_shards(
        spark, path, lambda df: K.histogram_merge(df, ["lang"])
    )
    assert out["epochs_folded"] == 3
    got = sorted(
        tuple(r) for r in K.histogram_merge(
            K.load_sketch_shards(spark, path), ["lang"]
        ).collect()
    )
    assert got == want


def test_serve_ann_queries_stream_matches_batch_and_replays_clean(
    spark, tmp_path
):
    """serve_ann_queries (r8): a stream of query vectors answered
    against a persisted IVF-PQ index — per-epoch results equal the
    batch ivfpq_topk_batch / rerank_batch answers exactly, and a
    replay (fresh checkpoint, same files -> same epochs) rewrites its
    own epoch partitions instead of duplicating them."""
    import shutil

    from gcf_corima_parquet_converter_spark.operators import similarity as S
    from gcf_corima_parquet_converter_spark.streaming.ingest import (
        serve_ann_queries,
    )

    rng = np.random.default_rng(7)
    n, dim = 400, 16
    pts = rng.normal(size=(n, dim))
    pts /= np.linalg.norm(pts, axis=1, keepdims=True)
    rows = [(i, [float(x) for x in pts[i]]) for i in range(n)]
    sch = "vec_id long, embedding array<double>"
    full = spark.createDataFrame(rows, sch)
    cents = S.kmeans_refine(
        full, S.train_centroids_sample(full, n_centroids=8), n_iter=3
    )
    books = S.ivfpq_train(
        full, cents, m=4, n_codes=16, sample_size=256, residual=True
    )
    idx = str(tmp_path / "pq_idx")
    S.ivfpq_save(
        S.ivfpq_encode(full, cents, books, residual=True),
        cents, books, idx, residual=True,
    )
    raw_idx = str(tmp_path / "raw_idx")
    S.ivf_save(S.ivf_assign(full, cents), cents, raw_idx)

    # two micro-batches of 3 queries each
    qsch = "q_id long, q_vec array<double>"
    qrows = [(qi, [float(x) for x in pts[qi * 5]]) for qi in range(6)]
    src = str(tmp_path / "q_src")
    os.makedirs(src)
    for name, chunk in (("a", qrows[:3]), ("b", qrows[3:])):
        stage = str(tmp_path / ("qstage_" + name))
        spark.createDataFrame(chunk, qsch).coalesce(1).write.parquet(stage)
        [f] = glob.glob(stage + "/part-*.parquet")
        shutil.copy(f, os.path.join(src, name + ".parquet"))

    def qstream():
        return (
            spark.readStream.schema(qsch)
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )

    # ADC-only serving
    out_p = str(tmp_path / "answers")
    q = serve_ann_queries(
        qstream(), idx, out_p, str(tmp_path / "ckpt_a"), k=5, n_probe=3,
        adc_only=True,
    )
    q.awaitTermination(120)
    got = spark.read.parquet(out_p)
    assert {r["epoch"] for r in got.select("epoch").distinct().collect()} == {
        0, 1,
    }
    base, c2, b2, meta = S.ivfpq_load(spark, idx, with_meta=True)
    for epoch, chunk in ((0, qrows[:3]), (1, qrows[3:])):
        want = sorted(
            (r["q_id"], r["vec_id"], r["adc_score"])
            for r in S.ivfpq_topk_batch(
                base, c2, b2, spark.createDataFrame(chunk, qsch),
                k=5, n_probe=3, residual=meta["residual"],
            ).collect()
        )
        have = sorted(
            (r["q_id"], r["vec_id"], r["adc_score"])
            for r in got.where(F.col("epoch") == epoch).collect()
        )
        assert have == want, epoch

    # replay with a fresh checkpoint: same epochs overwrite themselves
    q = serve_ann_queries(
        qstream(), idx, out_p, str(tmp_path / "ckpt_b"), k=5, n_probe=3,
        adc_only=True,
    )
    q.awaitTermination(120)
    assert spark.read.parquet(out_p).count() == 6 * 5

    # full rerank serving: equals the batch rerank recipe
    out_r = str(tmp_path / "answers_rr")
    q = serve_ann_queries(
        qstream(), idx, out_r, str(tmp_path / "ckpt_c"), k=5, n_probe=3,
        raw_index_path=raw_idx, shortlist=60,
    )
    q.awaitTermination(120)
    raw, _ = S.ivf_load(spark, raw_idx)
    got_r = spark.read.parquet(out_r)
    for epoch, chunk in ((0, qrows[:3]), (1, qrows[3:])):
        want = sorted(
            (r["q_id"], r["vec_id"], r["sim_fx"])
            for r in S.ivfpq_topk_rerank_batch(
                base, raw, c2, b2, spark.createDataFrame(chunk, qsch),
                k=5, n_probe=3, shortlist=60, residual=meta["residual"],
            ).collect()
        )
        have = sorted(
            (r["q_id"], r["vec_id"], r["sim_fx"])
            for r in got_r.where(F.col("epoch") == epoch).collect()
        )
        assert have == want, epoch


def test_index_lifecycle_stream_maintain_compact_serve(spark, tmp_path):
    """End-to-end index lifecycle across the streaming surface:
    bootstrap ivfpq_save -> maintain_ivf_index(pq=True) streams codes in
    -> ivf_compact folds the epochs -> serve_ann_queries answers a
    query stream off the compacted artifact — results equal one batch
    encode of the full corpus probed directly."""
    import shutil

    from gcf_corima_parquet_converter_spark.operators import similarity as S
    from gcf_corima_parquet_converter_spark.streaming.ingest import (
        maintain_ivf_index,
        serve_ann_queries,
    )

    rng = np.random.default_rng(8)
    n, dim = 400, 16
    pts = rng.normal(size=(n, dim))
    pts /= np.linalg.norm(pts, axis=1, keepdims=True)
    rows = [(i, [float(x) for x in pts[i]]) for i in range(n)]
    sch = "vec_id long, embedding array<double>"
    full = spark.createDataFrame(rows, sch)
    cents = S.kmeans_refine(
        full, S.train_centroids_sample(full, n_centroids=8), n_iter=3
    )
    books = S.pq_train(full, m=4, n_codes=16, sample_size=256)
    idx = str(tmp_path / "idx")
    S.ivfpq_save(
        S.ivfpq_encode(spark.createDataFrame(rows[:200], sch), cents, books),
        cents, books, idx,
    )

    def file_stream(schema, src):
        return (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )

    vec_src = str(tmp_path / "vec_src")
    os.makedirs(vec_src)
    for name, chunk in (("a", rows[200:300]), ("b", rows[300:])):
        stage = str(tmp_path / ("vstage_" + name))
        spark.createDataFrame(chunk, sch).coalesce(1).write.parquet(stage)
        [f] = glob.glob(stage + "/part-*.parquet")
        shutil.copy(f, os.path.join(vec_src, name + ".parquet"))
    q = maintain_ivf_index(
        file_stream(sch, vec_src), idx, str(tmp_path / "mckpt"), pq=True
    )
    q.awaitTermination(120)

    out = S.ivf_compact(spark, idx)
    assert {k: v for k, v in out.items() if k != "manifest"} == {
        "version": 2, "epochs_folded": 2, "rows": n,
    }

    qsch = "q_id long, q_vec array<double>"
    qrows = [(qi, [float(x) for x in pts[qi * 9]]) for qi in range(3)]
    q_src = str(tmp_path / "q_src")
    os.makedirs(q_src)
    stage = str(tmp_path / "qstage")
    spark.createDataFrame(qrows, qsch).coalesce(1).write.parquet(stage)
    [f] = glob.glob(stage + "/part-*.parquet")
    shutil.copy(f, os.path.join(q_src, "q.parquet"))
    ans = str(tmp_path / "answers")
    q = serve_ann_queries(
        file_stream(qsch, q_src), idx, ans, str(tmp_path / "sckpt"),
        k=5, n_probe=3, adc_only=True,
    )
    q.awaitTermination(120)

    want_base = S.ivfpq_encode(full, cents, books)
    for qi, qvec in ((0, pts[0]), (1, pts[9]), (2, pts[18])):
        want = [
            (r["vec_id"], r["adc_score"])
            for r in S.ivfpq_topk(
                want_base, cents, books, qvec, k=5, n_probe=3
            ).collect()
        ]
        got = [
            (r["vec_id"], r["adc_score"])
            for r in spark.read.parquet(ans)
            .where(F.col("q_id") == qi)
            .orderBy(F.desc("adc_score"), "vec_id")
            .collect()
        ]
        assert got == want, qi


def test_serve_ann_queries_requires_explicit_adc_only(spark, tmp_path):
    """The ADC-only serving mode is a silent low-recall footgun unless
    opted into: raw_index_path=None without adc_only=True must raise
    before any stream starts."""
    import pytest as _pytest

    from gcf_corima_parquet_converter_spark.streaming.ingest import (
        serve_ann_queries,
    )

    qsch = "q_id long, q_vec array<double>"
    src = str(tmp_path / "empty_src")
    os.makedirs(src)
    stream = spark.readStream.schema(qsch).parquet(src)
    with _pytest.raises(ValueError, match="adc_only"):
        serve_ann_queries(
            stream, str(tmp_path / "idx"), str(tmp_path / "out"),
            str(tmp_path / "ck"), k=5,
        )


def test_serve_ann_queries_sees_midstream_appends_and_compaction(
    spark, tmp_path
):
    """Serving freshness (r8 task #6): the codes and raw artifacts are
    re-resolved through their manifests at every micro-batch, so an
    epoch appended AND a compaction committed between two batches are
    searchable by the second batch — no serving restart.  Injected
    deterministically through the _pre_batch_hook seam; answers are
    pinned against the batch rerank recipe over each batch's corpus
    snapshot."""
    import shutil

    from gcf_corima_parquet_converter_spark.operators import manifest as M
    from gcf_corima_parquet_converter_spark.operators import similarity as S
    from gcf_corima_parquet_converter_spark.streaming.ingest import (
        serve_ann_queries,
    )

    rng = np.random.default_rng(45)
    n, dim = 300, 16
    pts = rng.normal(size=(n, dim))
    pts /= np.linalg.norm(pts, axis=1, keepdims=True)
    rows = [(i, [float(x) for x in pts[i]]) for i in range(n)]
    sch = "vec_id long, embedding array<double>"
    first = spark.createDataFrame(rows[:200], sch)
    second = spark.createDataFrame(rows[200:], sch)
    full = spark.createDataFrame(rows, sch)
    cents = S.kmeans_refine(
        full, S.train_centroids_sample(full, n_centroids=4), n_iter=2
    )
    books = S.pq_train(full, m=4, n_codes=16, sample_size=256)

    idx, raw_idx = str(tmp_path / "pq"), str(tmp_path / "raw")
    S.ivfpq_save(S.ivfpq_encode(first, cents, books), cents, books, idx)
    S.ivf_save(S.ivf_assign(first, cents), cents, raw_idx)

    # two micro-batches carrying the SAME query vector
    qsch = "q_id long, q_vec array<double>"
    qvec = [float(x) for x in pts[250]]  # lives only in the appended half
    src = str(tmp_path / "q_src")
    os.makedirs(src)
    for name, qid in (("a", 0), ("b", 1)):
        stage = str(tmp_path / ("qs_" + name))
        spark.createDataFrame([(qid, qvec)], qsch).coalesce(1).write.parquet(
            stage
        )
        [f] = glob.glob(stage + "/part-*.parquet")
        shutil.copy(f, os.path.join(src, name + ".parquet"))

    def grow_index(bid):
        if bid != 1:
            return
        # a maintenance-loop-shaped epoch append to both artifacts...
        M.write_epoch(
            S.ivfpq_encode(second, cents, books)
            .select("vec_id", "codes", "centroid_id"),
            idx + "/assignments", 0, partition_cols=("centroid_id",),
        )
        M.write_epoch(
            S.ivf_assign(second, cents)
            .select("vec_id", "embedding", "centroid_id"),
            raw_idx + "/assignments", 0, partition_cols=("centroid_id",),
        )
        # ...plus a committed compaction (version flip) on the codes
        S.ivf_compact(spark, idx)

    out_p = str(tmp_path / "answers")
    q = serve_ann_queries(
        spark.readStream.schema(qsch).option("maxFilesPerTrigger", 1)
        .parquet(src),
        idx, out_p, str(tmp_path / "ck"), k=5, n_probe=4, shortlist=60,
        raw_index_path=raw_idx, _pre_batch_hook=grow_index,
    )
    q.awaitTermination(180)

    got = spark.read.parquet(out_p)
    # batch 0 answered over the 200-vector snapshot, batch 1 over all
    # 300 — same query, different corpora
    for epoch, corpus in ((0, rows[:200]), (1, rows)):
        cdf = spark.createDataFrame(corpus, sch)
        want = sorted(
            (r["vec_id"], r["sim_fx"])
            for r in S.ivfpq_topk_rerank_batch(
                S.ivfpq_encode(cdf, cents, books),
                S.ivf_assign(cdf, cents), cents, books,
                spark.createDataFrame([(epoch, qvec)], qsch),
                k=5, n_probe=4, shortlist=60,
            ).collect()
        )
        have = sorted(
            (r["vec_id"], r["sim_fx"])
            for r in got.where(F.col("epoch") == epoch).collect()
        )
        assert have == want, epoch
    # the streamed-in exact match is served by batch 1 only
    b0 = {r["vec_id"] for r in got.where(F.col("epoch") == 0).collect()}
    b1 = {r["vec_id"] for r in got.where(F.col("epoch") == 1).collect()}
    assert 250 not in b0 and 250 in b1


def test_bloom_dedup_stream_first_wins_exactly_once(spark, tmp_path):
    """Bloom seen-keys gate: across micro-batches only first-seen keys
    emit (bounded-memory lifetime dedup); a fresh-checkpoint replay
    rewrites its own epochs instead of re-deciding (the before_epoch
    read), and a graceful-stop -> bloom_compact -> resume cycle keeps
    gating correctly against the folded base."""
    import shutil

    from gcf_corima_parquet_converter_spark.operators import (
        manifest as M,
    )
    from gcf_corima_parquet_converter_spark.operators import (
        membership as B,
    )
    from gcf_corima_parquet_converter_spark.streaming.ingest import (
        bloom_dedup_stream,
    )

    sch = "k string, payload long"
    src = str(tmp_path / "src")
    os.makedirs(src)

    def add_file(name, ids):
        stage = str(tmp_path / ("s_" + name))
        spark.createDataFrame(
            [(f"url-{i}", i) for i in ids], sch
        ).coalesce(1).write.mode("overwrite").parquet(stage)
        [f] = glob.glob(stage + "/part-*.parquet")
        shutil.copy(f, os.path.join(src, name + ".parquet"))

    out_p, bloom_p = str(tmp_path / "out"), str(tmp_path / "seen")

    def run(ckpt):
        q = bloom_dedup_stream(
            spark.readStream.schema(sch).option("maxFilesPerTrigger", 1)
            .parquet(src),
            "k", out_p, bloom_p, str(tmp_path / ckpt),
            expected_items=400, fpp=0.001,
        )
        q.awaitTermination(180)

    add_file("a", range(0, 100))
    add_file("b", range(50, 150))
    add_file("c", list(range(100, 200)) + list(range(0, 50)))
    run("ck1")

    def emitted():
        df = M.read_artifact(spark, out_p)
        return {
            e: sorted(r["payload"] for r in rows)
            for e, rows in (
                (e, df.where(F.col("epoch") == e).collect())
                for e in (0, 1, 2, 3)
            )
        }

    got = emitted()
    assert got[0] == list(range(0, 100))     # all novel
    assert got[1] == list(range(100, 150))   # 50-99 gated
    assert got[2] == list(range(150, 200))   # repeats + seen gated
    total = M.read_artifact(spark, out_p).count()
    assert total == 200  # every key exactly once, lifetime-wide

    # fresh-checkpoint replay: same files -> same epochs -> same
    # decisions (before_epoch read) -> byte-identical overwrite
    run("ck2")
    assert emitted() == got

    # graceful stop happened (availableNow terminated): fold the
    # epoch blooms, then keep streaming on the EXISTING checkpoint
    outc = B.bloom_compact(spark, bloom_p)
    assert outc["version"] == 1 and outc["rows"] == 1
    merged = B.bloom_artifact_load(spark, bloom_p)
    assert merged["n_items"] == 200
    add_file("d", list(range(150, 250)))
    run("ck2")
    got2 = emitted()
    assert got2[3] == list(range(200, 250))  # 150-199 gated by the base
    assert M.read_artifact(spark, out_p).count() == 250


def test_bloom_dedup_stream_replay_of_folded_epoch_is_noop(spark, tmp_path):
    """The r11 mechanical guard for the decision-making artifact: a
    batch whose checkpoint commit is LOST and whose epoch was then
    FOLDED by bloom_compact replays as a NO-OP on resume.  Without the
    guard the replay loads its own keys from the folded base
    (epoch=-1 passes before_epoch), computes an empty novel set, and
    dynamic-overwrites its output epoch to EMPTY — permanent loss."""
    import shutil

    from gcf_corima_parquet_converter_spark.operators import (
        manifest as M,
    )
    from gcf_corima_parquet_converter_spark.operators import (
        membership as B,
    )
    from gcf_corima_parquet_converter_spark.streaming.ingest import (
        bloom_dedup_stream,
    )

    sch = "k string, payload long"
    src = str(tmp_path / "src")
    os.makedirs(src)

    def add_file(name, ids):
        stage = str(tmp_path / ("s_" + name))
        spark.createDataFrame(
            [(f"url-{i}", i) for i in ids], sch
        ).coalesce(1).write.mode("overwrite").parquet(stage)
        [f] = glob.glob(stage + "/part-*.parquet")
        shutil.copy(f, os.path.join(src, name + ".parquet"))

    out_p, bloom_p = str(tmp_path / "out"), str(tmp_path / "seen")
    ckpt = str(tmp_path / "ck")

    def run():
        q = bloom_dedup_stream(
            spark.readStream.schema(sch).option("maxFilesPerTrigger", 1)
            .parquet(src),
            "k", out_p, bloom_p, ckpt,
            expected_items=400, fpp=0.001,
        )
        q.awaitTermination(180)

    add_file("a", range(0, 100))
    add_file("b", range(50, 150))
    run()  # epoch 0 emits 0-99, epoch 1 emits 100-149

    # crash window: batch 1's decisions and output are on disk but its
    # checkpoint commit is lost -> the next start replays batch 1
    os.remove(os.path.join(ckpt, "commits", "1"))
    crc = os.path.join(ckpt, "commits", ".1.crc")
    if os.path.exists(crc):
        os.remove(crc)
    # the seen-keys artifact compacts between runs (graceful-stop rule)
    outc = B.bloom_compact(spark, bloom_p)
    assert outc["epochs_folded"] == 2

    add_file("c", list(range(100, 200)))
    run()  # replays batch 1 (guard: no-op), then batch 2 processes c

    df = M.read_artifact(spark, out_p)
    # epoch 1's output SURVIVED the replay (the guard made it a no-op)
    assert sorted(
        r["payload"] for r in df.where(F.col("epoch") == 1).collect()
    ) == list(range(100, 150))
    # batch 2 gated correctly against the folded base
    assert sorted(
        r["payload"] for r in df.where(F.col("epoch") == 2).collect()
    ) == list(range(150, 200))
    assert df.count() == 200  # lifetime exactly-once held end to end


def test_decontaminate_stream_matches_batch_and_replays_clean(spark, tmp_path):
    """Streaming decontamination gate: survivors across micro-batches
    equal the batch operator over the same rows, and a fresh-checkpoint
    replay rewrites its own epochs byte-identically (decisions depend
    only on the static suite)."""
    import shutil

    from gcf_corima_parquet_converter_spark.operators import (
        manifest as M,
    )
    from gcf_corima_parquet_converter_spark.operators import (
        pipeline as P,
    )
    from gcf_corima_parquet_converter_spark.streaming.ingest import (
        decontaminate_stream,
    )

    sch = "doc_id long, text string"
    bench = spark.createDataFrame(
        [(0, "alpha beta gamma delta epsilon zeta eta theta")], sch
    )
    batch_a = [(i, f"clean doc number {i} with words {i*3}") for i in range(40)]
    batch_a += [(100 + i, f"prefix {i} alpha beta gamma delta more") for i in range(10)]
    batch_b = [(200 + i, f"other clean text {i} here") for i in range(30)]
    batch_b += [(300, "x alpha beta gamma delta y"), (301, None), (302, "")]

    src = str(tmp_path / "src")
    os.makedirs(src)

    def add_file(name, rows):
        stage = str(tmp_path / ("s_" + name))
        spark.createDataFrame(rows, sch).coalesce(1).write.parquet(stage)
        [f] = glob.glob(stage + "/part-*.parquet")
        shutil.copy(f, os.path.join(src, name + ".parquet"))

    add_file("a", batch_a)
    add_file("b", batch_b)
    out_p = str(tmp_path / "clean")

    def run(ckpt):
        q = decontaminate_stream(
            spark.readStream.schema(sch).option("maxFilesPerTrigger", 1)
            .parquet(src),
            bench, "doc_id", "text", out_p, str(tmp_path / ckpt), n=4,
        )
        q.awaitTermination(180)

    run("ck1")
    got = sorted(
        r["doc_id"] for r in M.read_artifact(spark, out_p).collect()
    )
    want = sorted(
        r["doc_id"]
        for r in P.bloom_ngram_decontaminate(
            spark.createDataFrame(batch_a + batch_b, sch),
            bench, "doc_id", "text", n=4,
        ).collect()
    )
    assert got == want
    # contaminated docs really were gated
    assert not ({100, 300} & set(got)) and 301 in got

    # fresh-checkpoint replay: same files -> same epochs -> same rows
    run("ck2")
    assert sorted(
        r["doc_id"] for r in M.read_artifact(spark, out_p).collect()
    ) == want


def test_bloom_dedup_stream_pending_deletes_readmits_purged_key(spark, tmp_path):
    """r12 purge overlay for the gate that can never physically delete:
    a key purged from the corpus re-ingests as novel when listed in
    pending_deletes (its bloom sightings are void), while unlisted
    duplicate keys stay gated in the same run."""
    import shutil

    from gcf_corima_parquet_converter_spark.operators import manifest as M
    from gcf_corima_parquet_converter_spark.streaming.ingest import (
        bloom_dedup_stream,
    )

    sch = "k string, payload long"
    src = str(tmp_path / "src")
    os.makedirs(src)

    def add_file(name, ids):
        stage = str(tmp_path / ("s_" + name))
        spark.createDataFrame(
            [(f"url-{i}", i) for i in ids], sch
        ).coalesce(1).write.mode("overwrite").parquet(stage)
        [f] = glob.glob(stage + "/part-*.parquet")
        shutil.copy(f, os.path.join(src, name + ".parquet"))

    out_p, bloom_p = str(tmp_path / "out"), str(tmp_path / "seen")

    def run(ckpt, pend=None):
        q = bloom_dedup_stream(
            spark.readStream.schema(sch).option("maxFilesPerTrigger", 1)
            .parquet(src),
            "k", out_p, bloom_p, str(tmp_path / ckpt),
            expected_items=200, fpp=0.001,
            pending_deletes=pend,
        )
        q.awaitTermination(180)

    add_file("a", range(0, 50))
    run("ck1")
    assert M.read_artifact(spark, out_p).count() == 50

    # corpus purge of url-7 happened; its re-ingest arrives with
    # duplicates of unpurged keys in the same file
    add_file("b", [7, 8, 9])
    pend = spark.createDataFrame([("url-7",)], "k string")
    run("ck1", pend=pend)
    df = M.read_artifact(spark, out_p)
    ep1 = sorted(r["payload"] for r in df.where(F.col("epoch") == 1).collect())
    assert ep1 == [7], f"purged key must re-admit, others stay gated: {ep1}"
    # and the re-admitted sighting is in the artifact again: a THIRD
    # appearance without the overlay is gated as seen
    add_file("c", [7, 60])
    run("ck1")
    ep2 = sorted(
        r["payload"]
        for r in M.read_artifact(spark, out_p)
        .where(F.col("epoch") == 2).collect()
    )
    assert ep2 == [60], f"re-admitted key must gate again once re-seen: {ep2}"


def test_maintain_inverted_index_matches_batch_built(spark, tmp_path):
    """r13: the stream-maintained inverted index over a 2-file replay
    equals the one-shot index of the union — postings AND corpus stats
    — and serves BM25/phrase queries; a compaction folds the stream's
    epochs without changing answers."""
    import os

    from gcf_corima_parquet_converter_spark.operators import retrieval as R
    from gcf_corima_parquet_converter_spark.streaming.ingest import (
        maintain_inverted_index,
    )

    src = str(tmp_path / "docs_src")
    os.makedirs(src)
    rows1 = [(i, f"stream doc {i} quick brown words w{i % 7}")
             for i in range(12)]
    rows2 = [(100 + i, f"late doc {i} spark window merge w{i % 5}")
             for i in range(8)]
    sch = "doc_id long, text string"
    for name, rows in (("a", rows1), ("b", rows2)):
        p = str(tmp_path / name)
        spark.createDataFrame(rows, sch).coalesce(1).write.parquet(p)
        import glob as _g
        import shutil

        [f] = _g.glob(os.path.join(p, "part-*.parquet"))
        shutil.copy(f, os.path.join(src, name + ".parquet"))

    root = str(tmp_path / "lexidx")
    stream = (
        spark.readStream.schema(sch)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    q = maintain_inverted_index(
        stream, root, checkpoint=str(tmp_path / "ckpt_lex"), n_buckets=8
    )
    q.awaitTermination(120)

    all_rows = spark.createDataFrame(rows1 + rows2, sch)
    oneshot = R.inverted_index(all_rows)
    def rows(df):
        return {
            (r["term"], r["doc_id"]): (r["tf"], tuple(r["positions"]), r["dl"])
            for r in df.collect()
        }

    post, stats = R.read_index_artifact(spark, root)
    assert rows(post) == rows(oneshot)
    srow, orow = stats.first(), R.index_stats(oneshot).first()
    assert (srow["n_docs"], srow["avgdl"]) == (orow["n_docs"], orow["avgdl"])
    mem = [
        tuple(r)
        for r in R.bm25_topk(
            oneshot, ["spark", "quick"], k=5, idf="rational", scale=10**6
        ).orderBy("rank").collect()
    ]
    art = [
        tuple(r)
        for r in R.bm25_topk(
            post, ["spark", "quick"], k=5, idf="rational", scale=10**6,
            stats=stats,
        ).orderBy("rank").collect()
    ]
    assert mem == art
    # fold the stream's epochs; answers unchanged, version bumped
    res = R.index_compact(spark, root)
    assert res["version"] == 1 and res["epochs_folded"] == 2
    post2, stats2 = R.read_index_artifact(spark, root)
    assert rows(post2) == rows(oneshot)
    assert stats2.first()["n_docs"] == orow["n_docs"]
    ph = {r["doc_id"] for r in R.phrase_search(post2, "spark window").collect()}
    assert ph == {100 + i for i in range(8)}


def test_serve_bm25_queries_stream_matches_batch_and_sees_appends(
    spark, tmp_path
):
    """r13 lexical serving loop: a stream of term queries answered
    against the persisted incremental index equals the batch scorer;
    an epoch appended between micro-batches (the _pre_batch_hook seam,
    as in the ANN server test) is searchable in the NEXT batch with no
    restart — including its effect on the corpus stats."""
    import os

    from gcf_corima_parquet_converter_spark.operators import retrieval as R
    from gcf_corima_parquet_converter_spark.streaming.ingest import (
        serve_bm25_queries,
    )

    docs1 = [(i, f"base doc {i} quick brown words w{i % 5}")
             for i in range(10)]
    late = [(100, "quick quick quick late champion")]
    root = str(tmp_path / "serve_idx")
    R.index_append(
        R.inverted_index(
            spark.createDataFrame(docs1, "doc_id long, text string")
        ),
        root, 0, n_buckets=8,
    )

    qsrc = str(tmp_path / "qsrc")
    os.makedirs(qsrc)
    sch = "q_id long, terms array<string>"
    for name, rows in (
        ("a", [(1, ["quick", "brown"])]),
        ("b", [(2, ["quick"]), (3, ["champion"])]),
    ):
        p = str(tmp_path / name)
        spark.createDataFrame(rows, sch).coalesce(1).write.parquet(p)
        import glob as _g
        import shutil

        [f] = _g.glob(os.path.join(p, "part-*.parquet"))
        shutil.copy(f, os.path.join(qsrc, name + ".parquet"))

    appended = {"done": False}

    def hook(batch_id):
        # before the SECOND batch, a maintenance append lands doc 100
        if batch_id >= 1 and not appended["done"]:
            R.index_append(
                R.inverted_index(
                    spark.createDataFrame(late, "doc_id long, text string")
                ),
                root, 99,
            )
            appended["done"] = True

    out_path = str(tmp_path / "serve_out")
    q = serve_bm25_queries(
        spark.readStream.schema(sch).option("maxFilesPerTrigger", 1)
        .parquet(qsrc),
        root, out_path, checkpoint=str(tmp_path / "ckpt_serve"),
        k=5, idf="rational", scale=10**6, _pre_batch_hook=hook,
    )
    q.awaitTermination(120)

    got = spark.read.parquet(out_path)
    # batch 0 (q1) was answered BEFORE the append: against docs1 only
    post0, stats0 = R.read_index_artifact(spark, root)
    idx1 = R.inverted_index(
        spark.createDataFrame(docs1, "doc_id long, text string")
    )
    want1 = {
        (r["rank"], r["doc_id"], r["score"])
        for r in R.bm25_topk(
            idx1, ["quick", "brown"], k=5, idf="rational", scale=10**6
        ).collect()
    }
    got1 = {
        (r["rank"], r["doc_id"], r["score"])
        for r in got.where(F.col("q_id") == 1).collect()
    }
    assert got1 == want1
    # batch 1 (q2, q3) sees the appended doc AND the updated stats
    idx_all = R.inverted_index(
        spark.createDataFrame(docs1 + late, "doc_id long, text string")
    )
    for qid, terms in ((2, ["quick"]), (3, ["champion"])):
        want = {
            (r["rank"], r["doc_id"], r["score"])
            for r in R.bm25_topk(
                idx_all, terms, k=5, idf="rational", scale=10**6
            ).collect()
        }
        gotq = {
            (r["rank"], r["doc_id"], r["score"])
            for r in got.where(F.col("q_id") == qid).collect()
        }
        assert gotq == want, qid
    # doc 100 (tf=3 for 'quick') outranks every base doc for q2
    top2 = got.where((F.col("q_id") == 2) & (F.col("rank") == 1)).first()
    assert top2["doc_id"] == 100


def test_serve_bm25_queries_malformed_and_early_batches(spark, tmp_path):
    """Poison-pill hardening (r13 advice): a batch whose queries all
    carry null/empty terms, and a batch arriving BEFORE the first
    index_append initializes the artifact, both COMMIT (no results)
    instead of raising — a raising batch would replay from the
    checkpoint forever and wedge the stream.  Null/blank term elements
    inside an otherwise-good query are filtered, not fatal."""
    import glob as _g
    import os
    import shutil

    from gcf_corima_parquet_converter_spark.operators import retrieval as R
    from gcf_corima_parquet_converter_spark.streaming.ingest import (
        serve_bm25_queries,
    )

    docs = [(i, f"doc {i} quick brown w{i % 3}") for i in range(6)]
    root = str(tmp_path / "late_idx")  # NOT initialized yet

    qsrc = str(tmp_path / "qsrc")
    os.makedirs(qsrc)
    sch = "q_id long, terms array<string>"
    batches = (
        # batch 0: arrives before the index exists
        ("a", [(1, ["quick"])]),
        # batch 1: nothing usable — null array, empty array, null/blank
        ("b", [(2, None), (3, []), (4, [None, ""])]),
        # batch 2: good terms mixed with junk elements
        ("c", [(5, ["quick", None, ""]), (6, [])]),
    )
    for name, rows in batches:
        p = str(tmp_path / ("stage_" + name))
        spark.createDataFrame(rows, sch).coalesce(1).write.parquet(p)
        [f] = _g.glob(os.path.join(p, "part-*.parquet"))
        shutil.copy(f, os.path.join(qsrc, name + ".parquet"))

    state = {"init": False}

    def hook(batch_id):
        if batch_id >= 1 and not state["init"]:
            R.index_append(
                R.inverted_index(
                    spark.createDataFrame(docs, "doc_id long, text string")
                ),
                root, 0, n_buckets=8,
            )
            state["init"] = True

    out_path = str(tmp_path / "out")
    q = serve_bm25_queries(
        spark.readStream.schema(sch).option("maxFilesPerTrigger", 1)
        .parquet(qsrc),
        root, out_path, checkpoint=str(tmp_path / "ckpt"),
        k=5, idf="rational", scale=10**6, _pre_batch_hook=hook,
    )
    q.awaitTermination(120)
    assert q.exception() is None  # no batch poisoned the stream
    got = spark.read.parquet(out_path)
    # only q5 produced results; junk elements were dropped from it
    assert {r["q_id"] for r in got.select("q_id").distinct().collect()} == {5}
    idx = R.inverted_index(
        spark.createDataFrame(docs, "doc_id long, text string")
    )
    want = {
        (r["rank"], r["doc_id"], r["score"])
        for r in R.bm25_topk(
            idx, ["quick"], k=5, idf="rational", scale=10**6
        ).collect()
    }
    assert {
        (r["rank"], r["doc_id"], r["score"])
        for r in got.where(F.col("q_id") == 5).collect()
    } == want


def test_serve_bm25_queries_pending_deletes_overlay(spark, tmp_path):
    """Serving correctness between a purge and its compaction (r13
    verdict carry #8): a purged doc vanishes from served top-k the
    moment its id lands at pending_deletes_path — postings AND corpus
    stats corrected — and stays gone after index_compact folds the
    deletion physically and the purge loop clears the overlay file."""
    import glob as _g
    import os
    import shutil

    from gcf_corima_parquet_converter_spark.operators import retrieval as R
    from gcf_corima_parquet_converter_spark.streaming.ingest import (
        serve_bm25_queries,
    )

    # doc 0 is the undisputed top-1 for 'quick' (tf=4)
    docs = [(0, "quick quick quick quick")] + [
        (i, f"doc {i} quick brown w{i % 3}") for i in range(1, 8)
    ]
    live = [d for d in docs if d[0] != 0]
    root = str(tmp_path / "purge_idx")
    R.index_append(
        R.inverted_index(
            spark.createDataFrame(docs, "doc_id long, text string")
        ),
        root, 0, n_buckets=8,
    )
    dels_path = str(tmp_path / "pending_dels")

    qsrc = str(tmp_path / "qsrc")
    os.makedirs(qsrc)
    sch = "q_id long, terms array<string>"
    for name, rows in (
        ("a", [(1, ["quick"])]),
        ("b", [(2, ["quick"])]),
        ("c", [(3, ["quick"])]),
    ):
        p = str(tmp_path / ("stage_" + name))
        spark.createDataFrame(rows, sch).coalesce(1).write.parquet(p)
        [f] = _g.glob(os.path.join(p, "part-*.parquet"))
        shutil.copy(f, os.path.join(qsrc, name + ".parquet"))

    state = {"purged": False, "compacted": False}

    def hook(batch_id):
        if batch_id >= 1 and not state["purged"]:
            spark.createDataFrame([(0,)], "doc_id long").write.parquet(
                dels_path
            )
            state["purged"] = True
        if batch_id >= 2 and not state["compacted"]:
            R.index_compact(
                spark, root,
                delete_ids=spark.createDataFrame([(0,)], "doc_id long"),
            )
            shutil.rmtree(dels_path)  # purge loop clears the overlay
            state["compacted"] = True

    out_path = str(tmp_path / "out")
    q = serve_bm25_queries(
        spark.readStream.schema(sch).option("maxFilesPerTrigger", 1)
        .parquet(qsrc),
        root, out_path, checkpoint=str(tmp_path / "ckpt"),
        k=5, idf="rational", scale=10**6,
        pending_deletes_path=dels_path, _pre_batch_hook=hook,
    )
    q.awaitTermination(120)
    assert q.exception() is None
    got = spark.read.parquet(out_path)
    # batch 0: doc 0 served, rank 1
    r1 = got.where((F.col("q_id") == 1) & (F.col("rank") == 1)).first()
    assert r1["doc_id"] == 0
    # batches 1 (overlay) and 2 (post-compaction): doc 0 gone, and the
    # scores equal the batch scorer over the corpus WITHOUT doc 0 —
    # i.e. the overlay also corrected n_docs/avgdl, not just postings
    idx_live = R.inverted_index(
        spark.createDataFrame(live, "doc_id long, text string")
    )
    want = {
        (r["rank"], r["doc_id"], r["score"])
        for r in R.bm25_topk(
            idx_live, ["quick"], k=5, idf="rational", scale=10**6
        ).collect()
    }
    for qid in (2, 3):
        gotq = {
            (r["rank"], r["doc_id"], r["score"])
            for r in got.where(F.col("q_id") == qid).collect()
        }
        assert gotq == want, qid
        assert all(d != 0 for _, d, _ in gotq)


def test_serve_bm25_queries_torn_overlay_degrades_not_fails(
    spark, tmp_path
):
    """ADVICE r15: the purge loop 'clears/rewrites the file' — a batch
    planning against a half-rewritten overlay (torn part file, parts
    deleted mid-read) must DEGRADE to serving without the overlay for
    that batch (bounded staleness; merge-on-compact deletion stays
    authoritative), never fail the batch and wedge the stream on a
    checkpoint replay.  r15 localizes the overlay driver-side at plan
    time (one bounded collect), so the executor plan never touches the
    overlay path at all."""
    import glob as _g
    import os
    import shutil

    from gcf_corima_parquet_converter_spark.operators import retrieval as R
    from gcf_corima_parquet_converter_spark.streaming.ingest import (
        serve_bm25_queries,
    )

    docs = [(0, "quick quick quick quick")] + [
        (i, f"doc {i} quick brown w{i % 3}") for i in range(1, 6)
    ]
    root = str(tmp_path / "torn_idx")
    R.index_append(
        R.inverted_index(
            spark.createDataFrame(docs, "doc_id long, text string")
        ),
        root, 0, n_buckets=8,
    )
    dels_path = str(tmp_path / "pending_dels")
    spark.createDataFrame([(0,)], "doc_id long").write.parquet(dels_path)

    qsrc = str(tmp_path / "qsrc")
    os.makedirs(qsrc)
    sch = "q_id long, terms array<string>"
    for name, rows in (("a", [(1, ["quick"])]), ("b", [(2, ["quick"])])):
        p = str(tmp_path / ("stage_" + name))
        spark.createDataFrame(rows, sch).coalesce(1).write.parquet(p)
        [f] = _g.glob(os.path.join(p, "part-*.parquet"))
        shutil.copy(f, os.path.join(qsrc, name + ".parquet"))

    state = {"torn": False}

    def hook(batch_id):
        if batch_id >= 1 and not state["torn"]:
            # simulate mid-rewrite: parts gone, a torn (truncated)
            # file in their place — neither listable-and-readable nor
            # cleanly absent
            for f in _g.glob(os.path.join(dels_path, "part-*.parquet")):
                os.remove(f)
            with open(
                os.path.join(dels_path, "part-00000.parquet"), "wb"
            ) as fh:
                fh.write(b"PAR1torn")
            state["torn"] = True

    out_path = str(tmp_path / "out")
    q = serve_bm25_queries(
        spark.readStream.schema(sch).option("maxFilesPerTrigger", 1)
        .parquet(qsrc),
        root, out_path, checkpoint=str(tmp_path / "ckpt"),
        k=5, idf="rational", scale=10**6,
        pending_deletes_path=dels_path, _pre_batch_hook=hook,
    )
    q.awaitTermination(120)
    assert q.exception() is None  # the stream NEVER wedged
    got = spark.read.parquet(out_path)
    # batch 0: overlay intact -> doc 0 purged from the top-k
    assert all(
        r["doc_id"] != 0
        for r in got.where(F.col("q_id") == 1).collect()
    )
    # batch 1: overlay torn -> served WITHOUT it (doc 0 back, the
    # documented bounded-staleness degradation) — but served
    r1 = got.where((F.col("q_id") == 2) & (F.col("rank") == 1)).first()
    assert r1 is not None and r1["doc_id"] == 0


def test_lm_gate_stream_matches_batch_filter(spark, tmp_path):
    """The streaming LM quality gate lands exactly the docs the batch
    filter keeps (frozen model + frozen threshold -> per-batch
    decisions are deterministic), quarantine catches the rest
    INCLUDING unscoreable blank docs, and kept + quarantined == every
    streamed doc."""
    import glob as _g
    import os
    import shutil

    from gcf_corima_parquet_converter_spark.operators import text as X
    from gcf_corima_parquet_converter_spark.streaming.ingest import (
        lm_gate_stream,
    )

    docs = [
        (1, "the quick brown fox jumps over the lazy dog"),
        (2, "the quick brown fox sleeps"),
        (3, "zzz qqq vvv kkk www"),          # OOV-heavy: low score
        (4, "the quick brown fox jumps again"),
        (5, "   "),                           # unscoreable -> quarantine
        (6, "qqq zzz unseen unseen unseen"),
        (7, "the quick brown fox jumps over the lazy dog again"),
        (8, None),                            # unscoreable -> quarantine
    ]
    sch = "doc_id long, text string"
    src = str(tmp_path / "gate_src")
    os.makedirs(src)
    for name, part in (("f1", docs[:4]), ("f2", docs[4:])):
        p = str(tmp_path / name)
        spark.createDataFrame(part, sch).coalesce(1).write.parquet(p)
        [f] = _g.glob(os.path.join(p, "part-*.parquet"))
        shutil.copy(f, os.path.join(src, name + ".parquet"))

    all_df = spark.createDataFrame(docs, sch)
    model = X.ngram_lm_train(all_df, n=3)
    scored = X.ngram_lm_score(all_df, model, n=3, scale=10**6)
    # freeze a mid-range threshold offline: the median batch score
    vals = sorted(r["lm_score"] for r in scored.collect())
    thr = vals[len(vals) // 2]

    out, quar = str(tmp_path / "kept"), str(tmp_path / "quar")
    q = lm_gate_stream(
        spark.readStream.schema(sch)
        .option("maxFilesPerTrigger", 1)
        .parquet(src),
        model,
        out,
        checkpoint=str(tmp_path / "ck_gate"),
        min_score=thr,
        quarantine_path=quar,
        # hot-gram salting on (the cached-model stream's skew knob);
        # the batch-side `scored` above is UNSALTED, so the equality
        # below also pins salted == unsalted through the gate
        salt=4,
    )
    q.awaitTermination(120)

    from gcf_corima_parquet_converter_spark.operators.manifest import (
        read_artifact,
    )

    kept = read_artifact(spark, out, drop_epoch=True)
    rejected = read_artifact(spark, quar, drop_epoch=True)
    want_kept = {
        r["doc_id"] for r in scored.collect() if r["lm_score"] >= thr
    }
    got_kept = {r["doc_id"] for r in kept.select("doc_id").collect()}
    got_rej = {r["doc_id"] for r in rejected.select("doc_id").collect()}
    assert got_kept == want_kept
    assert got_kept | got_rej == {d for d, _ in docs}
    assert not (got_kept & got_rej)
    assert {5, 8} <= got_rej  # blank/null docs carry no LM evidence
    # the landed rows carry the audit columns
    assert {"doc_id", "text", "n_tokens", "lm_score"} <= set(kept.columns)


def test_lm_gate_stream_releases_model_cache_on_termination(
    spark, tmp_path
):
    """ADVICE r15: lm_gate_stream persists the model but used to leak
    the cache for the application lifetime.  The termination listener
    must unpersist it once the (availableNow) query ends."""
    import os
    import time

    from gcf_corima_parquet_converter_spark.operators import text as X
    from gcf_corima_parquet_converter_spark.streaming.ingest import (
        lm_gate_stream,
    )

    sch = "doc_id long, text string"
    docs = spark.createDataFrame(
        [(1, "a b c a b"), (2, "a b a b a")], sch
    )
    src = str(tmp_path / "rel_src")
    docs.coalesce(1).write.parquet(src)
    model = X.ngram_lm_train(docs, n=2)
    q = lm_gate_stream(
        spark.readStream.schema(sch).parquet(src),
        model,
        str(tmp_path / "rel_out"),
        checkpoint=str(tmp_path / "rel_ck"),
        min_score=-100.0,
    )
    q.awaitTermination(120)
    # listener fires asynchronously after termination
    deadline = time.time() + 30
    while time.time() < deadline and model.storageLevel.useMemory:
        time.sleep(0.5)
    assert not model.storageLevel.useMemory, (
        "model cache not released after query termination"
    )


def test_serve_search_queries_mixed_modes_match_batch_and_see_appends(
    spark, tmp_path
):
    """r15 verdict #5 — real serving is fused: one query stream
    carrying bm25 / phrase / proximity / fused rows, all answered
    from ONE pruned load of the persisted index per batch.  Each
    mode's results equal its batch operator over the same artifact,
    and a mid-stream append is visible to the NEXT batch in every
    mode (same freshness loop as serve_bm25_queries)."""
    import glob as _g
    import os
    import shutil

    from gcf_corima_parquet_converter_spark.operators import retrieval as R
    from gcf_corima_parquet_converter_spark.streaming.ingest import (
        serve_search_queries,
    )

    import numpy as np

    from gcf_corima_parquet_converter_spark.operators import (
        similarity as S,
    )

    docs1 = [
        (i, f"base doc {i} quick brown gap{i % 3} fox w{i % 5}")
        for i in range(10)
    ]
    late = [(100, "quick spacer brown quick brown late fox")]
    root = str(tmp_path / "mix_idx")
    R.index_append(
        R.inverted_index(
            spark.createDataFrame(docs1, "doc_id long, text string")
        ),
        root, 0, n_buckets=8,
    )
    # document embeddings (vec_id == doc_id) + a persisted IVF artifact
    # for the hybrid arm
    embs = [
        (i, [float(i % 4), float((i * 3) % 5), 1.0, float(i % 2)])
        for i in range(10)
    ]
    edf = spark.createDataFrame(embs, "vec_id long, embedding array<float>")
    cents = np.array([[0.0, 0.0, 1.0, 0.0], [3.0, 4.0, 1.0, 1.0]])
    ann_root = str(tmp_path / "mix_ann")
    S.ivf_save(S.ivf_assign(edf, cents), cents, ann_root)
    # fuzzy vocabulary artifact (static offline build) for the
    # typo-robust bm25 path
    fz_root = str(tmp_path / "mix_fz")
    R.write_fuzzy_vocab(
        R.inverted_index(
            spark.createDataFrame(docs1, "doc_id long, text string")
        ),
        fz_root, max_edits=1, n_buckets=8,
    )

    sch = (
        "q_id long, mode string, terms array<string>, slop int, "
        "q_vec array<float>"
    )
    qv6 = [1.0, 2.0, 1.0, 0.0]
    batches = (
        ("a", [
            (1, "bm25", ["quick", "brown"], None, None),
            (2, "phrase", ["quick", "brown"], None, None),
            # typo'd bm25: 'quik'/'brwn' must spelling-correct to
            # quick/brown through the fuzzy artifact and rank
            # IDENTICALLY to q1
            (7, "bm25", ["quik", "brwn"], None, None),
        ]),
        ("b", [
            # doc 100 has TWO ordered quick->brown windows within
            # slop=1 (pos 1->3 and 4->5); base docs have one exact
            # adjacency each -> the appended doc must rank FIRST
            (3, "proximity", ["quick", "brown"], 1, None),
            (4, "fused", ["quick", "brown", "fox"], None, None),
            (5, "bogus_mode", ["quick"], None, None),
            (6, "hybrid", ["quick", "fox"], None, qv6),
        ]),
    )
    qsrc = str(tmp_path / "mix_qsrc")
    os.makedirs(qsrc)
    for name, rows in batches:
        p = str(tmp_path / ("mix_" + name))
        spark.createDataFrame(rows, sch).coalesce(1).write.parquet(p)
        [f] = _g.glob(os.path.join(p, "part-*.parquet"))
        shutil.copy(f, os.path.join(qsrc, name + ".parquet"))

    appended = {"done": False}

    def hook(batch_id):
        if batch_id >= 1 and not appended["done"]:
            R.index_append(
                R.inverted_index(
                    spark.createDataFrame(late, "doc_id long, text string")
                ),
                root, 99,
            )
            appended["done"] = True

    out_path = str(tmp_path / "mix_out")
    q = serve_search_queries(
        spark.readStream.schema(sch).option("maxFilesPerTrigger", 1)
        .parquet(qsrc),
        root, out_path, checkpoint=str(tmp_path / "mix_ck"),
        k=5, idf="rational", scale=10**6, _pre_batch_hook=hook,
        ann_index_path=ann_root, fuzzy_vocab_path=fz_root,
        # champion pruning ON with m >= every df in this corpus: the
        # bm25 arms run the candidate-restricted path and must still
        # equal the unrestricted batch operators exactly (the
        # m-vs-recall trade at small m is pinned operator-side)
        champion_m=50,
    )
    q.awaitTermination(180)

    got = spark.read.parquet(out_path)
    idx1 = R.inverted_index(
        spark.createDataFrame(docs1, "doc_id long, text string")
    )
    idx_all = R.inverted_index(
        spark.createDataFrame(docs1 + late, "doc_id long, text string")
    )

    # q1 bm25 (batch 0, pre-append corpus)
    want1 = {
        (r["rank"], r["doc_id"], float(r["score"]))
        for r in R.bm25_topk(
            idx1, ["quick", "brown"], k=5, idf="rational", scale=10**6
        ).collect()
    }
    got1 = {
        (r["rank"], r["doc_id"], r["score"])
        for r in got.where(F.col("q_id") == 1).collect()
    }
    assert got1 == want1

    # q7: the typo'd twin of q1 — spelling-corrected serving answers
    # exactly what the clean query answers
    got7 = {
        (r["rank"], r["doc_id"], r["score"])
        for r in got.where(F.col("q_id") == 7).collect()
    }
    assert got7 == want1

    # q2 phrase (batch 0): ranked (n_matches desc, doc), score=n_matches
    ph = sorted(
        ((r["doc_id"], r["n_matches"])
         for r in R.phrase_search(idx1, ["quick", "brown"]).collect()),
        key=lambda t: (-t[1], t[0]),
    )[:5]
    want2 = {
        (i + 1, d, float(n)) for i, (d, n) in enumerate(ph)
    }
    got2 = {
        (r["rank"], r["doc_id"], r["score"])
        for r in got.where(F.col("q_id") == 2).collect()
    }
    assert got2 == want2

    # q3 proximity (batch 1: sees doc 100)
    px = sorted(
        ((r["doc_id"], r["n_matches"]) for r in R.proximity_search(
            idx_all, ["quick", "brown"], slop=1
        ).collect()),
        key=lambda t: (-t[1], t[0]),
    )[:5]
    want3 = {(i + 1, d, float(n)) for i, (d, n) in enumerate(px)}
    got3 = {
        (r["rank"], r["doc_id"], r["score"])
        for r in got.where(F.col("q_id") == 3).collect()
    }
    assert got3 == want3
    # the append is searchable AND outranks (2 windows vs 1)
    assert (1, 100, 2.0) in got3

    # q4 fused (batch 1): the q131 recipe over the full corpus
    bm = R.bm25_topk(
        idx_all, ["quick", "brown", "fox"], k=20, idf="rational",
        scale=10**6,
    ).select("doc_id", "rank")
    spans = R.min_span(idx_all, ["quick", "brown", "fox"])
    from pyspark.sql import Window as W

    prox = (
        spans.withColumn(
            "rank",
            F.row_number().over(
                W.partitionBy(F.lit(0)).orderBy("min_span", "doc_id")
            ),
        )
        .where(F.col("rank") <= 20)
        .select("doc_id", "rank")
    )
    want4 = {
        (r["rank"], r["doc_id"], float(r["rrf_score"]))
        for r in R.rrf_fuse([bm, prox], topk=5, scale=10**6).collect()
    }
    got4 = {
        (r["rank"], r["doc_id"], r["score"])
        for r in got.where(F.col("q_id") == 4).collect()
    }
    assert got4 == want4

    # q6 hybrid (batch 1): the q136 recipe — BM25 over the index
    # (post-append corpus) RRF-fused with IVF ANN over the persisted
    # vector artifact (exhaustive probe: n_probe covers both lists)
    bmh = R.bm25_topk(
        idx_all, ["quick", "fox"], k=20, idf="rational", scale=10**6
    ).select("doc_id", "rank")
    import numpy as _np

    qarr = _np.asarray(qv6)
    sims = sorted(
        (
            (
                int(_np.floor(_np.dot(_np.asarray(v), qarr) * 10**6 + 0.5)),
                i,
            )
            for i, v in embs
        ),
        key=lambda t: (-t[0], t[1]),
    )[:20]
    dense = spark.createDataFrame(
        [(d, r + 1) for r, (_, d) in enumerate(sims)],
        "doc_id long, rank int",
    )
    want6 = {
        (r["rank"], r["doc_id"], float(r["rrf_score"]))
        for r in R.rrf_fuse([bmh, dense], topk=5, scale=10**6).collect()
    }
    got6 = {
        (r["rank"], r["doc_id"], r["score"])
        for r in got.where(F.col("q_id") == 6).collect()
    }
    assert got6 == want6

    # the bogus-mode row produced nothing and wedged nothing
    assert got.where(F.col("q_id") == 5).count() == 0
    assert set(
        r["mode"] for r in got.select("mode").distinct().collect()
    ) == {"bm25", "phrase", "proximity", "fused", "hybrid"}


def test_serve_search_queries_score_fusion_matches_offline(
    spark, tmp_path
):
    """r17: fusion='score' serves the fused arm through
    score_fuse_batch (CombSUM over the BM25 score and -min_span
    tightness, weighted) — served rows must equal the OFFLINE
    composition of the same arms over the same artifact."""
    import glob as _g
    import os
    import shutil

    from gcf_corima_parquet_converter_spark.operators import retrieval as R
    from gcf_corima_parquet_converter_spark.streaming.ingest import (
        serve_search_queries,
    )

    docs = [
        (i, f"quick w{i % 3} brown fox gap{i % 5} quick brown")
        for i in range(12)
    ]
    ddf = spark.createDataFrame(docs, "doc_id long, text string")
    root = str(tmp_path / "sf_idx")
    R.index_append(R.inverted_index(ddf), root, 0, n_buckets=4)

    sch = "q_id long, mode string, terms array<string>"
    rows = [(1, "fused", ["quick", "brown", "fox"])]
    qsrc = str(tmp_path / "sf_qsrc")
    os.makedirs(qsrc)
    p = str(tmp_path / "sf_q0")
    spark.createDataFrame(rows, sch).coalesce(1).write.parquet(p)
    [f] = _g.glob(os.path.join(p, "part-*.parquet"))
    shutil.copy(f, os.path.join(qsrc, "a.parquet"))

    out_path = str(tmp_path / "sf_out")
    q = serve_search_queries(
        spark.readStream.schema(sch).parquet(qsrc),
        root, out_path, checkpoint=str(tmp_path / "sf_ck"),
        k=5, idf="rational", scale=10**6,
        fusion="score", fusion_weights=(0.7, 0.3),
    )
    q.awaitTermination(120)

    idx = R.inverted_index(ddf)
    qdf = spark.createDataFrame(
        [(1, ["quick", "brown", "fox"])], "q_id long, terms array<string>"
    )
    bm = R.bm25_topk_batch(
        idx, qdf, k=20, idf="rational", scale=10**6
    ).select("q_id", "doc_id", "score")
    from pyspark.sql import Window as W

    ws = W.partitionBy("q_id").orderBy("min_span", "doc_id")
    prox = (
        R.min_span_batch(idx, qdf)
        .withColumn("rank", F.row_number().over(ws))
        .where(F.col("rank") <= 20)
        .select(
            "q_id", "doc_id",
            (-F.col("min_span")).cast("double").alias("score"),
        )
    )
    want = {
        (r["rank"], r["doc_id"], float(r["fused_score"]))
        for r in R.score_fuse_batch(
            [bm, prox], weights=[0.7, 0.3], topk=5, scale=10**6
        ).collect()
    }
    got = {
        (r["rank"], r["doc_id"], r["score"])
        for r in spark.read.parquet(out_path).collect()
    }
    assert got == want and len(got) == 5
    with pytest.raises(ValueError, match="fusion"):
        serve_search_queries(
            spark.readStream.schema(sch).parquet(qsrc),
            root, str(tmp_path / "x"), checkpoint=str(tmp_path / "xck"),
            fusion="bogus",
        )


def test_serve_search_queries_output_equals_one_offline_twin(
    spark, tmp_path
):
    """r17 verdict #6: the served answer SET for a mixed batch —
    every mode, fuzzy correction, champion pruning, hybrid dense arm,
    a vector-only row — equals ONE offline composition of the batch
    operators over the same artifacts (the q141-style offline twin).
    Unlike the per-mode parity tests this compares the full
    (q_id, mode, rank, doc_id, score) frame at once, so any fusion
    refactor that drifts serving away from the offline recipe fails
    here even if each arm still looks right in isolation."""
    import glob as _g
    import os
    import shutil

    import numpy as np

    from pyspark.sql import Window as W

    from gcf_corima_parquet_converter_spark.operators import retrieval as R
    from gcf_corima_parquet_converter_spark.operators import (
        similarity as S,
    )
    from gcf_corima_parquet_converter_spark.operators.manifest import (
        read_artifact,
    )
    from gcf_corima_parquet_converter_spark.streaming.ingest import (
        serve_search_queries,
    )

    docs = [
        (i, f"quick brown w{i % 3} fox gap{i % 5} quick brown doc")
        for i in range(12)
    ]
    ddf = spark.createDataFrame(docs, "doc_id long, text string")
    root = str(tmp_path / "tw_idx")
    R.index_append(R.inverted_index(ddf), root, 0, n_buckets=4)
    fz_root = str(tmp_path / "tw_fz")
    R.write_fuzzy_vocab(R.inverted_index(ddf), fz_root, max_edits=1,
                        n_buckets=8)
    embs = [
        (i, [float(i % 4), float((i * 3) % 5), 1.0, float(i % 2)])
        for i in range(12)
    ]
    edf = spark.createDataFrame(embs, "vec_id long, embedding array<float>")
    cents = np.array([[0.0, 0.0, 1.0, 0.0], [3.0, 4.0, 1.0, 1.0]])
    ann_root = str(tmp_path / "tw_ann")
    S.ivf_save(S.ivf_assign(edf, cents), cents, ann_root)

    sch = (
        "q_id long, mode string, terms array<string>, slop int, "
        "q_vec array<float>"
    )
    qv6, qv7 = [1.0, 2.0, 1.0, 0.0], [0.5, 1.0, 2.0, 1.0]
    rows = [
        (1, "bm25", ["quick", "brown"], None, None),
        (2, "bm25", ["quik", "brwn"], None, None),
        (3, "phrase", ["quick", "brown"], None, None),
        (4, "proximity", ["quick", "brown"], 1, None),
        (5, "fused", ["quick", "brown", "fox"], None, None),
        (6, "hybrid", ["quick", "fox"], None, qv6),
        (7, "hybrid", None, None, qv7),
    ]
    qsrc = str(tmp_path / "tw_qsrc")
    os.makedirs(qsrc)
    p = str(tmp_path / "tw_q0")
    spark.createDataFrame(rows, sch).coalesce(1).write.parquet(p)
    [f] = _g.glob(os.path.join(p, "part-*.parquet"))
    shutil.copy(f, os.path.join(qsrc, "a.parquet"))

    K, M_CH = 5, 50
    out_path = str(tmp_path / "tw_out")
    q = serve_search_queries(
        spark.readStream.schema(sch).parquet(qsrc),
        root, out_path, checkpoint=str(tmp_path / "tw_ck"),
        k=K, idf="rational", scale=10**6,
        ann_index_path=ann_root, fuzzy_vocab_path=fz_root,
        champion_m=M_CH,
    )
    q.awaitTermination(120)
    got = {
        (r["q_id"], r["mode"], r["rank"], r["doc_id"], r["score"])
        for r in spark.read.parquet(out_path).collect()
    }

    # ---- offline twin: ONE composition over the same artifacts
    post, stats = R.read_index_artifact(spark, root)
    post = post.drop("tbucket")
    # 1. correction (bm25 rows only), through the same fuzzy artifact
    best = R.fuzzy_best_match(
        R.fuzzy_match_terms(
            spark, fz_root, ["quick", "brown", "quik", "brwn"]
        )
    )
    bmq = spark.createDataFrame(
        [(1, ["quick", "brown"]), (2, ["quik", "brwn"])],
        "q_id long, terms array<string>",
    )
    bm_cor = (
        bmq.select("q_id", F.explode("terms").alias("q_term"))
        .join(F.broadcast(best), "q_term")
        .groupBy("q_id")
        .agg(F.collect_set("term").alias("terms"))
    )
    # 2. champion-pruned exact BM25 (the q139 recipe)
    cands = R.champion_candidates(
        R.champion_lists(post, m=M_CH, stats=stats), bm_cor
    )
    parts = [
        R.bm25_topk_batch(
            post, bm_cor, k=K, idf="rational", scale=10**6,
            stats=stats, candidates=cands,
        ).select(
            "q_id", F.lit("bm25").alias("mode"), "rank", "doc_id",
            F.col("score").cast("double").alias("score"),
        )
    ]
    # 3. positional modes
    for q_id, mode, slop in ((3, "phrase", 0), (4, "proximity", 1)):
        pq = spark.createDataFrame(
            [(q_id, ["quick", "brown"], slop)],
            "q_id long, terms array<string>, slop int",
        )
        m = R.positional_search_batch(post, pq, slop_col="slop")
        wp = W.partitionBy("q_id").orderBy(F.desc("n_matches"), "doc_id")
        parts.append(
            m.withColumn("rank", F.row_number().over(wp))
            .where(F.col("rank") <= K)
            .select(
                "q_id", F.lit(mode).alias("mode"), "rank", "doc_id",
                F.col("n_matches").cast("double").alias("score"),
            )
        )
    # 4. fused: BM25 top-4K + MinDist tightness, RRF (the q131 recipe)
    fq = spark.createDataFrame(
        [(5, ["quick", "brown", "fox"])], "q_id long, terms array<string>"
    )
    bm4 = R.bm25_topk_batch(
        post, fq, k=4 * K, idf="rational", scale=10**6, stats=stats
    ).select("q_id", "doc_id", "rank")
    ws = W.partitionBy("q_id").orderBy("min_span", "doc_id")
    prox4 = (
        R.min_span_batch(post, fq)
        .withColumn("rank", F.row_number().over(ws))
        .where(F.col("rank") <= 4 * K)
        .select("q_id", "doc_id", "rank")
    )
    parts.append(
        R.rrf_fuse_batch([bm4, prox4], topk=K, scale=10**6).select(
            "q_id", F.lit("fused").alias("mode"), "rank", "doc_id",
            F.col("rrf_score").cast("double").alias("score"),
        )
    )
    # 5. hybrid: lexical arm (q6 only) + dense arm (q6 and the
    # vector-only q7), RRF per query (the q136 recipe)
    hq = spark.createDataFrame(
        [(6, ["quick", "fox"])], "q_id long, terms array<string>"
    )
    hlex = R.bm25_topk_batch(
        post, hq, k=4 * K, idf="rational", scale=10**6, stats=stats
    ).select("q_id", "doc_id", "rank")
    hv = spark.createDataFrame(
        [(6, qv6), (7, qv7)], "q_id long, q_vec array<float>"
    )
    sims = S.ivf_topk_batch(
        read_artifact(spark, f"{ann_root}/assignments"), cents, hv,
        k=4 * K, n_probe=4,
    )
    wv = W.partitionBy("q_id").orderBy(F.desc("sim_fx"), "vec_id")
    hdense = (
        sims.withColumn("rank", F.row_number().over(wv))
        .where(F.col("rank") <= 4 * K)
        .select("q_id", F.col("vec_id").alias("doc_id"), "rank")
    )
    parts.append(
        R.rrf_fuse_batch([hlex, hdense], topk=K, scale=10**6).select(
            "q_id", F.lit("hybrid").alias("mode"), "rank", "doc_id",
            F.col("rrf_score").cast("double").alias("score"),
        )
    )
    want = set()
    for part in parts:
        want |= {
            (r["q_id"], r["mode"], r["rank"], r["doc_id"], r["score"])
            for r in part.collect()
        }
    assert got == want
    # every query answered, including the corrected typo row and the
    # vector-only row
    assert {t[0] for t in got} == {1, 2, 3, 4, 5, 6, 7}


def test_serve_search_queries_fused_span_scope_lex_matches_offline(
    spark, tmp_path
):
    """r17 verdict #4: fused_span_scope='lex' restricts the fused
    arm's MinDist fold to the BM25 top-4k candidates — served rows
    must equal the offline composition with the SAME restriction
    (bm25_topk_batch top-4k -> min_span_batch(candidates=) -> RRF),
    and an invalid scope raises."""
    import glob as _g
    import os
    import shutil

    from pyspark.sql import Window as W

    from gcf_corima_parquet_converter_spark.operators import retrieval as R
    from gcf_corima_parquet_converter_spark.streaming.ingest import (
        serve_search_queries,
    )

    docs = [
        (i, f"quick w{i % 3} brown fox gap{i % 5} quick brown")
        for i in range(12)
    ]
    ddf = spark.createDataFrame(docs, "doc_id long, text string")
    root = str(tmp_path / "fl_idx")
    R.index_append(R.inverted_index(ddf), root, 0, n_buckets=4)

    sch = "q_id long, mode string, terms array<string>"
    rows = [(1, "fused", ["quick", "brown", "fox"])]
    qsrc = str(tmp_path / "fl_qsrc")
    os.makedirs(qsrc)
    p = str(tmp_path / "fl_q0")
    spark.createDataFrame(rows, sch).coalesce(1).write.parquet(p)
    [f] = _g.glob(os.path.join(p, "part-*.parquet"))
    shutil.copy(f, os.path.join(qsrc, "a.parquet"))

    K = 3  # small k so the 4k candidate window actually prunes
    out_path = str(tmp_path / "fl_out")
    q = serve_search_queries(
        spark.readStream.schema(sch).parquet(qsrc),
        root, out_path, checkpoint=str(tmp_path / "fl_ck"),
        k=K, idf="rational", scale=10**6, fused_span_scope="lex",
    )
    q.awaitTermination(120)

    idx = R.inverted_index(ddf)
    qdf = spark.createDataFrame(
        [(1, ["quick", "brown", "fox"])], "q_id long, terms array<string>"
    )
    bm4 = R.bm25_topk_batch(
        idx, qdf, k=4 * K, idf="rational", scale=10**6
    ).select("q_id", "doc_id", "rank")
    ws = W.partitionBy("q_id").orderBy("min_span", "doc_id")
    prox4 = (
        R.min_span_batch(
            idx, qdf, candidates=bm4.select("q_id", "doc_id")
        )
        .withColumn("rank", F.row_number().over(ws))
        .where(F.col("rank") <= 4 * K)
        .select("q_id", "doc_id", "rank")
    )
    want = {
        (r["rank"], r["doc_id"], float(r["rrf_score"]))
        for r in R.rrf_fuse_batch(
            [bm4, prox4], topk=K, scale=10**6
        ).collect()
    }
    got = {
        (r["rank"], r["doc_id"], r["score"])
        for r in spark.read.parquet(out_path).collect()
    }
    assert got == want and len(got) == K
    with pytest.raises(ValueError, match="fused_span_scope"):
        serve_search_queries(
            spark.readStream.schema(sch).parquet(qsrc),
            root, str(tmp_path / "x"), checkpoint=str(tmp_path / "xck"),
            fused_span_scope="bogus",
        )


def test_serve_search_queries_dense_only_hybrid_weight_and_termless_batch(
    spark, tmp_path
):
    """ADVICE r17 + r18: (a) a hybrid row with a vector but NO terms
    fuses its dense arm under fusion_weights[1] — the dense weight —
    not the lexical weight a positional weights[:len(arms)] slice
    would hand it; (b) a batch carrying no terms at all (pure
    vector-only rows) still serves instead of hitting the empty
    term-pool early return."""
    import glob as _g
    import os
    import shutil

    import numpy as np

    from gcf_corima_parquet_converter_spark.operators import retrieval as R
    from gcf_corima_parquet_converter_spark.operators import (
        similarity as S,
    )
    from gcf_corima_parquet_converter_spark.streaming.ingest import (
        serve_search_queries,
    )

    docs = [(i, f"quick brown doc {i}") for i in range(8)]
    root = str(tmp_path / "do_idx")
    R.index_append(
        R.inverted_index(
            spark.createDataFrame(docs, "doc_id long, text string")
        ),
        root, 0, n_buckets=4,
    )
    embs = [
        (i, [float(i % 4), float((i * 3) % 5), 1.0, float(i % 2)])
        for i in range(8)
    ]
    edf = spark.createDataFrame(embs, "vec_id long, embedding array<float>")
    cents = np.array([[0.0, 0.0, 1.0, 0.0], [3.0, 4.0, 1.0, 1.0]])
    ann_root = str(tmp_path / "do_ann")
    S.ivf_save(S.ivf_assign(edf, cents), cents, ann_root)

    sch = (
        "q_id long, mode string, terms array<string>, slop int, "
        "q_vec array<float>"
    )
    qv = [1.0, 2.0, 1.0, 0.0]
    rows = [(1, "hybrid", None, None, qv)]
    qsrc = str(tmp_path / "do_qsrc")
    os.makedirs(qsrc)
    p = str(tmp_path / "do_q0")
    spark.createDataFrame(rows, sch).coalesce(1).write.parquet(p)
    [f] = _g.glob(os.path.join(p, "part-*.parquet"))
    shutil.copy(f, os.path.join(qsrc, "a.parquet"))

    out_path = str(tmp_path / "do_out")
    q = serve_search_queries(
        spark.readStream.schema(sch).parquet(qsrc),
        root, out_path, checkpoint=str(tmp_path / "do_ck"),
        k=5, idf="rational", scale=10**6, ann_index_path=ann_root,
        fusion="score", fusion_weights=(0.7, 0.3),
    )
    q.awaitTermination(120)

    # offline: the dense arm alone through score_fuse_batch under the
    # DENSE weight (0.3) — exhaustive probe, n_probe covers both lists
    from gcf_corima_parquet_converter_spark.operators.manifest import (
        read_artifact,
    )

    qdf = spark.createDataFrame([(1, qv)], "q_id long, q_vec array<float>")
    sims = S.ivf_topk_batch(
        read_artifact(spark, f"{ann_root}/assignments"), cents, qdf,
        k=20, n_probe=2,
    )
    from pyspark.sql import Window as W

    wv = W.partitionBy("q_id").orderBy(F.desc("sim_fx"), "vec_id")
    dense = (
        sims.withColumn("rank", F.row_number().over(wv))
        .where(F.col("rank") <= 20)
        .select(
            "q_id", F.col("vec_id").alias("doc_id"),
            F.col("sim_fx").cast("double").alias("score"),
        )
    )
    want = {
        (r["rank"], r["doc_id"], float(r["fused_score"]))
        for r in R.score_fuse_batch(
            [dense], weights=[0.3], topk=5, scale=10**6
        ).collect()
    }
    got = {
        (r["rank"], r["doc_id"], r["score"])
        for r in spark.read.parquet(out_path).collect()
    }
    assert got == want and len(got) == 5


def test_serve_search_queries_duplicate_qid_across_positional_modes(
    spark, tmp_path
):
    """r17: the positional arm keys positional_search_batch by the
    (q_id, mode) struct — a q_id reused as BOTH a phrase and a
    proximity row must answer as two independent queries (the batched
    operator requires unique query ids; before the struct key the two
    rows would collide in one group and corrupt both)."""
    import glob as _g
    import os
    import shutil

    from gcf_corima_parquet_converter_spark.operators import retrieval as R
    from gcf_corima_parquet_converter_spark.streaming.ingest import (
        serve_search_queries,
    )

    # doc 0 has quick..brown at distance 2 (within slop 2, NOT a
    # phrase); docs 1-4 have the exact adjacency
    docs = [(0, "quick gap1 brown tail")] + [
        (i, f"quick brown pad{i}") for i in range(1, 5)
    ]
    ddf = spark.createDataFrame(docs, "doc_id long, text string")
    root = str(tmp_path / "dup_idx")
    R.index_append(R.inverted_index(ddf), root, 0, n_buckets=4)

    sch = "q_id long, mode string, terms array<string>, slop int"
    rows = [
        (1, "phrase", ["quick", "brown"], None),
        (1, "proximity", ["quick", "brown"], 2),
    ]
    qsrc = str(tmp_path / "dup_qsrc")
    os.makedirs(qsrc)
    p = str(tmp_path / "dup_q0")
    spark.createDataFrame(rows, sch).coalesce(1).write.parquet(p)
    [f] = _g.glob(os.path.join(p, "part-*.parquet"))
    shutil.copy(f, os.path.join(qsrc, "a.parquet"))

    out_path = str(tmp_path / "dup_out")
    q = serve_search_queries(
        spark.readStream.schema(sch).parquet(qsrc),
        root, out_path, checkpoint=str(tmp_path / "dup_ck"), k=10,
    )
    q.awaitTermination(120)
    got = spark.read.parquet(out_path)

    idx = R.inverted_index(ddf)
    ph_docs = {r["doc_id"] for r in R.phrase_search(
        idx, ["quick", "brown"]).collect()}
    px_docs = {r["doc_id"] for r in R.proximity_search(
        idx, ["quick", "brown"], slop=2).collect()}
    got_ph = {r["doc_id"] for r in got.where(
        F.col("mode") == "phrase").collect()}
    got_px = {r["doc_id"] for r in got.where(
        F.col("mode") == "proximity").collect()}
    assert got_ph == ph_docs and 0 not in got_ph
    assert got_px == px_docs and 0 in got_px
    assert got_px > got_ph  # proximity strictly wider here


def test_maintain_fuzzy_vocab_stream_matches_union_inline(
    spark, tmp_path
):
    """r17 typo-correction freshness loop: maintain_fuzzy_vocab grows
    the persisted fuzzy artifact per micro-batch; after the stream
    drains, fuzzy_match_terms must answer exactly like an inline
    expansion over the UNION corpus (new-term matchable, split-term
    df summed across build + every streamed epoch)."""
    from gcf_corima_parquet_converter_spark.operators import retrieval as R
    from gcf_corima_parquet_converter_spark.streaming.ingest import (
        maintain_fuzzy_vocab,
    )

    sch = "doc_id long, text string"
    d0 = spark.createDataFrame(
        [(i, "spark window merge") for i in range(4)], sch
    )
    batch1 = [(100 + i, "spark quantum") for i in range(2)]
    batch2 = [(200, "quantum widget window")]
    src = str(tmp_path / "fz_src")
    os.makedirs(src)
    import glob as _g
    import shutil as _sh

    for name, rows in (("a", batch1), ("b", batch2)):
        stage = str(tmp_path / ("fz_stage_" + name))
        spark.createDataFrame(rows, sch).coalesce(1).write.parquet(stage)
        [f] = _g.glob(os.path.join(stage, "part-*.parquet"))
        _sh.copy(f, os.path.join(src, name + ".parquet"))

    root = str(tmp_path / "fz_art")
    R.write_fuzzy_vocab(R.inverted_index(d0), root, max_edits=1,
                        n_buckets=8)
    q = maintain_fuzzy_vocab(
        spark.readStream.schema(sch).option("maxFilesPerTrigger", 1)
        .parquet(src),
        root,
        checkpoint=str(tmp_path / "fz_ck"),
    )
    q.awaitTermination(120)

    union = d0.unionByName(
        spark.createDataFrame(batch1 + batch2, sch)
    )
    queries = ["spak", "quantm", "widgett", "windo"]
    want = {
        tuple(r)
        for r in R.fuzzy_expand_terms(
            R.inverted_index(union), queries, max_edits=1
        ).collect()
    }
    got = {
        tuple(r)
        for r in R.fuzzy_match_terms(spark, root, queries).collect()
    }
    assert got == want
    # df merged across build + both streamed epochs
    assert ("spak", "spark", 1, 6) in got
    assert ("quantm", "quantum", 1, 3) in got


def test_serve_search_queries_unified_lexical_pass_slices_exactly(
    spark, tmp_path
):
    """r17 arm fusion: with champion pruning OFF, the bm25 arm, the
    fused arm's BM25 leg and the hybrid arm's lexical leg score in ONE
    bm25_topk_batch keyed by (q_id, mode) at k_lex = 4k — the bm25 arm
    then slices rank <= k.  The slice must equal the dedicated
    k-sized batch scorer bit-for-bit (the top-k prefix property), and
    a q_id REUSED across modes must stay two distinct queries."""
    import glob as _g
    import os
    import shutil

    from gcf_corima_parquet_converter_spark.operators import retrieval as R
    from gcf_corima_parquet_converter_spark.streaming.ingest import (
        serve_search_queries,
    )

    docs = [
        (i, f"alpha beta gamma d{i % 7} e{i % 3} f{i % 11}")
        for i in range(40)
    ]
    ddf = spark.createDataFrame(docs, "doc_id long, text string")
    root = str(tmp_path / "uni_idx")
    R.index_append(R.inverted_index(ddf), root, 0, n_buckets=4)

    sch = "q_id long, mode string, terms array<string>"
    # q_id 1 appears as BOTH a bm25 and a fused row — the struct key
    # must keep them apart
    rows = [
        (1, "bm25", ["alpha", "d1"]),
        (1, "fused", ["beta", "e2"]),
        (2, "bm25", ["gamma", "f3"]),
    ]
    qsrc = str(tmp_path / "uni_qsrc")
    os.makedirs(qsrc)
    p = str(tmp_path / "uni_q0")
    spark.createDataFrame(rows, sch).coalesce(1).write.parquet(p)
    [f] = _g.glob(os.path.join(p, "part-*.parquet"))
    shutil.copy(f, os.path.join(qsrc, "a.parquet"))

    out_path = str(tmp_path / "uni_out")
    q = serve_search_queries(
        spark.readStream.schema(sch).parquet(qsrc),
        root, out_path, checkpoint=str(tmp_path / "uni_ck"),
        k=5, idf="rational", scale=10**6,
    )
    q.awaitTermination(120)
    got = spark.read.parquet(out_path)

    idx = R.inverted_index(ddf)
    for qid, terms in ((1, ["alpha", "d1"]), (2, ["gamma", "f3"])):
        want = {
            (r["rank"], r["doc_id"], float(r["score"]))
            for r in R.bm25_topk(
                idx, terms, k=5, idf="rational", scale=10**6
            ).collect()
        }
        have = {
            (r["rank"], r["doc_id"], r["score"])
            for r in got.where(
                (F.col("q_id") == qid) & (F.col("mode") == "bm25")
            ).collect()
        }
        assert have == want, (qid, have, want)
    # the fused row under the SAME q_id answered independently
    assert got.where(
        (F.col("q_id") == 1) & (F.col("mode") == "fused")
    ).count() > 0


def test_serve_search_queries_fuzzy_pool_overflow_serves_uncorrected(
    spark, tmp_path
):
    """ADVICE r16: when a batch's distinct bm25 terms exceed
    max_pruned_terms, the fuzzy-correction term pool's limit(N+1)
    used to silently DROP the un-collected terms from queries via the
    inner join against the best-match frame.  The fix skips
    correction for that batch entirely — every term serves
    UNCORRECTED (exact terms still score; typos contribute nothing),
    mirroring the postings pool's full-read fallback."""
    import glob as _g
    import os
    import shutil

    from gcf_corima_parquet_converter_spark.operators import retrieval as R
    from gcf_corima_parquet_converter_spark.streaming.ingest import (
        serve_search_queries,
    )

    docs = [
        (i, f"quick brown fox dog w{i % 5} pad{i % 3}")
        for i in range(8)
    ]
    ddf = spark.createDataFrame(docs, "doc_id long, text string")
    root = str(tmp_path / "ofl_idx")
    R.index_append(R.inverted_index(ddf), root, 0, n_buckets=4)
    fz_root = str(tmp_path / "ofl_fz")
    R.write_fuzzy_vocab(
        R.inverted_index(ddf), fz_root, max_edits=1, n_buckets=4
    )

    sch = "q_id long, mode string, terms array<string>"
    # 3 distinct terms > max_pruned_terms=2: the pool overflows; under
    # the old bug only 2 arbitrary terms reached the matcher and the
    # rest vanished from the query
    rows = [(1, "bm25", ["quick", "brown", "doqg"])]
    qsrc = str(tmp_path / "ofl_qsrc")
    os.makedirs(qsrc)
    p = str(tmp_path / "ofl_q0")
    spark.createDataFrame(rows, sch).coalesce(1).write.parquet(p)
    [f] = _g.glob(os.path.join(p, "part-*.parquet"))
    shutil.copy(f, os.path.join(qsrc, "a.parquet"))

    out_path = str(tmp_path / "ofl_out")
    q = serve_search_queries(
        spark.readStream.schema(sch).parquet(qsrc),
        root, out_path, checkpoint=str(tmp_path / "ofl_ck"),
        k=5, idf="rational", scale=10**6,
        fuzzy_vocab_path=fz_root, max_pruned_terms=2,
    )
    q.awaitTermination(120)

    idx = R.inverted_index(ddf)
    # uncorrected serving: the OOV typo contributes nothing, the two
    # exact terms score in full — NOT the corrected ranking (where
    # doqg -> dog would add a third term's contribution)
    want = {
        (r["rank"], r["doc_id"], float(r["score"]))
        for r in R.bm25_topk(
            idx, ["quick", "brown", "doqg"], k=5, idf="rational",
            scale=10**6,
        ).collect()
    }
    corrected = {
        (r["rank"], r["doc_id"], float(r["score"]))
        for r in R.bm25_topk(
            idx, ["quick", "brown", "dog"], k=5, idf="rational",
            scale=10**6,
        ).collect()
    }
    got = {
        (r["rank"], r["doc_id"], r["score"])
        for r in spark.read.parquet(out_path)
        .where(F.col("q_id") == 1)
        .collect()
    }
    assert got == want
    assert got != corrected
