#!/usr/bin/env python3
"""Pre-build the seeded .scratch fixtures the bench reuses across runs.

Every block below replicates a bench.py "if not exists: build" guard
byte-for-byte in behavior (same seeds, same layouts), so a later
bench.py run finds the artifact and skips the build.  Build wall time
is NOT a recorded bench number (bench records build_sec only the round
the build happens, as provenance) — pre-building on a loaded host is
safe for every timed metric.

Usage: python3 tools/prebuild_scratch.py
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SCRATCH = os.path.join(REPO, ".scratch")


def main() -> None:
    import json
    import time

    import numpy as np

    from gcf_corima_parquet_converter_spark.session import get_spark
    from gcf_corima_parquet_converter_spark.operators import similarity as S

    spark = get_spark(app_name="prebuild-scratch")
    spark.sparkContext.setLogLevel("ERROR")

    # --- sf1 corpus (bench_scaling / bench_retrieval)
    from tools.gen_sf import generate

    t0 = time.perf_counter()
    sf1_dir = generate(1.0, os.path.join(SCRATCH, "sf1.0"))
    print(f"sf1: {sf1_dir} ({time.perf_counter() - t0:.0f}s)", flush=True)

    # --- retrieval index over sf1 documents (bench_retrieval)
    from gcf_corima_parquet_converter_spark.operators import retrieval as R

    docs = spark.read.parquet(os.path.join(sf1_dir, "documents.parquet"))
    root = os.path.join(SCRATCH, "retrieval_idx_sf1")
    if not os.path.exists(os.path.join(root, "postings", "_manifests")):
        t0 = time.perf_counter()
        R.write_inverted_index(R.inverted_index(docs), root, n_buckets=64)
        print(f"retrieval_idx_sf1 ({time.perf_counter() - t0:.0f}s)", flush=True)

    # --- hybrid IVF over sf1 embeddings (mixed serving bench)
    emb1 = spark.read.parquet(os.path.join(sf1_dir, "embeddings.parquet"))
    hyb_root = os.path.join(SCRATCH, "hybrid_ivf_sf1")
    if not os.path.exists(os.path.join(hyb_root, "centroids")):
        cents = S.train_centroids_sample(emb1, n_centroids=32)
        S.ivf_save(S.ivf_assign(emb1, cents), cents, hyb_root)
        print("hybrid_ivf_sf1", flush=True)

    # --- ANN 200k corpus + IVF + IVF-PQ raw/residual (bench_ann_scale)
    import pandas as pd

    n, dim, n_clusters = 200_000, 64, 64
    path = os.path.join(SCRATCH, f"ann_n{n}_d{dim}")
    if not os.path.isdir(path):
        t0 = time.perf_counter()
        rng = np.random.default_rng(11)
        planted = rng.normal(size=(n_clusters, dim))
        planted /= np.linalg.norm(planted, axis=1, keepdims=True)
        member_of = rng.integers(0, n_clusters, size=n)
        pts = planted[member_of] + rng.normal(0.0, 0.08, size=(n, dim))
        pts /= np.linalg.norm(pts, axis=1, keepdims=True)
        pdf = pd.DataFrame(
            {"vec_id": np.arange(n, dtype=np.int64),
             "embedding": [row.tolist() for row in pts]}
        )
        spark.createDataFrame(pdf, "vec_id long, embedding array<float>") \
            .repartition(8).write.mode("overwrite").parquet(path)
        print(f"ann 200k corpus ({time.perf_counter() - t0:.0f}s)", flush=True)
    emb = spark.read.parquet(path).persist()
    emb.count()
    idx_path, meta_path = path + "_ivfidx", path + "_ivfidx_meta.json"
    if not (os.path.isdir(idx_path) and os.path.isfile(meta_path)):
        t0 = time.perf_counter()
        seeds = S.train_centroids_sample(emb, n_centroids=n_clusters)
        cents = S.kmeans_refine(emb, seeds, n_iter=1)
        S.ivf_save(S.ivf_assign(emb, cents), cents, idx_path)
        meta = {
            "build_sec": round(time.perf_counter() - t0, 3),
            "train_rows": n,
            "seed_sample_rows": n_clusters,
            "kmeans_iters": 1,
        }
        with open(meta_path, "w") as f:
            json.dump(meta, f)
        print(f"ann 200k ivf idx ({meta['build_sec']:.0f}s)", flush=True)
    assigned, cents = S.ivf_load(spark, idx_path)
    pq_path = path + "_ivfpqidx"
    if not os.path.isdir(pq_path):
        t0 = time.perf_counter()
        books = S.pq_train(emb, m=8, n_codes=256, sample_size=4096)
        S.ivfpq_save(S.ivfpq_encode(emb, cents, books), cents, books, pq_path)
        print(f"ann 200k ivfpq ({time.perf_counter() - t0:.0f}s)", flush=True)
    pq_base, pq_cents, pq_books = S.ivfpq_load(spark, pq_path)
    res_path = path + "_ivfpqres"
    if not os.path.isdir(res_path):
        t0 = time.perf_counter()
        res_books = S.ivfpq_train(
            emb, pq_cents, m=8, n_codes=256, sample_size=4096, residual=True
        )
        S.ivfpq_save(
            S.ivfpq_encode(emb, pq_cents, res_books, residual=True),
            pq_cents, res_books, res_path, residual=True,
        )
        print(f"ann 200k ivfpq residual ({time.perf_counter() - t0:.0f}s)",
              flush=True)
    emb.unpersist()

    # --- ANN 1M corpus + indexes (bench_ann_1m)
    n, dim, n_lists = 1_000_000, 128, 256
    path = os.path.join(SCRATCH, f"ann_n{n}_d{dim}")
    if not os.path.isdir(path):
        import pyarrow as pa
        import pyarrow.parquet as papq

        t0 = time.perf_counter()
        rng = np.random.default_rng(12)
        planted = rng.normal(size=(n_lists, dim))
        planted /= np.linalg.norm(planted, axis=1, keepdims=True)
        member = rng.integers(0, n_lists, size=n)
        os.makedirs(path + ".tmp", exist_ok=True)
        chunk = 125_000
        for ci in range(0, n, chunk):
            idx = np.arange(ci, ci + chunk)
            pts = planted[member[idx]] + rng.normal(0.0, 0.06, (chunk, dim))
            pts /= np.linalg.norm(pts, axis=1, keepdims=True)
            pts = pts.astype(np.float32)
            tbl = pa.table({
                "vec_id": pa.array(idx, pa.int64()),
                "embedding": pa.FixedSizeListArray.from_arrays(
                    pa.array(pts.reshape(-1)), dim
                ).cast(pa.list_(pa.float32())),
            })
            papq.write_table(tbl, f"{path}.tmp/part-{ci:08d}.parquet")
        os.rename(path + ".tmp", path)
        print(f"ann 1m corpus ({time.perf_counter() - t0:.0f}s)", flush=True)
    emb = spark.read.parquet(path)
    idx_path, meta_path = path + "_ivfidx", path + "_ivfidx_meta.json"
    if not (os.path.isdir(idx_path) and os.path.isfile(meta_path)):
        t0 = time.perf_counter()
        cents = S.kmeans_refine(
            emb, S.train_centroids_sample(emb, n_centroids=n_lists), n_iter=1
        )
        S.ivf_save(S.ivf_assign(emb, cents), cents, idx_path)
        meta = {"ivf_build_sec": round(time.perf_counter() - t0, 3)}
        t0 = time.perf_counter()
        books = S.pq_train(emb, m=16, n_codes=256, sample_size=8192)
        S.ivfpq_save(
            S.ivfpq_encode(emb, cents, books), cents, books, path + "_ivfpqidx"
        )
        meta["pq_build_sec"] = round(time.perf_counter() - t0, 3)
        with open(meta_path, "w") as f:
            json.dump(meta, f)
        print(f"ann 1m indexes ({meta})", flush=True)

    # --- wide bloom corpus (bench_membership wide)
    import pyspark.sql.functions as F

    n, payload_b = 6_000_000, 1024
    path = os.path.join(SCRATCH, "bloom_wide_6m")
    if not os.path.exists(os.path.join(path, "_SUCCESS")):
        t0 = time.perf_counter()
        payload = F.concat(
            *[
                F.sha2(F.concat(F.lit(str(i)), F.col("id").cast("string")), 256)
                for i in range(payload_b // 64)
            ]
        )
        spark.range(n).select(
            F.concat(F.lit("url://site-"), F.col("id")).alias("k"),
            payload.alias("payload"),
        ).repartition(128).write.mode("overwrite").parquet(path)
        print(f"bloom_wide_6m ({time.perf_counter() - t0:.0f}s)", flush=True)

    # --- champion zipf corpus + index + champion artifact
    base = os.path.join(SCRATCH, "champion_zipf")
    docs_path = os.path.join(base, "docs")
    zroot = os.path.join(base, "idx")
    ch_root = os.path.join(base, "champ512")
    if not os.path.exists(os.path.join(docs_path, "_SUCCESS")):
        t0 = time.perf_counter()
        rng = np.random.default_rng(1717)
        vocab = 30_000
        p = 1.0 / np.arange(1, vocab + 1) ** 1.2
        p /= p.sum()
        parts = []
        for c in range(10):
            toks = rng.choice(vocab, size=(30_000, 80), p=p)
            parts.append(
                pd.DataFrame(
                    {
                        "doc_id": np.arange(30_000) + c * 30_000,
                        "text": [
                            " ".join(f"w{t}" for t in row) for row in toks
                        ],
                    }
                )
            )
        pdf = pd.concat(parts, ignore_index=True)
        spark.createDataFrame(pdf).repartition(32).write.mode(
            "overwrite"
        ).parquet(docs_path)
        print(f"champion_zipf docs ({time.perf_counter() - t0:.0f}s)",
              flush=True)
    zdocs = spark.read.parquet(docs_path)
    if not os.path.exists(os.path.join(zroot, "postings", "_manifests")):
        t0 = time.perf_counter()
        R.write_inverted_index(R.inverted_index(zdocs), zroot, n_buckets=64)
        print(f"champion_zipf idx ({time.perf_counter() - t0:.0f}s)",
              flush=True)
    if not os.path.exists(os.path.join(ch_root, "postings", "_manifests")):
        t0 = time.perf_counter()
        full, stats_full = R.read_index_artifact(spark, zroot)
        R.write_inverted_index(
            R.champion_lists(full, m=512, stats=stats_full),
            ch_root,
            n_buckets=64,
        )
        print(f"champion_zipf champ512 ({time.perf_counter() - t0:.0f}s)",
              flush=True)

    # --- 1-hour soak acquisition fixture (bench_facade_full)
    from gcf_corima_parquet_converter_spark.sources.synthetic import (
        write_acquisition,
    )

    acq = os.path.join(SCRATCH, "soak_1h", "acq")
    if not os.path.exists(os.path.join(acq, "acquisition_info.json")):
        t0 = time.perf_counter()
        write_acquisition(acq, n_seconds=3600.0, odr=26667.0, spts=64)
        print(f"soak_1h ({time.perf_counter() - t0:.0f}s)", flush=True)

    print("prebuild complete", flush=True)


if __name__ == "__main__":
    main()
