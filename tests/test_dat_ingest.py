"""Binary .dat decode + acquisition pipeline: framing law, remainder
carry, spts=0, readiness gate, end-to-end Hive-layout outputs."""

import glob
import json
import os
import struct
import time

import numpy as np
import pyspark.sql.functions as F
import pytest

from gcf_corima_parquet_converter_spark.schema.dtdl import (
    decode_params_from_status,
    dtdl_schema_to_spark,
    interface_to_structtype,
)
from gcf_corima_parquet_converter_spark.sources import acquisition as acq
from gcf_corima_parquet_converter_spark.sources.dat import (
    DecodeParams,
    PacketFramer,
    frame_packets,
    sample_times,
)
from tests.fixtures import SENSOR, decode_reference, make_dat_bytes, write_acquisition

P = DecodeParams(
    dim=3, data_type="int16", samples_per_ts=64, sensitivity=0.000061, odr=2000.0
)


def test_frame_packets_roundtrip():
    data, in_g, t = make_dat_bytes()
    samples, ts, leftover = frame_packets(data, P)
    assert leftover == b""
    np.testing.assert_allclose(samples, in_g, rtol=0, atol=0)
    # stamps are last-sample times per packet
    assert ts[0] == pytest.approx(63 / 2000.0)
    times = sample_times(ts, P, len(samples))
    np.testing.assert_allclose(times, t, atol=1e-12)


def test_frame_packets_partial_tail():
    data, _, _ = make_dat_bytes(trailing_garbage=37)
    samples, ts, leftover = frame_packets(data, P)
    assert len(leftover) == 37
    assert len(samples) == len(ts) * 64


def test_framer_split_mid_packet():
    """Chunks split across packet AND timestamp boundaries reassemble
    exactly (HSD_DataToolkit.py:53-66 remainder-carry semantics)."""
    data, in_g, _ = make_dat_bytes(n_seconds=1.0)
    whole, ts_whole, _ = frame_packets(data, P)
    for cut in [1, 7, 100, P.packet_len - 3, P.packet_len + 5]:
        fr = PacketFramer(P)
        got, got_ts = [], []
        for i in range(0, len(data), cut):
            s, ts = fr.feed(data[i : i + cut])
            if len(s):
                got.append(s)
                got_ts.append(ts)
        s_all = np.concatenate(got)
        np.testing.assert_array_equal(s_all, whole)
        np.testing.assert_array_equal(np.concatenate(got_ts), ts_whole)
        assert fr.pending_bytes == 0


def test_spts_zero_no_timestamps():
    # spts=0: each "packet" is one sample row, no timestamp bytes
    # (reference TODO at HSD_DataToolkit.py:68-69 — we define k/odr grid)
    p0 = DecodeParams(dim=2, data_type="float32", samples_per_ts=0, odr=100.0)
    arr = np.arange(10, dtype=np.float32).reshape(5, 2)
    samples, ts, leftover = frame_packets(arr.tobytes(), p0)
    assert ts.size == 0 and leftover == b""
    np.testing.assert_allclose(samples, arr)
    times = sample_times(ts, p0, 5)
    np.testing.assert_allclose(times, np.arange(5) / 100.0)


def test_decode_dat_distributed(spark, tmp_path):
    in_g, t = write_acquisition(str(tmp_path / "A"))
    from gcf_corima_parquet_converter_spark.sources.dat import decode_dat

    df = decode_dat(spark, str(tmp_path / "A" / f"{SENSOR}.dat"), P)
    pdf = df.toPandas().sort_values("Time").reset_index(drop=True)
    assert len(pdf) == len(in_g)
    np.testing.assert_allclose(pdf["A_x [g]"], in_g[:, 0])
    np.testing.assert_allclose(pdf["Time"], t, atol=1e-12)


def test_readiness_gate(spark, tmp_path):
    write_acquisition(str(tmp_path / "B"), incomplete=True)
    ready, missing = acq.readiness(str(tmp_path / "B"))
    assert not ready and missing == {f"{SENSOR}.dat"}
    write_acquisition(str(tmp_path / "C"))
    ready, missing = acq.readiness(str(tmp_path / "C"))
    assert ready and not missing
    # the gate checks the exact names the loader opens: an upper-case
    # sensor is complete and loads ...
    upper = str(tmp_path / "U")
    write_acquisition(upper)
    os.rename(
        os.path.join(upper, f"{SENSOR}.dat"), os.path.join(upper, "IIS3DWB_ACC.dat")
    )
    cfg_path = os.path.join(upper, "device_config.json")
    with open(cfg_path) as f:
        cfg = json.load(f)
    for comp in cfg["device"]["components"]:
        if SENSOR in comp:
            comp["IIS3DWB_ACC"] = comp.pop(SENSOR)
    with open(cfg_path, "w") as f:
        json.dump(cfg, f)
    assert acq.readiness(upper, "IIS3DWB_ACC") == (True, set())
    enriched, _meta = acq.load_acquisition(spark, upper, "IIS3DWB_ACC")
    assert enriched.count() > 0
    # ... while a mis-cased metadata file the loader cannot open is missing
    mixed = str(tmp_path / "M")
    write_acquisition(mixed)
    os.rename(
        os.path.join(mixed, "acquisition_info.json"),
        os.path.join(mixed, "Acquisition_Info.json"),
    )
    assert acq.readiness(mixed) == (False, {"acquisition_info.json"})
    assert acq.load_acquisition(spark, mixed) is None


def test_load_acquisition_enriched(spark, tmp_path):
    in_g, t = write_acquisition(str(tmp_path / "D"))
    enriched, meta = acq.load_acquisition(spark, str(tmp_path / "D"))
    assert meta.alias == "LAF1"
    pdf = enriched.orderBy("Time").toPandas()
    # sanitized names (main.py:87-96) and absolute int64 ns time
    assert list(pdf.columns) == ["Time", "A_x_g", "A_y_g", "A_z_g", "alias"]
    assert pdf["Time"].dtype == "int64"
    start_ns = meta.start_ns
    np.testing.assert_array_equal(
        pdf["Time"].to_numpy()[:3], (np.rint(t[:3] * 1e9)).astype("int64") + start_ns
    )
    assert (pdf["alias"] == "LAF1").all()


def test_load_meta_start_ns_exact(spark, tmp_path, monkeypatch):
    """start_ns is the exact epoch ns of start_time.  Through a float64
    (values ~256 ns apart near 1.7e18) this start came out 192 ns late
    and shifted every enriched Time with it."""
    exact = 1755233398433000000
    folder = str(tmp_path / "D")
    _in_g, t = write_acquisition(folder, start_time="2025-08-15T04:49:58.433Z")
    enriched, meta = acq.load_acquisition(spark, folder)
    assert meta.start_ns == exact
    first = enriched.orderBy("Time").first()["Time"]
    assert first == int(np.rint(t[0] * 1e9)) + exact
    # a start_time with no offset is UTC, whatever the host's zone
    write_acquisition(folder, start_time="2025-08-15T04:49:58.433")
    monkeypatch.setenv("TZ", "America/New_York")
    time.tzset()
    try:
        assert acq.load_meta(folder).start_ns == exact
    finally:
        monkeypatch.undo()
        time.tzset()


def test_process_acquisition_e2e(spark, tmp_path):
    """Full pipeline parity with the reference's E2E CI assertions
    (test-conversion.yml:97-127): layout, alias column, int64 Time,
    >0 rows; plus RMS values equal the pandas reference computation."""
    write_acquisition(str(tmp_path / "E"))
    out = str(tmp_path / "out")
    res = acq.process_acquisition(spark, str(tmp_path / "E"), out)
    assert res["rms_written"] and res["rms_rows"] == 5
    files = glob.glob(f"{out}/{SENSOR}/alias=LAF1/year=2025/month=7/day=11/*.parquet")
    assert files
    rms_files = glob.glob(
        f"{out}/{SENSOR}_rms/alias=LAF1/year=2025/month=7/day=11/*.parquet"
    )
    assert rms_files
    back = spark.read.parquet(f"{out}/{SENSOR}_rms")
    pdf = back.toPandas()
    assert set(["rms_x", "rms_y", "rms_z", "rms_mod", "Time", "alias"]) <= set(
        pdf.columns
    )
    assert pdf["Time"].dtype == "int64"
    assert (pdf["rms_mod"] > 0).all()


def test_multi_acquisition_pipeline(spark, tmp_path):
    """Three acquisitions with differing aliases and days through ONE
    out_root — the reference CI's real multi-trigger behavior
    (test-conversion.yml:83-118: each finalized acquisition fires the
    converter into the shared dataset).  Asserts the combined Hive
    layout (one (alias, year, month, day) leaf per acquisition) and
    exact per-alias RMS parity with the pandas reference semantics."""
    from tests.test_telemetry import reference_rms

    specs = [
        ("LAF1", "2025-07-11T16:22:17.000Z", 11, 4.5),
        ("KBX2", "2025-07-12T02:05:09.000Z", 29, 5.5),
        ("MWQ3", "2025-08-02T23:59:58.500Z", 57, 3.5),
    ]
    out = str(tmp_path / "dataset")
    truths = {}
    for i, (alias, start, seed, secs) in enumerate(specs):
        folder = str(tmp_path / f"acq{i}")
        in_g, t = write_acquisition(
            folder, start_time=start, alias=alias, seed=seed, n_seconds=secs
        )
        res = acq.process_acquisition(spark, folder, out)
        assert res is not None and res["rms_written"]
        truths[alias] = (in_g, t, res["meta"].start_ns)

    # one partition leaf per acquisition, for both tables
    expect_parts = [
        ("LAF1", 2025, 7, 11),
        ("KBX2", 2025, 7, 12),
        ("MWQ3", 2025, 8, 2),
    ]
    for table in (SENSOR, f"{SENSOR}_rms"):
        for alias, y, m, d in expect_parts:
            leaf = f"{out}/{table}/alias={alias}/year={y}/month={m}/day={d}"
            assert glob.glob(f"{leaf}/*.parquet"), f"missing {leaf}"

    back = spark.read.parquet(f"{out}/{SENSOR}_rms").toPandas()
    assert set(back.alias) == {a for a, *_ in specs}
    for alias, (in_g, t, start_ns) in truths.items():
        import pandas as pd

        pdf = pd.DataFrame(
            {
                "Time": np.rint(t * 1e9).astype("int64") + start_ns,
                "A_x_g": in_g[:, 0],
                "A_y_g": in_g[:, 1],
                "A_z_g": in_g[:, 2],
            }
        )
        exp = reference_rms(pdf).sort_values("Time").reset_index(drop=True)
        got = (
            back[back.alias == alias]
            .sort_values("Time")
            .reset_index(drop=True)
        )
        assert list(got["Time"]) == list(exp["Time"]), alias
        for c in ("rms_x", "rms_y", "rms_z", "rms_mod"):
            np.testing.assert_allclose(got[c], exp[c], rtol=1e-12)


def test_same_day_acquisitions_both_survive(spark, tmp_path):
    """Two acquisitions of one alias on one day land in the same
    alias/year/month/day leaf: the second must not replace the first,
    and re-processing one replaces only its own files (the reference
    writes one <name>_<ts>.parquet per acquisition, main.py:121-131)."""
    out = str(tmp_path / "dataset")
    rows = {}
    for name, start in (("early", "2025-07-11T08:00:00.000Z"),
                        ("late", "2025-07-11T16:22:17.000Z")):
        folder = str(tmp_path / name)
        in_g, _ = write_acquisition(folder, start_time=start, n_seconds=3.5)
        rows[name] = len(in_g)
        res = acq.process_acquisition(spark, folder, out)
        assert res["rms_written"] and res["rms_rows"] == 3

    def leaf_files(table):
        leaf = f"{out}/{table}/alias=LAF1/year=2025/month=7/day=11"
        return sorted(os.path.basename(f) for f in glob.glob(f"{leaf}/*.parquet"))

    def counts():
        return (
            spark.read.parquet(f"{out}/{SENSOR}").count(),
            spark.read.parquet(f"{out}/{SENSOR}_rms").count(),
        )

    assert counts() == (rows["early"] + rows["late"], 6)
    late_files = [f for f in leaf_files(SENSOR) if "_162217-" in f]
    assert late_files
    acq.process_acquisition(spark, str(tmp_path / "early"), out)
    assert counts() == (rows["early"] + rows["late"], 6)
    assert [f for f in leaf_files(SENSOR) if "_162217-" in f] == late_files
    assert not glob.glob(f"{out}/*/_stage_*")


def test_process_acquisition_without_full_window(spark, tmp_path, monkeypatch):
    """main.py:154-156: an acquisition with no full 1 s window writes
    its enriched table and no RMS table.  A 0.5 s acquisition's RMS
    write observes zero rows and leaves no ``<sensor>_rms`` directory;
    a .dat cut below one packet places no enriched file, so the RMS
    never reads (``spark.read.parquet`` with no paths)."""
    from pyspark.sql.readwriter import DataFrameReader

    write_acquisition(str(tmp_path / "half"), n_seconds=0.5)
    out = tmp_path / "out_half"
    res = acq.process_acquisition(spark, str(tmp_path / "half"), str(out))
    assert res["rms_rows"] == 0 and res["rms_written"] is False
    assert glob.glob(f"{out}/{SENSOR}/alias=LAF1/year=2025/month=7/day=11/*.parquet")
    assert not (out / f"{SENSOR}_rms").exists()
    assert not glob.glob(f"{out}/*/_stage_*")

    real_parquet = DataFrameReader.parquet

    def parquet(self, *paths, **options):
        assert paths, "spark.read.parquet() called with no paths"
        return real_parquet(self, *paths, **options)

    monkeypatch.setattr(DataFrameReader, "parquet", parquet)
    write_acquisition(str(tmp_path / "cut"))
    dat = tmp_path / "cut" / f"{SENSOR}.dat"
    dat.write_bytes(dat.read_bytes()[: P.packet_len - 1])
    out = tmp_path / "out_cut"
    res = acq.process_acquisition(spark, str(tmp_path / "cut"), str(out))
    assert res["rms_rows"] == 0 and res["rms_written"] is False
    assert not glob.glob(f"{out}/**/*.parquet", recursive=True)
    assert not glob.glob(f"{out}/*/_stage_*")


def test_process_acquisition_out_root_with_glob_characters(spark, tmp_path):
    """The RMS reads the enriched files back by path, and the parquet
    reader globs its paths: an output root holding glob characters
    must still convert to the full RMS."""
    write_acquisition(str(tmp_path / "A"))
    out = str(tmp_path / "run[1]{a,b}*?")
    res = acq.process_acquisition(spark, str(tmp_path / "A"), out)
    assert res["rms_written"] and res["rms_rows"] == 5
    leaf = "alias=LAF1/year=2025/month=7/day=11"
    assert len(os.listdir(os.path.join(out, SENSOR, leaf))) >= 1
    assert len(os.listdir(os.path.join(out, f"{SENSOR}_rms", leaf))) >= 1


def test_process_acquisition_uses_no_executor_storage(spark, tmp_path, monkeypatch):
    """The conversion caches nothing: with persist, cache and
    localCheckpoint raising, a 40 s 26 667 Hz acquisition still
    converts, and the RMS it reports is the RMS it wrote."""
    cls = type(spark.range(1))

    def refuse(self, *args, **kwargs):
        raise AssertionError("process_acquisition used executor storage")

    for name in ("persist", "cache", "localCheckpoint"):
        monkeypatch.setattr(cls, name, refuse)
    in_g, _ = write_acquisition(str(tmp_path / "S"), n_seconds=40, odr=26667)
    out = str(tmp_path / "out")
    res = acq.process_acquisition(spark, str(tmp_path / "S"), out)
    assert res["rms_written"] and res["rms_rows"] == 39
    assert spark.read.parquet(f"{out}/{SENSOR}").count() == len(in_g)
    assert spark.read.parquet(f"{out}/{SENSOR}_rms").count() == res["rms_rows"]


def test_process_acquisition_runs_three_jobs(spark, tmp_path):
    """One conversion is three Spark jobs: decode -> enrich -> sort ->
    write, the RMS partial aggregate, and the final RMS with its write.
    The .dat ranges are planned on the driver (no listing job, no range
    shuffle) and the RMS aggregate is not globally sorted; the RMS sink
    orders its one file by Time instead."""
    import pyarrow.parquet as pq

    write_acquisition(str(tmp_path / "J"), n_seconds=40, odr=26667)
    out = str(tmp_path / "out")
    sc = spark.sparkContext
    group = "test_process_acquisition_runs_three_jobs"
    sc.setJobGroup(group, group)
    try:
        res = acq.process_acquisition(spark, str(tmp_path / "J"), out)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert res["rms_written"] and res["rms_rows"] == 39
    assert len(sc.statusTracker().getJobIdsForGroup(group)) == 3
    (rms_file,) = glob.glob(
        f"{out}/{SENSOR}_rms/alias=LAF1/year=2025/month=7/day=11/*.parquet"
    )
    times = pq.read_table(rms_file, columns=["Time"]).column("Time").to_numpy()
    assert len(times) == 39 and (np.diff(times) > 0).all()


def test_incomplete_acquisition_soft_skips(spark, tmp_path):
    write_acquisition(str(tmp_path / "F"), incomplete=True)
    assert acq.load_acquisition(spark, str(tmp_path / "F")) is None
    assert acq.process_acquisition(spark, str(tmp_path / "F"), str(tmp_path / "o")) is None


def test_dtdl_mapping():
    iface = {
        "@id": "dtmi:test:sensor;1",
        "contents": [
            {"@type": "Property", "name": "enable", "schema": "boolean"},
            {"@type": ["Property", "NumberValue"], "name": "dim", "schema": "integer"},
            {"@type": "Property", "name": "sensitivity", "schema": "double"},
            {"@type": "Property", "name": "data_type", "schema": "string"},
            {
                "@type": "Property",
                "name": "odr",
                "schema": {
                    "@type": "Enum",
                    "valueSchema": "integer",
                    "enumValues": [{"name": "hz26667", "enumValue": 26667}],
                },
            },
            {
                "@type": "Property",
                "name": "st_ble_stream",
                "schema": {
                    "@type": "Object",
                    "fields": [
                        {"name": "id", "schema": "integer"},
                        {"name": "acc", "schema": "double"},
                    ],
                },
            },
            {"@type": "Telemetry", "name": "ignored", "schema": "double"},
        ],
    }
    st = interface_to_structtype(iface)
    assert [f.name for f in st.fields] == [
        "enable",
        "dim",
        "sensitivity",
        "data_type",
        "odr",
        "st_ble_stream",
    ]
    assert st["enable"].dataType.typeName() == "boolean"
    assert st["odr"].dataType.typeName() == "integer"
    assert st["st_ble_stream"].dataType.typeName() == "struct"


def test_decode_params_from_status():
    p = decode_params_from_status(
        {
            "odr": 26667.0,
            "samples_per_ts": 1000,
            "dim": 3,
            "sensitivity": 0.000061,
            "data_type": "int16",
        }
    )
    assert p.packet_data_len == 1000 * 3 * 2
    assert p.packet_len == p.packet_data_len + 8
    assert p.axis_names == ("A_x [g]", "A_y [g]", "A_z [g]")


def test_process_acquisition_decodes_once(spark, tmp_path, monkeypatch):
    """The flagship conversion path must execute the .dat decode exactly
    once: the enriched write is the only job over the decode lineage,
    and the RMS reads the files that write placed instead of decoding
    again.  An accumulator ticks once per (partition, execution) of a
    stage grafted directly above the decode; one pass == one tick per
    partition, and each packet-aligned range lands in its own
    partition."""
    from gcf_corima_parquet_converter_spark.sources.dat import RANGE_FLOOR_BYTES

    acc = spark.sparkContext.accumulator(0)
    real_decode = acq.decode_dat

    def counting_decode(spark_, path, params):
        df = real_decode(spark_, path, params)

        def tick(it):
            # tick once per NON-EMPTY partition: a partition that
            # decodes no rows must not count as decode work
            first = True
            for pdf in it:
                if first:
                    acc.add(1)
                    first = False
                yield pdf

        return df.mapInPandas(tick, df.schema)

    monkeypatch.setattr(acq, "decode_dat", counting_decode)
    par, plen = spark.sparkContext.defaultParallelism, P.packet_len
    # a small file below the range floor, then one above it
    for name, dat_kw in (("G", {}), ("H", {"n_seconds": 40, "odr": 26667})):
        write_acquisition(str(tmp_path / name), **dat_kw)
        acc.value = 0
        res = acq.process_acquisition(
            spark, str(tmp_path / name), str(tmp_path / f"out{name}")
        )
        assert res is not None and res["rms_written"]
        # the range rule, re-derived: ceil(packets / parallelism)
        # packets a range, never below the floor
        packets = -(-(tmp_path / name / f"{SENSOR}.dat").stat().st_size // plen)
        per = max(RANGE_FLOOR_BYTES // plen, -(-packets // par))
        n_ranges = -(-packets // per)
        if dat_kw:
            assert 1 < n_ranges <= par
        else:
            assert n_ranges == 1
        # a second lineage execution would double the ticks
        assert acc.value == n_ranges


def test_decode_dat_ranged_split_parity(spark, tmp_path):
    """r12 packet-aligned range decode: forcing many small ranges over
    one file yields exactly the whole-file decode (numpy over the whole
    file's bytes) — samples, per-packet stamp times, trailing-garbage
    tolerance."""
    from gcf_corima_parquet_converter_spark.sources.dat import decode_dat

    in_g, t = write_acquisition(str(tmp_path / "R"), trailing_garbage=37)
    path = str(tmp_path / "R" / f"{SENSOR}.dat")
    whole = decode_reference(path, P)
    # split at ~4 packets per range -> dozens of ranges
    ranged = (
        decode_dat(spark, path, P, split_bytes=P.packet_len * 4)
        .toPandas().sort_values("Time").reset_index(drop=True)
    )
    assert len(ranged) == len(whole) == len(in_g)
    np.testing.assert_array_equal(
        ranged["A_x [g]"].to_numpy(), whole["A_x [g]"].to_numpy()
    )
    np.testing.assert_allclose(ranged["Time"].to_numpy(), t, atol=1e-12)
    # unaligned split_bytes rounds DOWN to a packet boundary
    odd = (
        decode_dat(spark, path, P, split_bytes=P.packet_len * 4 + 17)
        .toPandas().sort_values("Time").reset_index(drop=True)
    )
    np.testing.assert_array_equal(
        odd["A_x [g]"].to_numpy(), whole["A_x [g]"].to_numpy()
    )


def test_decode_dat_ranges_fill_every_partition(spark, tmp_path):
    """A file cut into at least defaultParallelism ranges decodes on
    every partition: the range frame must not be coalesced by AQE or
    hash-collide into a few partitions, which would serialize one
    file's decode on a single task."""
    from gcf_corima_parquet_converter_spark.sources.dat import decode_dat

    write_acquisition(str(tmp_path / "Q"))
    path = str(tmp_path / "Q" / f"{SENSOR}.dat")
    par = spark.sparkContext.defaultParallelism
    size = (tmp_path / "Q" / f"{SENSOR}.dat").stat().st_size
    assert size // (P.packet_len * 4) >= par
    parts = (
        decode_dat(spark, path, P, split_bytes=P.packet_len * 4)
        .select(F.spark_partition_id().alias("pid"))
        .distinct()
        .count()
    )
    assert parts == par


def test_decode_dat_plan_is_range_then_kernel(spark, tmp_path):
    """The decode's ranges come from a driver-planned ``spark.range``:
    its executed plan scans no file and shuffles nothing."""
    from gcf_corima_parquet_converter_spark.sources.dat import decode_dat

    write_acquisition(str(tmp_path / "K"))
    df = decode_dat(spark, str(tmp_path / "K" / f"{SENSOR}.dat"), P)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Range (" in plan and "MapInArrow" in plan
    assert "Exchange" not in plan
    assert "binaryfile" not in plan.lower() and "FileScan" not in plan


def test_decode_dat_ranged_handles_percent_encoded_paths(spark, tmp_path):
    """r13 (ADVICE): the range tasks read a qualified Hadoop URI, whose
    special characters are percent-encoded (space -> %20); the ranged
    decoder must unquote before open() or it FileNotFoundErrors on
    such filenames."""
    import shutil

    from gcf_corima_parquet_converter_spark.sources.dat import decode_dat

    in_g, t = write_acquisition(str(tmp_path / "S"))
    src = tmp_path / "S" / f"{SENSOR}.dat"
    spaced = tmp_path / "S" / "my sensor.dat"
    shutil.copy(src, spaced)
    ranged = (
        decode_dat(spark, str(spaced), P, split_bytes=P.packet_len * 4)
        .toPandas().sort_values("Time").reset_index(drop=True)
    )
    assert len(ranged) == len(in_g)
    np.testing.assert_array_equal(ranged["A_x [g]"].to_numpy(), in_g[:, 0])
    np.testing.assert_allclose(ranged["Time"].to_numpy(), t, atol=1e-12)


def test_decode_dat_ranged_spts_zero_global_grid(spark, tmp_path):
    """The stampless (spts=0) format's k/odr time grid must use GLOBAL
    sample indexes across ranges, not restart at 0 per range."""
    import os

    from gcf_corima_parquet_converter_spark.sources.dat import decode_dat

    p0 = DecodeParams(
        dim=2, data_type="float32", samples_per_ts=0, odr=100.0,
        axis_names=("a", "b"),
    )
    arr = np.arange(40, dtype=np.float32).reshape(20, 2)
    d = tmp_path / "Z"
    os.makedirs(d)
    (d / "s.dat").write_bytes(arr.tobytes())
    out = (
        decode_dat(spark, str(d / "s.dat"), p0, split_bytes=p0.packet_len * 3)
        .toPandas().sort_values("Time").reset_index(drop=True)
    )
    assert len(out) == 20
    np.testing.assert_allclose(out["Time"].to_numpy(), np.arange(20) / 100.0)
    np.testing.assert_allclose(out["a"].to_numpy(), arr[:, 0])
