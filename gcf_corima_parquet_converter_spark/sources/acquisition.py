"""Acquisition source: the reference's event-triggered pipeline
(main.py:29-208) as composable batch operators.

An *acquisition* is a directory holding ``acquisition_info.json``,
``device_config.json`` and one ``<sensor>.dat`` per component
(main.py:16-21).  The loader applies the readiness gate (S3), reads
the tiny JSON metadata driver-side (S5 — per-acquisition scalars,
broadcast into the fact table as literals, J2), decodes the binary
stream distributed (S4), sanitizes names (P1), converts relative
seconds to absolute epoch ns (P2) and attaches the alias (P3).

``process_acquisition`` completes the reference pipeline: write the
enriched table and the 1-second completeness-gated RMS aggregate into
the Hive ``alias=/year=/month=/day=`` layout (S7/S8).  The enriched
table goes to its sink in one decode -> enrich -> sort -> write job;
the RMS reads back exactly the files that write placed, so the decode
runs once and nothing is cached in executor storage.  There is no
driver-side data pass: the RMS row count comes from an observed metric
of the RMS sink's own write.
"""

from __future__ import annotations

import json
import os
import re
from dataclasses import dataclass
from datetime import datetime, timedelta, timezone

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, Observation, SparkSession

from ..operators import telemetry as tm
from ..schema.dtdl import decode_params_from_status
from ..schema.sanitize import sanitize_columns
from .dat import DecodeParams, decode_dat

NS_PER_S = 1_000_000_000
_GLOB_CHARS = re.compile(r"([\\{}\[\]*?])")
_EPOCH = datetime(1970, 1, 1, tzinfo=timezone.utc)


def parse_utc(value: str) -> datetime:
    """ISO8601 (``Z`` suffix allowed) -> aware datetime; a time with
    no offset is UTC, never the host's local zone."""
    dt = datetime.fromisoformat(value.replace("Z", "+00:00"))
    return dt if dt.tzinfo else dt.replace(tzinfo=timezone.utc)


def required_files(sensor: str) -> set[str]:
    # main.py:17-21
    return {"acquisition_info.json", "device_config.json", f"{sensor}.dat"}


def readiness(folder: str, sensor: str = "iis3dwb_acc") -> tuple[bool, set[str]]:
    """Readiness/atomicity gate (S3, main.py:23-26,43-47): all required
    files present, else the caller soft-skips and retries later.  Names
    compare case-sensitively, exactly as the loader opens them."""
    try:
        present = set(os.listdir(folder))
    except FileNotFoundError:
        present = set()
    missing = required_files(sensor) - present
    return (not missing, missing)


@dataclass(frozen=True)
class AcquisitionMeta:
    alias: str
    start_ns: int
    start_time: datetime
    params: DecodeParams
    info: dict


def load_meta(folder: str, sensor: str = "iis3dwb_acc") -> AcquisitionMeta:
    """Parse the two metadata JSONs (S5; main.py:64-72).

    ``start_time`` is ISO8601 with Z (main.py:68-69); alias comes from
    ``firmware_info.alias`` (main.py:71-72); decode params from the
    sensor's component status (HSD_DataToolkit.py:45-51).
    """
    with open(os.path.join(folder, "acquisition_info.json")) as f:
        info = json.load(f)
    with open(os.path.join(folder, "device_config.json")) as f:
        cfg = json.load(f)
    dt_start = parse_utc(info.get("start_time", "1970-01-01T00:00:00.000Z"))
    comps = {}
    for comp in cfg.get("device", {}).get("components", []):
        comps.update(comp)
    fw = comps.get("firmware_info", cfg.get("firmware_info", {}))
    alias = fw.get("alias", "unknown")
    status = comps.get(sensor, cfg.get(sensor, {}))
    return AcquisitionMeta(
        alias=alias,
        # exact integers: float64 values near 1.7e18 ns are 256 ns apart
        start_ns=(dt_start - _EPOCH) // timedelta(microseconds=1) * 1000,
        start_time=dt_start,
        params=decode_params_from_status(status),
        info=info,
    )


def load_acquisition(
    spark: SparkSession, folder: str, sensor: str = "iis3dwb_acc"
) -> tuple[DataFrame, AcquisitionMeta] | None:
    """Decode + enrich one acquisition; None when not ready (soft-exit
    semantics of main.py:43-47)."""
    ready, _missing = readiness(folder, sensor)
    if not ready:
        return None
    meta = load_meta(folder, sensor)
    raw = decode_dat(spark, os.path.join(folder, f"{sensor}.dat"), meta.params)
    enriched = tm.attach_literals(
        tm.to_absolute_time(sanitize_columns(raw), meta.start_ns),
        alias=meta.alias,
    )
    return enriched, meta


def process_acquisition(
    spark: SparkSession,
    folder: str,
    out_root: str,
    sensor: str = "iis3dwb_acc",
) -> dict | None:
    """The full reference pipeline for one acquisition: enriched table +
    1 s completeness-gated RMS, both written Hive-partitioned.

    Partition values derive from start_time exactly like the reference
    (main.py:124-131) — one acquisition lands in one partition, as
    files named ``<sensor>_<yyyyMMdd_HHmmss>-*`` after its start, so
    other acquisitions in the same partition survive.
    """
    loaded = load_acquisition(spark, folder, sensor)
    if loaded is None:
        return None
    enriched, meta = loaded
    dt = meta.start_time
    parts = {"year": dt.year, "month": dt.month, "day": dt.day}
    stem = f"{sensor}_{dt:%Y%m%d_%H%M%S}"

    # One job decodes, enriches, sorts and writes; RMS then reads back
    # exactly the files that write placed.  The .dat decode runs once
    # and nothing is held in executor storage: a lost executor
    # recomputes from the .dat or the written files.
    files = tm.write_hive_partitioned(
        enriched.withColumns({k: F.lit(v) for k, v in parts.items()}),
        f"{out_root}/{sensor}",
        stem,
    )
    if not files:
        # no whole packet in the .dat: nothing to aggregate
        return {"rms_rows": 0, "rms_written": False, "meta": meta}
    # the written files hold the enriched columns less the partition
    # keys (alias among them); the given schema spares inference.  The
    # reader globs its paths, so glob characters in out_root are escaped
    written = spark.read.schema(enriched.drop("alias").schema).parquet(
        *(_GLOB_CHARS.sub(r"\\\1", f) for f in files)
    )
    samples = tm.attach_literals(written, alias=meta.alias)
    axis_cols = [c for c in samples.columns if c not in ("Time", "alias")]
    rename = {}
    for c in axis_cols:
        low = c.lower()
        for ax in ("x", "y", "z"):
            if f"_{ax}_" in low or low.endswith(f"_{ax}"):
                rename[c] = f"rms_{ax}"
    rms = tm.tumbling_rms(samples, value_cols=axis_cols, rename=rename, group_cols=["alias"])

    # the RMS sink's own write counts its rows
    seen = Observation()
    rms_out = rms.withColumns({k: F.lit(v) for k, v in parts.items()}).observe(
        seen, F.count(F.lit(1)).alias("rows")
    )
    # at most one row per second of acquisition, so one file: the sink
    # sorts inside its one partition, which writes the unordered
    # aggregate in Time order.  No full 1 s window writes no rows and
    # leaves no RMS table (main.py:154-156).
    tm.write_hive_partitioned(rms_out.coalesce(1), f"{out_root}/{sensor}_rms", stem)
    n_rms = seen.get["rows"]
    return {"rms_rows": n_rms, "rms_written": n_rms > 0, "meta": meta}
