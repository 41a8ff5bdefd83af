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
the Hive ``alias=/year=/month=/day=`` layout (S7/S8).  Unlike the
reference there is no intermediate parquet materialization and no
driver-side data pass — one lazy lineage end to end; many acquisitions
can be unioned and processed in one job (the reference serializes one
per 2 GB function instance).
"""

from __future__ import annotations

import json
import os
from dataclasses import dataclass
from datetime import datetime, timedelta, timezone

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from ..operators import telemetry as tm
from ..schema.dtdl import decode_params_from_status
from ..schema.sanitize import sanitize_columns
from .dat import DecodeParams, decode_dat

NS_PER_S = 1_000_000_000
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
    axis_cols = [c for c in enriched.columns if c not in ("Time", "alias")]
    rename = {}
    for c in axis_cols:
        low = c.lower()
        for ax in ("x", "y", "z"):
            if f"_{ax}_" in low or low.endswith(f"_{ax}"):
                rename[c] = f"rms_{ax}"
    rms = tm.tumbling_rms(enriched, value_cols=axis_cols, rename=rename, group_cols=["alias"])

    dt = meta.start_time
    parts = {"year": dt.year, "month": dt.month, "day": dt.day}
    stem = f"{sensor}_{dt:%Y%m%d_%H%M%S}"
    enriched_out = enriched.withColumns({k: F.lit(v) for k, v in parts.items()})
    rms_out = rms.withColumns({k: F.lit(v) for k, v in parts.items()})

    # Both sinks and the empty-check (main.py:154-156) consume the same
    # decode->enrich lineage; without caching, the mapInArrow .dat
    # decode (one task per packet-aligned range, spread over every
    # core) would run 3x (enriched write, RMS count, RMS write).
    # Persist the shared ancestor once (spills to disk if the
    # acquisition exceeds executor memory) and the tiny RMS aggregate,
    # so decode and the RMS agg each execute exactly once.
    enriched.persist()
    rms_out.persist()
    try:
        tm.write_hive_partitioned(enriched_out, f"{out_root}/{sensor}", stem)
        n_rms = rms_out.count()
        if n_rms == 0:
            # main.py:154-156: no full 1 s window -> RMS table not written
            return {"rms_rows": 0, "rms_written": False, "meta": meta}
        # at most one row per second of acquisition, so one file: the
        # global orderBy in tumbling_rms would otherwise write one small
        # file per shuffle partition
        tm.write_hive_partitioned(
            rms_out.coalesce(1), f"{out_root}/{sensor}_rms", stem
        )
        return {"rms_rows": n_rms, "rms_written": True, "meta": meta}
    finally:
        rms_out.unpersist()
        enriched.unpersist()
