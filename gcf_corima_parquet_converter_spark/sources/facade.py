"""``Acquisition`` facade — the engine's equivalent of the reference's
``HSDatalog`` control-plane surface (SURVEY §2.11).

Reference call sites (all in /root/reference/main.py):
``create_hsd(acquisition_folder)`` (main.py:64),
``get_acquisition_info(hsd)`` (main.py:65),
``get_firmware_info(hsd)["firmware_info"]`` (main.py:71),
``get_sensor(hsd, name)`` (main.py:74) and
``convert_dat_to_xsv(hsd, sensor, start_time, end_time, labeled,
raw_data, output_folder, file_format)`` (main.py:75-81).

This class is a thin driver-side shim: metadata (two small JSONs) is
parsed on the driver, while every data pass stays a lazy distributed
DataFrame lineage — ``load()`` returns one DataFrame per sensor, and
``convert_dat_to_xsv`` composes decode → slice → label → sink without
ever collecting.  PnPL device *control* (set_property/command) is out
of scope for a query engine; only schema resolution is kept
(``schema/dtdl.py``).
"""

from __future__ import annotations

import os
from dataclasses import replace
from datetime import datetime

from pyspark.sql import DataFrame, SparkSession

from ..operators import telemetry as tm
from ..schema.sanitize import sanitize_columns
from .. import sinks
from .acquisition import NS_PER_S, AcquisitionMeta, load_meta, parse_utc, readiness
from .dat import decode_dat


def _iso_to_rel_seconds(value: str | float, start: datetime) -> float:
    """Tag times may be ISO8601 absolute ('ta' events) or numeric
    seconds relative to acquisition start; normalize to relative s."""
    if isinstance(value, (int, float)):
        return float(value)
    return parse_utc(str(value)).timestamp() - start.timestamp()


def tag_intervals(info: dict, start: datetime) -> list[tuple[str, float, float]]:
    """Pair acquisition_info ``tags`` events into (label, t0_s, t1_s)
    intervals, relative seconds.

    HSD2 stores tags as an event list: ``{"l": label, "e": bool,
    "ta": time}`` where ``e=true`` opens and ``e=false`` closes the
    label [inferred from the stdatalog sw_tag0..15 toggle model,
    SURVEY §2.9 T7].  Pre-paired ``{"label", "start", "end"}`` dicts
    are accepted too.  An unclosed open tag extends to +inf.
    """
    out: list[tuple[str, float, float]] = []
    open_at: dict[str, float] = {}
    for ev in info.get("tags", []):
        if "start" in ev and "end" in ev:  # already an interval
            out.append(
                (
                    str(ev.get("label", ev.get("l", ""))),
                    _iso_to_rel_seconds(ev["start"], start),
                    _iso_to_rel_seconds(ev["end"], start),
                )
            )
            continue
        label = str(ev.get("l", ""))
        t = _iso_to_rel_seconds(ev.get("ta", 0.0), start)
        if ev.get("e", True):
            open_at[label] = t
        elif label in open_at:
            out.append((label, open_at.pop(label), t))
    for label, t0 in open_at.items():
        out.append((label, t0, float("inf")))
    return sorted(out)


class Acquisition:
    """Load-and-export facade over one acquisition directory."""

    def __init__(self, spark: SparkSession, folder: str):
        ready, missing = readiness(folder, sensor=self._any_sensor(folder))
        if not ready:
            raise FileNotFoundError(
                f"acquisition {folder!r} not ready, missing {sorted(missing)}"
            )
        self.spark = spark
        self.folder = folder

    # -- metadata accessors (get_acquisition_info / get_firmware_info) --

    @staticmethod
    def _any_sensor(folder: str) -> str:
        try:
            dats = [n for n in os.listdir(folder) if n.lower().endswith(".dat")]
        except FileNotFoundError:
            dats = []
        return dats[0][:-4] if dats else "iis3dwb_acc"

    @property
    def sensors(self) -> list[str]:
        """Component names, one per ``<sensor>.dat`` present."""
        return sorted(
            n[:-4] for n in os.listdir(self.folder) if n.lower().endswith(".dat")
        )

    def get_acquisition_info(self) -> dict:
        return self.get_sensor(self.sensors[0]).info

    def get_firmware_info(self) -> dict:
        meta = self.get_sensor(self.sensors[0])
        return {"firmware_info": {"alias": meta.alias}}

    def get_sensor(self, name: str) -> AcquisitionMeta:
        """Sensor handle = parsed metadata + decode params (main.py:74)."""
        return load_meta(self.folder, name)

    def resolve_device_template(
        self,
        catalog=None,
        board_id: int | str | None = None,
        fw_id: int | str | None = None,
    ):
        """Resolve this acquisition's device template from a
        ``schema.dtdl.DeviceTemplateCatalog`` by ``(board_id, fw_id)``
        — the reference's query_dtdl_model entry point
        (device_template_manager.py:139-199: custom override beats the
        base catalog template).  With no ``catalog``, the generated
        built-in catalog is used (``schema.templates``), which covers
        the STWINBX1/FP-SNS-DATALOG2 pair the reference exercises.  The
        ids come from the firmware info when present;
        heterogeneous-fleet callers pass them explicitly.  Returns the
        template JSON (or ``{dtmi: template}`` on multiple hits,
        ``None`` on a miss)."""
        if catalog is None:
            from ..schema.dtdl import DeviceTemplateCatalog

            catalog = DeviceTemplateCatalog.builtin()
        fw = self.get_firmware_info().get("firmware_info", {})
        board_id = board_id if board_id is not None else fw.get("board_id")
        fw_id = fw_id if fw_id is not None else fw.get("fw_id")
        if board_id is None or fw_id is None:
            raise ValueError(
                "no (board_id, fw_id) in firmware info; pass them explicitly"
            )
        return catalog.query(board_id, fw_id)

    def tags(self) -> list[tuple[str, float, float]]:
        meta = self.get_sensor(self.sensors[0])
        return tag_intervals(meta.info, meta.start_time)

    # -- data plane ---------------------------------------------------

    def load(
        self,
        sensor: str | None = None,
        raw_data: bool = False,
        absolute_time: bool = True,
    ) -> dict[str, DataFrame]:
        """Decode every (or one) sensor: ``{sensor: DataFrame}``.

        ``raw_data=True`` skips sensitivity scaling (the reference's
        ``raw_data`` flag, main.py:79): values are the on-wire integers
        as float64.  ``absolute_time=False`` keeps relative seconds.
        """
        names = [sensor] if sensor else self.sensors
        out: dict[str, DataFrame] = {}
        for name in names:
            meta = self.get_sensor(name)
            params = (
                replace(meta.params, sensitivity=1.0) if raw_data else meta.params
            )
            df = sanitize_columns(
                decode_dat(self.spark, os.path.join(self.folder, f"{name}.dat"), params)
            )
            if absolute_time:
                df = tm.to_absolute_time(df, meta.start_ns)
            out[name] = tm.attach_literals(df, alias=meta.alias)
        return out

    def convert_dat_to_xsv(
        self,
        sensor: str,
        output_folder: str,
        start_time: float | None = None,
        end_time: float | None = None,
        labeled: bool = False,
        raw_data: bool = False,
        file_format: str = "CSV",
    ) -> DataFrame:
        """The reference's converter entry point (main.py:75-81).

        ``start_time``/``end_time`` slice on *relative* seconds (P7
        row-range); ``labeled`` interval-joins the acquisition tags
        (J3, broadcast); ``file_format`` CSV/TSV/PARQUET (S7/S10).
        Returns the exported DataFrame (lazy; already written).
        """
        import pyspark.sql.functions as F

        meta = self.get_sensor(sensor)
        df = self.load(sensor, raw_data=raw_data, absolute_time=False)[sensor]
        if start_time is not None:
            df = df.filter(F.col("Time") >= float(start_time))
        if end_time is not None:
            df = df.filter(F.col("Time") < float(end_time))
        if labeled:
            ivals = self.tags()
            if ivals:
                tagdf = self.spark.createDataFrame(
                    [(lbl, float(t0), float(t1)) for lbl, t0, t1 in ivals],
                    "label string, t_start double, t_end double",
                )
                df = tm.label_samples(df, tagdf)
        df = tm.to_absolute_time(df, meta.start_ns)
        fmt = file_format.upper()
        if fmt == "PARQUET":
            sinks.write_parquet(df, output_folder, sort_by=["Time"])
        else:
            sinks.write_xsv(df, output_folder, file_format=fmt)
        return df
