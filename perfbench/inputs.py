"""Seeded acquisitions for ``acq_convert`` and the reference RMS tables
its outputs are checked against.

Every fixture is a pure function of ``(workload, seed)`` and is cached
under ``<cache>/<workload>-<seed>-<size>/``, so a repeated seed reuses its files
and generation never runs inside a timed region.  ``query_mix`` reads
the committed corpus under ``corpus/`` instead.
"""

from __future__ import annotations

import json
import os
import shutil
from dataclasses import dataclass
from datetime import datetime

import numpy as np

from gcf_corima_parquet_converter_spark.sources.synthetic import SENSOR, write_acquisition

NS_PER_S = 1_000_000_000
ODR = 26667.0
SPTS = 64
ALIASES = ("LAF1", "KBX2", "MWQ3", "ZRT4")
DONE = ".complete"


def _rng(seed: int, salt: int) -> np.random.Generator:
    return np.random.default_rng([seed, salt])


def _fresh(path: str) -> bool:
    """True when ``path`` still has to be generated; clears a partial one."""
    if os.path.exists(os.path.join(path, DONE)):
        return False
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)
    return True


def _mark_done(path: str, meta: dict) -> None:
    with open(os.path.join(path, DONE), "w") as f:
        json.dump(meta, f)


def _load_meta(path: str) -> dict:
    with open(os.path.join(path, DONE)) as f:
        return json.load(f)


def prune_cache(cache_root: str, keep: int = 6) -> None:
    """Keep only the ``keep`` most recently used fixture sets."""
    if not os.path.isdir(cache_root):
        return
    entries = sorted(
        (os.path.join(cache_root, e) for e in os.listdir(cache_root)),
        key=os.path.getmtime,
        reverse=True,
    )
    for path in entries[keep:]:
        shutil.rmtree(path, ignore_errors=True)


# -- acquisitions -------------------------------------------------------------


def start_time_iso(day: int, second_of_day: int) -> str:
    """Half-second start in July 2025: the first and last 1 s buckets are
    partial, so the completeness gate drops them.  Half-second epoch
    values are exact in float64 nanoseconds."""
    hh, rem = divmod(second_of_day, 3600)
    mm, ss = divmod(rem, 60)
    return f"2025-07-{day:02d}T{hh:02d}:{mm:02d}:{ss:02d}.500Z"


def start_ns_of(iso: str) -> int:
    return int(datetime.fromisoformat(iso.replace("Z", "+00:00")).timestamp() * NS_PER_S)


def expected_rms(in_g: np.ndarray, t: np.ndarray, start_ns: int) -> np.ndarray:
    """The reference 1 s RMS: rows ``[Time_ns, rms_x, rms_y, rms_z,
    rms_mod]`` for every bucket whose observed span is >= 0.999 s."""
    time_ns = np.rint(t * NS_PER_S).astype(np.int64) + start_ns
    bucket = time_ns // NS_PER_S
    edges = np.flatnonzero(np.diff(bucket)) + 1
    starts = np.concatenate([[0], edges])
    ends = np.concatenate([edges, [len(bucket)]]) - 1
    span = time_ns[ends] - time_ns[starts]
    counts = np.diff(np.concatenate([starts, [len(bucket)]]))
    rms = np.sqrt(np.add.reduceat(in_g * in_g, starts, axis=0) / counts[:, None])
    keep = span >= 0.999 * NS_PER_S
    mod = np.sqrt((rms * rms).sum(axis=1))
    return np.column_stack([bucket[starts] * NS_PER_S, rms, mod])[keep]


@dataclass(frozen=True)
class Acquisition:
    folder: str
    alias: str
    start_time: str
    n_samples: int
    dat_bytes: int
    rms: np.ndarray  # expected_rms rows

    @property
    def day(self) -> int:
        return int(self.start_time[8:10])


def _write_acq(folder: str, rng: np.random.Generator, day: int, seconds: float, seed: int) -> dict:
    alias = str(rng.choice(ALIASES))
    start = start_time_iso(day, int(rng.integers(0, 86_000)))
    in_g, t = write_acquisition(
        folder, start_time=start, alias=alias, n_seconds=seconds,
        odr=ODR, spts=SPTS, seed=seed,
    )
    np.save(folder + ".rms.npy", expected_rms(in_g, t, start_ns_of(start)))
    return {
        "name": os.path.basename(folder), "alias": alias, "start_time": start,
        "n_samples": len(t),
        "dat_bytes": os.path.getsize(os.path.join(folder, f"{SENSOR}.dat")),
    }


def convert_fixture(cache_root: str, seed: int, seconds: float, warm_seconds: float):
    """The measured acquisition of ``seconds`` and a short warm-up one,
    each with a seeded alias and start and its reference RMS table.
    Returns ``(measured, warmup)``."""
    root = os.path.join(cache_root, f"acq_convert-{seed}-{seconds:g}")
    if _fresh(root):
        rng = _rng(seed, 1)
        _mark_done(root, {"acqs": [
            _write_acq(os.path.join(root, "acq"), rng, int(rng.integers(1, 29)), seconds, seed),
            _write_acq(os.path.join(root, "warm"), rng, 30, warm_seconds, seed + 1),
        ]})
    else:
        os.utime(root)
    acqs = []
    for m in _load_meta(root)["acqs"]:
        folder = os.path.join(root, m.pop("name"))
        acqs.append(Acquisition(folder=folder, rms=np.load(folder + ".rms.npy"), **m))
    return tuple(acqs)

