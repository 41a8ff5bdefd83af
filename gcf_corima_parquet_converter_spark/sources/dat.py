"""HSDatalog2 ``.dat`` binary decode: framing law + distributed scan.

Framing law (reference: stdatalog_dtk/HSD_DataToolkit.py:42-72):
a packet is ``samples_per_ts * dim * sizeof(data_type)`` bytes of
interleaved samples followed by one little-endian float64 timestamp
(seconds, relative to acquisition start); ``samples_per_ts == 0`` means
no timestamps at all.  Incomplete trailing bytes are carried to the
next chunk (``incoming_data`` buffer in the reference; ``PacketFramer``
here).

Scale design: fixed packet length means any multiple of it is a clean
framing boundary, so files decode as packet-aligned BYTE RANGES — a
``mapInArrow`` kernel (numpy ``frombuffer``, zero-copy reshape, Arrow
record batches out) per range, ranged reads (local seek /
``pyarrow.fs`` object-store GET), no shuffle at all.  The driver plans
the ranges from the file's length alone: they are sized from the
session's ``defaultParallelism``, so one file spreads over every core,
never fall below ``RANGE_FLOOR_BYTES`` (a small file stays one range)
nor exceed ``split_bytes``, and each is one id of a ``spark.range``.
Per-sample timestamps are derived from packet timestamps (the packet
stamp is the time of its last sample [inferred from the missing-core
converter's per-sample Time output, main.py:84-101]) so clock drift
between packets is preserved rather than assuming a perfect 1/odr grid.
"""

from __future__ import annotations

from collections.abc import Iterator
from dataclasses import dataclass, field

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import DoubleType, StructField, StructType

# on-wire sample dtypes (TypeConversion in the missing stdatalog_core;
# SURVEY §1.2 [inferred] int8..float64 family)
_NP_DTYPES = {
    "int8": np.int8,
    "uint8": np.uint8,
    "int16": np.int16,
    "uint16": np.uint16,
    "int32": np.int32,
    "uint32": np.uint32,
    "float": np.float32,
    "float32": np.float32,
    "double": np.float64,
    "float64": np.float64,
}

# Smallest byte range a file is cut into (rounded down to whole
# packets): a range costs one Python-worker round trip, so files up to
# this size decode as a single range.
RANGE_FLOOR_BYTES = 1 << 20
# Most rows in one emitted Arrow record batch, so a range never
# materializes as one batch.
CHUNK_ROWS = 262_144


def np_dtype(name: str) -> np.dtype:
    try:
        return np.dtype(_NP_DTYPES[name])
    except KeyError:
        raise ValueError(f"unsupported .dat data_type {name!r}") from None


def type_length(name: str) -> int:
    return np_dtype(name).itemsize


@dataclass(frozen=True)
class DecodeParams:
    """Per-component decode parameters (DTDL component status,
    HSD_DataToolkit.py:45-51)."""

    dim: int = 3
    data_type: str = "int16"
    samples_per_ts: int = 64
    sensitivity: float = 1.0
    odr: float = 26667.0
    axis_names: tuple[str, ...] = ("A_x [g]", "A_y [g]", "A_z [g]")

    @property
    def packet_data_len(self) -> int:
        n = self.samples_per_ts if self.samples_per_ts else 1
        return n * self.dim * type_length(self.data_type)

    @property
    def packet_len(self) -> int:
        return self.packet_data_len + (8 if self.samples_per_ts else 0)


def frame_packets(
    buf: bytes, params: DecodeParams
) -> tuple[np.ndarray, np.ndarray, bytes]:
    """Split a byte buffer into complete packets.

    Returns ``(samples, timestamps, leftover)``: samples is
    ``(n_packets*spts, dim)`` float64 (sensitivity applied), timestamps
    is ``(n_packets,)`` float64 packet stamps (empty when spts==0, where
    each "packet" is a single sample row), leftover is the incomplete
    tail to carry into the next chunk.
    """
    plen = params.packet_len
    n = len(buf) // plen
    leftover = buf[n * plen :]
    if n == 0:
        return (
            np.empty((0, params.dim)),
            np.empty(0),
            leftover,
        )
    raw = np.frombuffer(buf[: n * plen], dtype=np.uint8).reshape(n, plen)
    data_bytes = raw[:, : params.packet_data_len]
    samples = (
        np.ascontiguousarray(data_bytes)
        .view(np_dtype(params.data_type))
        .reshape(-1, params.dim)
        .astype(np.float64)
        * params.sensitivity
    )
    if params.samples_per_ts:
        ts = np.ascontiguousarray(raw[:, params.packet_data_len :]).view("<f8").ravel()
    else:
        ts = np.empty(0)
    return samples, ts, leftover


@dataclass
class PacketFramer:
    """Stateful chunk reassembler — the streaming twin of the reference's
    ``incoming_data`` remainder-carry (HSD_DataToolkit.py:53-66).

    ``feed`` accepts arbitrary byte chunks and yields only complete
    packets; the incomplete tail survives across calls (and, in
    streaming, across micro-batches via applyInPandasWithState).
    """

    params: DecodeParams
    _buf: bytes = field(default=b"")

    def feed(self, chunk: bytes) -> tuple[np.ndarray, np.ndarray]:
        self._buf += bytes(chunk)
        samples, ts, self._buf = frame_packets(self._buf, self.params)
        return samples, ts

    @property
    def pending_bytes(self) -> int:
        return len(self._buf)


def sample_times(ts: np.ndarray, params: DecodeParams, n_samples: int) -> np.ndarray:
    """Per-sample relative times from per-packet stamps: the packet
    stamp is its LAST sample's time; earlier samples step back 1/odr.
    With spts==0 (no stamps) fall back to the k/odr grid."""
    if ts.size == 0:
        return np.arange(n_samples, dtype=np.float64) / params.odr
    spts = params.samples_per_ts
    offs = (np.arange(spts, dtype=np.float64) - (spts - 1)) / params.odr
    return (ts[:, None] + offs[None, :]).ravel()[:n_samples]


def decode_schema(params: DecodeParams) -> StructType:
    return StructType(
        [StructField("Time", DoubleType())]
        + [StructField(name, DoubleType()) for name in params.axis_names]
    )


def _read_range(path: str, start: int, length: int) -> bytes:
    """Read ``length`` bytes at ``start`` from a qualified Hadoop path
    URI.  Local ``file:`` URIs use plain seek/read; anything else (gs://,
    s3://, hdfs://) goes through ``pyarrow.fs`` — the same ranged-GET
    primitive every object store serves, so a split never downloads
    the whole blob."""
    if path.startswith("file:"):
        # a Hadoop URI carries special characters percent-encoded
        # (space -> %20), so decode before open or ranged reads fail
        # on such filenames
        from urllib.parse import unquote

        local = unquote(path[5:])
        while local.startswith("//"):
            local = local[1:]
        with open(local, "rb") as f:
            f.seek(start)
            return f.read(length)
    import pyarrow.fs as pafs

    fs, rel = pafs.FileSystem.from_uri(path)
    with fs.open_input_file(rel) as f:
        f.seek(start)
        return f.read(length)


def decode_dat(
    spark: SparkSession,
    path: str,
    params: DecodeParams,
    split_bytes: int = 64 << 20,
) -> DataFrame:
    """Distributed ``.dat`` scan decoded over PACKET-ALIGNED byte
    ranges: packets are fixed-length (``params.packet_len``), so any
    multiple of it is a clean framing boundary and a file splits into
    ranges decoded in parallel instead of serializing on one whole-file
    task (the reference decodes one file per process, main.py:84-85).
    A file of ``p`` packets is cut into ranges of
    ``ceil(p / defaultParallelism)`` packets, clamped to at least
    ``RANGE_FLOOR_BYTES`` and at most ``split_bytes``, so one file fills
    every core while a small one stays a single range.  Per-packet
    timestamps make every range self-contained; the spts==0 stampless
    format gets its time grid from the range's global packet offset
    instead.

    Output: relative ``Time`` (float64 s) + one double column per axis,
    emitted by a ``mapInArrow`` kernel as Arrow record batches of at
    most ``CHUNK_ROWS`` rows.  Downstream enrichment (sanitize/abs-time/
    alias) stays lazy on top.

    The ranges are planned on the driver from one Hadoop
    ``getFileStatus`` (so any Hadoop filesystem, gs:// included, works):
    range ``i`` of ``n`` is the ``i``-th id of ``spark.range(n)`` over
    ``min(n, defaultParallelism)`` partitions, and its task reads
    ``[i*per*packet_len, (i+1)*per*packet_len)`` itself with a ranged
    read (local seek or ``pyarrow.fs`` for object stores).  No listing
    job and no shuffle precede the decode, and ``spark.range`` slices
    its ids deterministically, so a retried task gets the same ranges."""
    schema = decode_schema(params)
    arrow_schema = pa.schema([(f.name, pa.float64()) for f in schema.fields])
    plen = params.packet_len

    hpath = spark._jvm.org.apache.hadoop.fs.Path(path)
    fs = hpath.getFileSystem(spark._jsc.hadoopConfiguration())
    status = fs.getFileStatus(hpath)
    # qualified and percent-encoded; _read_range unquotes a file: URI
    uri = status.getPath().toUri().toString()
    par = spark.sparkContext.defaultParallelism
    packets = -(-status.getLen() // plen)
    per = min(
        max(split_bytes // plen, 1),
        max(RANGE_FLOOR_BYTES // plen, 1, -(-packets // par)),
    )
    n = max(-(-packets // per), 1)

    def _decode_ranges(it: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for batch in it:
            for i in batch.column("id").to_pylist():
                # a trailing partial packet is legal mid-stream (file
                # cut) and leaves the decoded rows unaffected
                samples, ts, _leftover = frame_packets(
                    _read_range(uri, i * per * plen, per * plen), params
                )
                rows = len(samples)
                if rows == 0:
                    continue
                if params.samples_per_ts == 0:
                    # stampless wire format: the k/odr grid must use
                    # the GLOBAL sample index, not the range-local one
                    t = np.arange(i * per, i * per + rows, dtype=np.float64) / params.odr
                else:
                    t = sample_times(ts, params, rows)
                cols = [t, *np.ascontiguousarray(samples.T)]
                for s in range(0, rows, CHUNK_ROWS):
                    yield pa.RecordBatch.from_arrays(
                        [pa.array(c[s : s + CHUNK_ROWS]) for c in cols],
                        schema=arrow_schema,
                    )

    return spark.range(0, n, 1, min(n, par)).mapInArrow(_decode_ranges, schema)
