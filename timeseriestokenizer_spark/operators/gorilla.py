"""Gorilla-style cold-tier compression: delta-of-delta timestamps and
XOR-encoded float values, packed per (series, bucket) into a BinaryType
column inside a grouped-map pandas UDF (BASELINE.json north_star; the
scheme follows the public Gorilla paper, Pelkonen et al., VLDB 2015).

Bitstream layout per blob:
  header: u32 n_points
  if n: u64 first_ts_us, u64 first_val_bits
  per subsequent point:
    timestamp delta-of-delta (prev delta starts at 0):
      dod == 0                → '0'
      dod in [-63, 64]        → '10'   + 7 bits  (zigzag-less, offset-coded)
      dod in [-255, 256]      → '110'  + 9 bits
      dod in [-2047, 2048]    → '1110' + 12 bits
      else                    → '1111' + 64 bits (raw two's complement)
    value XOR vs previous:
      xor == 0                → '0'
      fits previous window    → '10'   + meaningful bits
      else                    → '11'   + 6b leading + 7b length + bits

Exact round-trip (unpack(pack(ts, v)) == (ts, v) bit-for-bit, NaN-safe since
we move raw IEEE bits) is asserted in tests/test_gorilla.py.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pyspark.sql.types as T
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .series import map_series, ts_micros


class _BitWriter:
    __slots__ = ("buf", "acc", "nbits")

    def __init__(self):
        self.buf = bytearray()
        self.acc = 0
        self.nbits = 0

    def write(self, value: int, width: int):
        self.acc = (self.acc << width) | (value & ((1 << width) - 1))
        self.nbits += width
        while self.nbits >= 8:
            self.nbits -= 8
            self.buf.append((self.acc >> self.nbits) & 0xFF)
        self.acc &= (1 << self.nbits) - 1

    def getvalue(self) -> bytes:
        if self.nbits:
            return bytes(self.buf) + bytes([(self.acc << (8 - self.nbits)) & 0xFF])
        return bytes(self.buf)


class _BitReader:
    __slots__ = ("data", "pos")

    def __init__(self, data: bytes, pos_bits: int = 0):
        self.data = data
        self.pos = pos_bits

    def read(self, width: int) -> int:
        # chunked read: one int.from_bytes over the covered bytes instead of
        # a per-bit loop (64-bit fields cost 1 conversion, not 64 iterations)
        p = self.pos
        end = p + width
        chunk = int.from_bytes(self.data[p >> 3 : (end + 7) >> 3], "big")
        self.pos = end
        return (chunk >> ((-end) % 8)) & ((1 << width) - 1)


def pack_series(ts_us: np.ndarray, vals: np.ndarray) -> bytes:
    """Pack parallel (timestamp_us:int64, value:float64) arrays to bytes."""
    ts = np.asarray(ts_us, dtype=np.int64)
    bits = np.asarray(vals, dtype=np.float64).view(np.uint64)
    n = len(ts)
    w = _BitWriter()
    w.write(n, 32)
    if n == 0:
        return w.getvalue()
    w.write(int(ts[0]) & ((1 << 64) - 1), 64)
    w.write(int(bits[0]), 64)

    # numpy pre-pass: deltas-of-deltas and value XORs vectorized; the bit
    # emission loop then touches plain Python ints (no per-element ndarray
    # indexing in the hot loop)
    deltas = np.diff(ts)
    dods = np.diff(deltas, prepend=np.int64(0)).tolist()
    xors = (bits[1:] ^ bits[:-1]).tolist()
    write = w.write

    prev_lead, prev_len = -1, -1
    for i in range(n - 1):
        dod = dods[i]
        if dod == 0:
            write(0, 1)
        elif -63 <= dod <= 64:
            write(0b10, 2)
            write(dod + 63, 7)
        elif -255 <= dod <= 256:
            write(0b110, 3)
            write(dod + 255, 9)
        elif -2047 <= dod <= 2048:
            write(0b1110, 4)
            write(dod + 2047, 12)
        else:
            write(0b1111, 4)
            write(dod & ((1 << 64) - 1), 64)

        xor = xors[i]
        if xor == 0:
            write(0, 1)
            continue
        lead = 64 - xor.bit_length()
        trail = (xor & -xor).bit_length() - 1
        mlen = 64 - lead - trail
        if prev_lead >= 0 and lead >= prev_lead and trail >= 64 - prev_lead - prev_len:
            write(0b10, 2)
            write(xor >> (64 - prev_lead - prev_len), prev_len)
        else:
            write(0b11, 2)
            write(min(lead, 63), 6)
            write(mlen, 7)
            write(xor >> trail, mlen)
            prev_lead, prev_len = min(lead, 63), mlen
    return w.getvalue()


def unpack_series(blob: bytes) -> tuple[np.ndarray, np.ndarray]:
    """Inverse of pack_series — exact."""
    r = _BitReader(blob)
    n = r.read(32)
    ts = np.empty(n, dtype=np.int64)
    bits = np.empty(n, dtype=np.uint64)
    if n == 0:
        return ts, bits.view(np.float64)
    first_ts = r.read(64)
    if first_ts >= 1 << 63:
        first_ts -= 1 << 64
    ts[0] = first_ts
    bits[0] = r.read(64)

    prev_delta = 0
    prev_bits = int(bits[0])
    prev_lead, prev_len = -1, -1
    for i in range(1, n):
        if r.read(1) == 0:
            dod = 0
        elif r.read(1) == 0:
            dod = r.read(7) - 63
        elif r.read(1) == 0:
            dod = r.read(9) - 255
        elif r.read(1) == 0:
            dod = r.read(12) - 2047
        else:
            dod = r.read(64)
            if dod >= 1 << 63:
                dod -= 1 << 64
        prev_delta += dod
        ts[i] = ts[i - 1] + prev_delta

        if r.read(1) == 0:
            bits[i] = prev_bits
            continue
        if r.read(1) == 0:
            xor = r.read(prev_len) << (64 - prev_lead - prev_len)
        else:
            lead = r.read(6)
            mlen = r.read(7)
            xor = r.read(mlen) << (64 - lead - mlen)
            prev_lead, prev_len = lead, mlen
        prev_bits ^= xor
        bits[i] = prev_bits
    return ts, bits.view(np.float64)


PACKED_SCHEMA = T.StructType(
    [
        T.StructField("series_id", T.StringType()),
        T.StructField("n_points", T.LongType()),
        T.StructField("raw_bytes", T.LongType()),
        T.StructField("packed_bytes", T.LongType()),
        T.StructField("blob", T.BinaryType()),
    ]
)


def gorilla_pack(
    df: DataFrame, key: str | list[str], ts_col: str, val_col: str
) -> DataFrame:
    """Pack each series' (ts, value) stream. Pass a composite key like
    ``["conv_id", "day"]`` to bound groups at scale (an unbounded hot
    conversation otherwise concentrates in one task — the grouped-map analog
    of the salting note in operators/salting.py); series_id in the output is
    the '|'-joined key.

    Shape: series collapse to sorted arrays JVM-side (one exchange), then
    Python packs Arrow batches of whole series (``series.map_series``) —
    grouped-map dispatch costs ~25 ms/group in a coalesced task, which
    dominated wall time at thousands of small series (measured 9 s → ~2 s
    on 150 series)."""
    keys = [key] if isinstance(key, str) else list(key)
    sid = F.concat_ws("|", *[F.col(k).cast("string") for k in keys])

    def _pack(s, ts, vals):
        blob = pack_series(ts, vals)
        return {"series_id": [s], "n_points": [len(ts)],
                "raw_bytes": [len(ts) * 16], "packed_bytes": [len(blob)],
                "blob": [blob]}

    return map_series(
        df, sid, [], [ts_micros(ts_col), F.col(val_col)], _pack, PACKED_SCHEMA
    )


UNPACKED_SCHEMA = T.StructType(
    [
        T.StructField("series_id", T.StringType()),
        T.StructField("ts", T.TimestampType()),
        T.StructField("value", T.DoubleType()),
    ]
)


def gorilla_unpack(packed: DataFrame) -> DataFrame:
    """Explode packed blobs back to (series_id, ts, value) rows."""

    def _unpack(it):
        for pdf in it:
            sids, tss, valss = [], [], []
            for sid, blob in zip(pdf["series_id"], pdf["blob"]):
                ts, vals = unpack_series(bytes(blob))
                sids.append(np.repeat(sid, len(ts)))
                tss.append(ts)
                valss.append(vals)
            if not sids:
                continue
            # one output frame per input batch (per-row frames fragment the
            # Arrow stream into thousands of tiny batches)
            yield pd.DataFrame(
                {
                    "series_id": np.concatenate(sids),
                    "ts": pd.to_datetime(np.concatenate(tss), unit="us"),
                    "value": np.concatenate(valss),
                }
            )

    return packed.select("series_id", "blob").mapInPandas(_unpack, UNPACKED_SCHEMA)
