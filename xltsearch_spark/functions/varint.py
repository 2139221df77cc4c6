"""Delta + varint (LEB128) posting compression, vectorized in numpy.

Postings store sorted doc-id runs as first-difference deltas, each delta
encoded as a little-endian base-128 varint (the classic VByte scheme Lucene
uses for its .doc/.pos streams). Encode and decode are O(total_bytes) numpy
array programs — no per-element Python loops over values; the only Python
loops are over the ≤10 byte positions of a varint.

Used for the ``postings`` table's binary block columns (FIXTURES.md §2).
These are the scalar stream primitives; posting readers do not call the
decoders row by row but go through ``functions/blocks.py``, which decodes a
whole Arrow batch of runs or blocks with one call per stream.
"""

from __future__ import annotations

import numpy as np

_MAX_VARINT_BYTES = 10  # enough for uint64


def encode_varint(values: np.ndarray) -> bytes:
    """Encode a uint64 array as concatenated LEB128 varints."""
    v = np.ascontiguousarray(values, dtype=np.uint64)
    if v.size == 0:
        return b""
    # bytes needed per value: ceil(bitlength/7), min 1
    nbits = np.zeros(v.shape, dtype=np.int64)
    tmp = v.copy()
    for _ in range(_MAX_VARINT_BYTES):
        live = tmp > 0
        if not live.any():
            break
        nbits[live] += 1
        tmp >>= np.uint64(7)
    nbytes = np.maximum(nbits, 1)
    offsets = np.concatenate(([0], np.cumsum(nbytes)))
    out = np.zeros(int(offsets[-1]), dtype=np.uint8)
    shifted = v.copy()
    for k in range(int(nbytes.max())):
        live = nbytes > k
        pos = offsets[:-1][live] + k
        byte = (shifted[live] & np.uint64(0x7F)).astype(np.uint8)
        cont = (nbytes[live] > k + 1).astype(np.uint8) << 7
        out[pos] = byte | cont
        shifted[live] >>= np.uint64(7)
    return out.tobytes()


def decode_varint(buf: bytes, count: int | None = None) -> np.ndarray:
    """Decode concatenated LEB128 varints back to a uint64 array."""
    raw = np.frombuffer(buf, dtype=np.uint8)
    if raw.size == 0:
        return np.zeros(0, dtype=np.uint64)
    is_last = (raw & 0x80) == 0
    ends = np.nonzero(is_last)[0]
    starts = np.concatenate(([0], ends[:-1] + 1))
    n = ends.size
    if count is not None and n != count:
        raise ValueError(f"varint stream holds {n} values, expected {count}")
    values = np.zeros(n, dtype=np.uint64)
    lengths = ends - starts + 1
    for k in range(int(lengths.max())):
        live = lengths > k
        pos = starts[live] + k
        values[live] |= (raw[pos] & np.uint64(0x7F)).astype(np.uint64) << np.uint64(7 * k)
    return values


def varint_lengths(values: np.ndarray) -> np.ndarray:
    """Per-value encoded byte length (vectorized)."""
    v = np.ascontiguousarray(values, dtype=np.uint64)
    nbits = np.zeros(v.shape, dtype=np.int64)
    tmp = v.copy()
    for _ in range(_MAX_VARINT_BYTES):
        live = tmp > 0
        if not live.any():
            break
        nbits[live] += 1
        tmp >>= np.uint64(7)
    return np.maximum(nbits, 1)


def encode_varint_grouped(values: np.ndarray, group_starts: np.ndarray):
    """Encode ONE concatenated varint stream and return (buffer, byte_offsets)
    where byte_offsets[i] is the byte position of values[group_starts[i]] —
    so per-group payloads are zero-copy slices of the single buffer. This is
    the batch path of the SPIMI build: one numpy encode for a whole
    partition's runs instead of one call per (term, doc-range) group."""
    buf = encode_varint(values)
    lens = varint_lengths(values)
    cum = np.concatenate(([0], np.cumsum(lens)))
    return buf, cum[np.asarray(group_starts, dtype=np.int64)]


def varint_value_starts(buf: bytes) -> np.ndarray:
    """Byte offset of each value in a varint stream WITHOUT decoding —
    terminator bytes have the high bit clear. Lets block encoders slice
    per-group payloads out of a concatenated raw stream zero-copy."""
    raw = np.frombuffer(buf, dtype=np.uint8)
    if raw.size == 0:
        return np.zeros(0, dtype=np.int64)
    ends = np.nonzero((raw & 0x80) == 0)[0]
    return np.concatenate(([0], ends[:-1] + 1)).astype(np.int64)


def encode_deltas(sorted_ids: np.ndarray) -> bytes:
    """Delta-encode a strictly increasing int64/uint64 array, then varint."""
    a = np.asarray(sorted_ids, dtype=np.uint64)
    if a.size == 0:
        return b""
    deltas = np.empty_like(a)
    deltas[0] = a[0]
    np.subtract(a[1:], a[:-1], out=deltas[1:])
    return encode_varint(deltas)


def decode_deltas(buf: bytes, count: int | None = None) -> np.ndarray:
    """Inverse of :func:`encode_deltas` — returns int64 doc ids."""
    deltas = decode_varint(buf, count)
    return np.cumsum(deltas, dtype=np.uint64).astype(np.int64)
