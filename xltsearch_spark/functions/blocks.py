"""Posting-block codec: the one batched reader of the posting format.

A posting RUN (build stage 2) and a posting BLOCK (the ``postings`` table)
carry the same varint streams (FIXTURES.md §2): ``docs_bin`` holds doc-id
deltas restarting at an absolute id, ``tfs_bin`` one term frequency per doc
(the field length in a run's NULL-term rows), ``dls_bin`` one field length
per doc, and ``pos_bin`` ``tf`` within-doc position deltas per doc,
restarting at each doc (NULL or empty when a row stores no positions).

Every posting reader — the build's blocker, merge's block-to-run pass,
the doc-norms stage and the engine's scorer — decodes through
:func:`decode` one Arrow batch at a time: one ``b"".join`` and one
:func:`decode_varint` per stream, then a segmented cumsum for absolute doc
ids and positions. :func:`drop_dead` is the one tombstone filter. Python
touches rows only to join their bytes and to slice output payloads.
"""

from __future__ import annotations

from dataclasses import dataclass, field

import numpy as np
import pandas as pd

from xltsearch_spark.functions.varint import (decode_varint,
                                              encode_varint_grouped,
                                              varint_value_starts)


@dataclass
class Postings:
    """A batch of runs or blocks decoded to one entry per posting, in row
    order. Streams that were not asked for stay None."""
    counts: np.ndarray                 # postings per row (n_docs)
    row: np.ndarray                    # input row of each posting
    docs: np.ndarray | None = None     # absolute doc ids
    tfs: np.ndarray | None = None
    dls: np.ndarray | None = None
    pos: np.ndarray | None = None      # absolute positions, pos_counts per posting
    pos_counts: np.ndarray | None = None
    raw: dict[str, bytes] = field(default_factory=dict)  # joined stream bytes


def join(col: pd.Series) -> bytes:
    """Concatenate a binary column's payloads (NULL reads as empty)."""
    return b"".join(x if x is not None else b"" for x in col)


def segmented_cumsum(deltas: np.ndarray, counts: np.ndarray) -> np.ndarray:
    """Running sums of ``deltas`` restarting at each segment of ``counts``
    consecutive values (the first value of a segment is absolute)."""
    g = np.cumsum(deltas)
    starts = np.cumsum(counts) - counts
    live = counts > 0
    base = np.zeros(counts.size, dtype=g.dtype)
    base[live] = g[starts[live]] - deltas[starts[live]]
    return g - np.repeat(base, counts)


def row_sums(values: np.ndarray, counts: np.ndarray) -> np.ndarray:
    """Per-row sums of ``values`` (``counts[i]`` consecutive values per row)."""
    out = np.zeros(counts.size, dtype=np.int64)
    live = counts > 0
    if live.any():
        out[live] = np.add.reduceat(values, (np.cumsum(counts) - counts)[live])
    return out


def _pos_counts(pdf: pd.DataFrame, row: np.ndarray, tfs: np.ndarray) -> np.ndarray:
    """Positions stored per posting: its tf, or 0 where its row has none."""
    has = np.fromiter((x is not None and len(x) > 0 for x in pdf["pos_bin"]),
                      dtype=bool, count=len(pdf))
    return np.where(has[row], tfs, 0)


def decode(pdf: pd.DataFrame, streams=("docs", "tfs", "dls")) -> Postings:
    """Batch-decode ``streams`` (any of docs, tfs, dls, pos) of every row of
    ``pdf``; ``pos`` implies ``tfs``."""
    counts = pdf["n_docs"].to_numpy(dtype=np.int64)
    n = int(counts.sum())
    out = Postings(counts=counts, row=np.repeat(np.arange(len(pdf)), counts))
    for s in ("docs", "tfs", "dls"):
        if s in streams or (s == "tfs" and "pos" in streams):
            out.raw[s] = join(pdf[s + "_bin"])
            setattr(out, s, decode_varint(out.raw[s], n).astype(np.int64))
    if out.docs is not None:
        out.docs = segmented_cumsum(out.docs, counts)
    if "pos" in streams:
        out.pos_counts = _pos_counts(pdf, out.row, out.tfs)
        out.raw["pos"] = join(pdf["pos_bin"])
        deltas = decode_varint(out.raw["pos"], int(out.pos_counts.sum()))
        out.pos = segmented_cumsum(deltas.astype(np.int64), out.pos_counts)
    return out


def position_blobs(p: Postings) -> list:
    """Each posting's absolute positions as native int64 bytes (None where
    its row stores no positions)."""
    buf = p.pos.astype(np.int64).tobytes()
    ends = np.cumsum(p.pos_counts) * 8
    starts = ends - p.pos_counts * 8
    return [buf[s:e] if s < e else None
            for s, e in zip(starts.tolist(), ends.tolist())]


def blob_positions(blobs) -> tuple[np.ndarray, np.ndarray]:
    """The inverse of ``position_blobs`` over a column of blobs: (every
    blob's positions concatenated, the count per blob); None reads as a
    blob without positions."""
    bufs = [b if b is not None else b"" for b in blobs]
    counts = np.fromiter((len(b) >> 3 for b in bufs), dtype=np.int64,
                         count=len(bufs))
    return np.frombuffer(b"".join(bufs), dtype=np.int64), counts


def _group_bounds(raw: bytes, sizes: np.ndarray | None) -> np.ndarray:
    """Byte offsets of consecutive groups of a varint stream (``sizes[i]``
    values each; one value per group when None), with the end offset."""
    bounds = np.append(varint_value_starts(raw), len(raw))
    return bounds if sizes is None else bounds[np.concatenate(([0], np.cumsum(sizes)))]


def gather(raw: bytes, take: np.ndarray, sizes: np.ndarray | None = None) -> bytes:
    """Byte-gather groups of a varint stream (see ``_group_bounds``) in
    ``take`` order, without decoding."""
    bounds = _group_bounds(raw, sizes)
    starts, lens = bounds[:-1][take], np.diff(bounds)[take]
    idx = (np.repeat(starts - (np.cumsum(lens) - lens), lens)
           + np.arange(int(lens.sum())))
    return np.frombuffer(raw, dtype=np.uint8)[idx].tobytes()


def split(buf: bytes, lens: np.ndarray) -> np.ndarray:
    """Cut ``buf`` into consecutive payloads of ``lens`` bytes (object array)."""
    ends = np.cumsum(lens)
    return np.array([buf[s:e] for s, e in zip((ends - lens).tolist(), ends.tolist())],
                    dtype=object)


def split_groups(raw: bytes, sizes: np.ndarray) -> np.ndarray:
    """Per-group payloads of a varint stream of ``sizes[i]`` values each."""
    return split(raw, np.diff(_group_bounds(raw, sizes)))


def encode_docs(docs: np.ndarray, starts: np.ndarray) -> np.ndarray:
    """``docs_bin`` payloads of consecutive groups of absolute doc ids
    beginning at ``starts``: deltas restart at each group's first id."""
    deltas = np.diff(docs, prepend=0)
    deltas[starts] = docs[starts]
    buf, off = encode_varint_grouped(deltas.astype(np.uint64), starts)
    return split(buf, np.diff(np.append(off, len(buf))))


def drop_dead(pdf: pd.DataFrame) -> pd.DataFrame:
    """Blocks without their tombstoned docs, as runs. The ``dead`` array
    column (NULL for a clean block) lists each block's dead doc ids; it is
    dropped. A clean block passes through byte for byte, an all-dead block
    is dropped, and a dirty block is re-encoded from its live docs with
    n_docs and skip_first_doc (the run's range id) refreshed. Its other
    block metadata (skip_last_doc, max_tf, min_dl, stored scores) is
    carried unchanged and stale: merge keeps only the run columns and
    re-blocks them, which recomputes every bound under the merged stats."""
    if "dead" not in pdf.columns:
        return pdf
    dead = pdf["dead"].to_numpy(dtype=object)
    pdf = pdf.drop(columns="dead")
    n_dead = np.fromiter((0 if d is None or isinstance(d, float) else len(d)
                          for d in dead), dtype=np.int64, count=len(dead))
    dirty = np.flatnonzero(n_dead)
    if dirty.size == 0:
        return pdf
    sub = pdf.iloc[dirty]
    p = decode(sub)
    # membership of (row, doc) pairs on dense doc codes, so the pair key
    # stays far inside int64 for any doc-id range
    dead_docs = np.concatenate([np.asarray(d, dtype=np.int64) for d in dead[dirty]])
    dead_row = np.repeat(np.arange(dirty.size), n_dead[dirty])
    vals, inv = np.unique(np.concatenate((p.docs, dead_docs)), return_inverse=True)
    n = p.docs.size
    kept = np.flatnonzero(~np.isin(p.row * vals.size + inv[:n],
                                   dead_row * vals.size + inv[n:]))
    counts = np.bincount(p.row[kept], minlength=dirty.size)
    live = counts > 0
    if not live.any():
        return pdf.drop(index=pdf.index[dirty])
    counts = counts[live]
    starts = np.cumsum(counts) - counts
    docs = p.docs[kept]
    pos_counts = _pos_counts(sub, p.row, p.tfs)
    pos_old = sub["pos_bin"].to_numpy(dtype=object)[live]
    pos_new = split_groups(gather(join(sub["pos_bin"]), kept, pos_counts),
                           row_sums(pos_counts[kept], counts))
    refreshed = {
        "n_docs": counts,
        "skip_first_doc": docs[starts],  # blocks are doc-ordered
        "docs_bin": encode_docs(docs, starts),
        "tfs_bin": split_groups(gather(p.raw["tfs"], kept), counts),
        "dls_bin": split_groups(gather(p.raw["dls"], kept), counts),
        "pos_bin": np.where(pd.isna(pos_old), pos_old, pos_new),
    }
    out = pdf.copy()
    for c, v in refreshed.items():
        col = out[c].to_numpy(dtype=object if c.endswith("_bin") else None,
                              copy=True)
        col[dirty[live]] = v
        out[c] = col
    return out.drop(index=out.index[dirty[~live]])
