"""Posting codec + norm quantization invariants (SURVEY.md §5.5)."""

import numpy as np
import pandas as pd
from hypothesis import given, settings, strategies as st

from xltsearch_spark.functions import blocks
from xltsearch_spark.functions.norms import (byte315_to_float, encode_doc_length,
                                             float_to_byte315, quantized_doc_length)
from xltsearch_spark.functions.varint import (decode_deltas, decode_varint,
                                              encode_deltas, encode_varint,
                                              varint_value_starts)


def test_float_to_byte315_known_values():
    # SmallFloat.floatToByte315(1.0f) == 124 (public Lucene semantics)
    assert float_to_byte315(np.array([1.0], dtype=np.float32))[0] == 124
    assert float_to_byte315(np.array([0.0], dtype=np.float32))[0] == 0
    # tiny positive saturates to 1, huge to 255
    assert float_to_byte315(np.array([1e-30], dtype=np.float32))[0] == 1
    assert float_to_byte315(np.array([1e30], dtype=np.float32))[0] == 255


def test_byte315_roundtrip_idempotent():
    bs = np.arange(256, dtype=np.uint8)
    fs = byte315_to_float(bs)
    assert np.array_equal(float_to_byte315(fs), bs)  # decode->encode = identity


def test_norm_quantization_monotone_and_lossy():
    dl = np.arange(1, 5000)
    q = quantized_doc_length(dl)
    assert q[0] == 1.0
    assert np.all(np.diff(q) >= 0)  # longer docs never decode shorter
    b = encode_doc_length(dl)
    assert len(np.unique(b)) < 80  # 8-bit: coarse buckets, genuinely lossy


@given(st.lists(st.integers(min_value=0, max_value=2**62), max_size=200))
@settings(max_examples=200, deadline=None)
def test_varint_roundtrip(values):
    arr = np.array(values, dtype=np.uint64)
    assert np.array_equal(decode_varint(encode_varint(arr), len(arr)), arr)


@given(st.sets(st.integers(min_value=0, max_value=2**40), max_size=300))
@settings(max_examples=200, deadline=None)
def test_delta_roundtrip_sorted_ids(ids):
    arr = np.array(sorted(ids), dtype=np.uint64)
    out = decode_deltas(encode_deltas(arr), len(arr))
    assert np.array_equal(out, arr.astype(np.int64))


def test_varint_compactness():
    small = np.arange(1000, dtype=np.uint64)  # deltas of sorted dense ids = 1
    assert len(encode_deltas(small)) < 1100  # ~1 byte per id


# ---- the batched posting-block codec (functions/blocks.py) ----------------


def _block(rng, n_docs, pos_mode):
    """One posting block: strictly increasing doc ids up to 2**40, tf >= 1,
    and a positions stream that is NULL, empty or present."""
    docs = np.sort(rng.choice(2**40, size=n_docs, replace=False)).astype(np.int64)
    tfs = rng.integers(1, 5, size=n_docs)
    dls = rng.integers(1, 2**20, size=n_docs)
    pos = [np.cumsum(rng.integers(0, 2**16, size=t)) for t in tfs]
    pos_bin = {"none": None, "empty": b""}.get(pos_mode)
    if pos_mode == "present":
        pos_bin = b"".join(encode_varint(np.diff(p, prepend=0).astype(np.uint64))
                           for p in pos)
    return {"field": "content", "term": f"t{n_docs}", "bucket": 0,
            "block_id": 0, "n_docs": n_docs,
            "skip_first_doc": int(docs[0]), "skip_last_doc": int(docs[-1]),
            "block_max_score": 1.0, "block_min_score": 0.5,
            "max_tf": int(tfs.max()), "min_dl": int(dls.min()),
            "docs_bin": encode_deltas(docs),
            "tfs_bin": encode_varint(tfs.astype(np.uint64)),
            "dls_bin": encode_varint(dls.astype(np.uint64)),
            "pos_bin": pos_bin}


_BATCH = st.lists(st.tuples(st.integers(1, 300),
                            st.sampled_from(["none", "empty", "present"]),
                            st.sampled_from(["null", "empty", "some", "all"])),
                  min_size=2, max_size=6)


def _reference(row):
    """Per-block decode with the scalar varint functions."""
    nd = row["n_docs"]
    docs = decode_deltas(row["docs_bin"], nd)
    tfs = decode_varint(row["tfs_bin"], nd).astype(np.int64)
    dls = decode_varint(row["dls_bin"], nd).astype(np.int64)
    spans, pos = [], []
    if row["pos_bin"]:
        starts = np.append(varint_value_starts(row["pos_bin"]), len(row["pos_bin"]))
        cum = np.concatenate(([0], np.cumsum(tfs)))
        spans = [row["pos_bin"][starts[cum[i]]:starts[cum[i + 1]]] for i in range(nd)]
        vals = decode_varint(row["pos_bin"]).astype(np.int64)
        pos = [np.cumsum(vals[cum[i]:cum[i + 1]]) for i in range(nd)]
    return docs, tfs, dls, spans, pos


@given(_BATCH, st.integers(0, 2**32 - 1))
@settings(max_examples=60, deadline=None)
def test_batched_decode_matches_per_block_decode(shape, seed):
    rng = np.random.default_rng(seed)
    pdf = pd.DataFrame([_block(rng, n, pm) for n, pm, _ in shape])
    p = blocks.decode(pdf, ("docs", "tfs", "dls", "pos"))
    blobs = blocks.position_blobs(p)
    for i, row in pdf.iterrows():
        docs, tfs, dls, _, pos = _reference(row)
        mine = p.row == i
        assert np.array_equal(p.docs[mine], docs)
        assert np.array_equal(p.tfs[mine], tfs)
        assert np.array_equal(p.dls[mine], dls)
        got = [blobs[j] for j in np.flatnonzero(mine)]
        if row["pos_bin"]:
            assert got == [x.astype(np.int64).tobytes() for x in pos]
        else:
            assert got == [None] * row["n_docs"]
    sums = blocks.row_sums(p.tfs, p.counts)
    assert sums.tolist() == [int(_reference(r)[1].sum()) for _, r in pdf.iterrows()]


_RUN_COLS = ("field", "term", "bucket", "n_docs", "skip_first_doc",
             "docs_bin", "tfs_bin", "dls_bin", "pos_bin")


@given(_BATCH, st.integers(0, 2**32 - 1))
@settings(max_examples=60, deadline=None)
def test_drop_dead_matches_per_block_reference(shape, seed):
    rng = np.random.default_rng(seed)
    # the first block is always clean and the second always all-dead
    shape = [shape[0][:2] + ("null",), shape[1][:2] + ("all",)] + shape[2:]
    rows, dead = [], []
    for n, pm, dm in shape:
        row = _block(rng, n, pm)
        docs = decode_deltas(row["docs_bin"], n)
        foreign = rng.integers(0, 2**40, size=2)  # ids outside the block
        dead.append({"null": None, "empty": np.zeros(0, np.int64),
                     "all": np.concatenate((docs, foreign)),
                     "some": np.concatenate((rng.choice(docs, size=rng.integers(1, n + 1)),
                                             foreign))}[dm])
        rows.append(row)
    pdf = pd.DataFrame(rows)
    pdf["dead"] = pd.Series(dead, dtype=object)
    out = blocks.drop_dead(pdf)
    assert "dead" not in out.columns
    expected = []
    for i, row in pdf.iterrows():
        docs, tfs, dls, spans, _ = _reference(row)
        d = dead[i]
        if d is None or len(d) == 0:
            expected.append(row.drop("dead").to_dict())  # byte-identical copy
            continue
        keep = ~np.isin(docs, d)
        if not keep.any():
            continue  # all-dead: dropped
        k = np.flatnonzero(keep)
        pos_bin = row["pos_bin"]
        if pos_bin:
            pos_bin = b"".join(spans[j] for j in k)
        expected.append({
            **row.drop("dead").to_dict(), "n_docs": int(k.size),
            "skip_first_doc": int(docs[k].min()),
            "docs_bin": encode_deltas(docs[k]),
            "tfs_bin": encode_varint(tfs[k].astype(np.uint64)),
            "dls_bin": encode_varint(dls[k].astype(np.uint64)),
            "pos_bin": pos_bin})
    got = [{c: (v.item() if hasattr(v, "item") else v) for c, v in r.items()}
           for r in out.to_dict("records")]
    # a dirty block promises only its run columns (merge's RUN_SCHEMA
    # input); its other block metadata is carried stale
    assert [{c: r[c] for c in _RUN_COLS} for r in got] == \
        [{c: r[c] for c in _RUN_COLS} for r in expected]
    assert got[0] == expected[0]  # clean: the whole row passes through
    assert got[0]["docs_bin"] is pdf["docs_bin"][0]


_POSTING_MARKERS = {"docs_bin", "tfs_bin", "dls_bin", "pos_bin",
                    "decode_varint", "decode_deltas", "blocks"}


def _row_loop_posting_readers(path):
    """Functions of ``path`` that touch posting payloads (a posting column,
    a varint decode or the block module) and iterate rows."""
    import ast
    found = []
    for fn in ast.walk(ast.parse(path.read_text())):
        if not isinstance(fn, (ast.FunctionDef, ast.AsyncFunctionDef)):
            continue
        names = set()
        for n in ast.walk(fn):
            if isinstance(n, ast.Attribute):
                names.add(n.attr)
            elif isinstance(n, ast.Name):
                names.add(n.id)
            elif isinstance(n, ast.Constant) and isinstance(n.value, str):
                names.add(n.value)
        if names & {"itertuples", "iterrows"} and names & _POSTING_MARKERS:
            found.append(f"{path.name}:{fn.lineno} {fn.name}")
    return found


def test_no_row_loop_posting_readers():
    """Posting-block readers in the operators and the catalog decode a
    batch at a time through functions/blocks.py, never row by row."""
    import pathlib
    pkg = pathlib.Path(__file__).resolve().parents[1] / "xltsearch_spark"
    paths = sorted((pkg / "operators").glob("*.py")) + [pkg / "catalog.py"]
    assert len(paths) > 10
    found = [f for p in paths for f in _row_loop_posting_readers(p)]
    assert found == []
