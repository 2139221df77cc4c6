"""SPIMI-style distributed inverted-index build (SURVEY.md §2.2 B1-B5).

Replaces the reference's single-node 3-thread pipeline
(``Catalog.updateIndex`` -> Select/Parse/IndexTask, ``Catalog.java:97-128``;
Lucene ``IndexWriter`` segment build at ``IndexTask.java:54-88``) with a
Spark-first plan designed for 10^12-file scale:

Stage 1  docs        corpus -> sha256(content) (built-in ``F.sha2``, B1) +
                     deterministic dense doc_id in (repo, path) order
                     (reproduces Lucene's docID-asc tie-break,
                     ``SearchTask.java:63``).
Stage 2  runs        ``mapInPandas`` partition-local SPIMI: tokenize with the
                     configured analyzer (B4) and emit one row per
                     (field, term, doc-range) = a sorted, delta+varint
                     compressed posting RUN, plus per-doc length rows —
                     level 1 of the "two-level (partition-local then
                     global) posting merge".
Stage 3  dictionary  run *summaries* (column-pruned: n_docs/sum_tf only)
                     hash-partitioned on the term's bucket, then grouped
                     by (field, term) -> doc_freq/total_term_freq. One
                     shuffle; each bucket directory is written by one task.
Stage 4  postings    runs hash-partitioned once on (field, bucket) into
                     ``_parallel.sized_partition_count`` tasks (at least
                     defaultParallelism, more as the runs' plan-stat bytes
                     grow; ``term_buckets`` is the on-disk bucket count,
                     not a task count). Inside a task all runs of a term
                     are local, so df(term) and block encoding need NO
                     further shuffle, and each (field, bucket) directory
                     is written by one task (one file). Level 2 of the
                     merge: each term's decoded postings are ordered by
                     absolute doc id — runs of one term can OVERLAP, as a
                     docs-scan partition may pack non-adjacent doc-id files
                     — and cut into ≤block_size-doc blocks with a skip span
                     (min/max doc) and an exact per-block max BM25 score
                     (block-max WAND metadata).

Hot-term skew: a term appearing in every doc ("the", "def") is never a
single reducer row — its postings stay split across doc-range runs and
blocks; the only per-term single-point work is the tiny dictionary sum.

Every stage writes parquet + a lineage manifest (checkpoint/resume — see
``catalog.py``).
"""

from __future__ import annotations

import hashlib
from dataclasses import dataclass

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.types import (BinaryType, DoubleType, IntegerType, LongType,
                               StringType, StructField, StructType)

from xltsearch_spark.analyzers import analyze_flat, doc_lengths
from xltsearch_spark.config import IndexConfig
from xltsearch_spark.functions import blocks
from xltsearch_spark.functions.varint import (encode_deltas, encode_varint,
                                              encode_varint_grouped)
from xltsearch_spark.operators._parallel import sized_partition_count
from xltsearch_spark.plans import scoring

ANALYZED_FIELDS = ("content", "title")
KEYWORD_FIELDS = ("repo", "path", "commit", "lang", "hashsum",
                  "format", "parse_status")
# multi-valued metadata column: map<string, array<string>> — the reference's
# 29 Tika metadata fields (Config.java:112-144) are indexed as MULTIPLE
# analyzed field instances per doc (IndexTask.java:74-78); each map key k
# becomes searchable field "meta.<k>" with instance positions offset by
# position_increment_gap and dl = total kept tokens across instances.
META_COL = "meta"
META_FIELD_PREFIX = "meta."

RUN_SCHEMA = StructType([
    StructField("field", StringType()),
    StructField("term", StringType()),      # NULL => per-doc length row
    StructField("range_id", LongType()),
    StructField("bucket", IntegerType()),
    StructField("n_docs", IntegerType()),
    StructField("docs_bin", BinaryType()),  # delta+varint doc ids
    StructField("tfs_bin", BinaryType()),   # varint term freqs (or dl for NULL-term rows)
    StructField("dls_bin", BinaryType()),   # varint per-doc field lengths
    StructField("pos_bin", BinaryType()),   # varint within-doc position deltas
    StructField("sum_tf", LongType()),
])

POSTING_SCHEMA = StructType([
    StructField("field", StringType()),
    StructField("term", StringType()),
    StructField("bucket", IntegerType()),
    StructField("block_id", LongType()),
    StructField("n_docs", IntegerType()),
    StructField("skip_first_doc", LongType()),
    StructField("skip_last_doc", LongType()),
    StructField("block_max_score", DoubleType()),
    # exact per-block score FLOOR: lets the engine seed the WAND threshold
    # tau from metadata alone (a full block of n_docs >= k proves the k-th
    # best score >= block_min_score), skipping the probe-scoring job
    StructField("block_min_score", DoubleType()),
    # stats-independent bound ingredients: an upper bound that stays valid
    # after incremental updates shift N/df/avgdl (block_max_score is exact
    # only for the stats at build time)
    StructField("max_tf", LongType()),
    StructField("min_dl", LongType()),
    StructField("docs_bin", BinaryType()),
    StructField("tfs_bin", BinaryType()),
    StructField("dls_bin", BinaryType()),
    StructField("pos_bin", BinaryType()),
])


def term_bucket(term: pd.Series | np.ndarray, n_buckets: int) -> np.ndarray:
    """Deterministic term -> bucket hash (stable across runs/languages)."""
    s = pd.Series(term, dtype=object).fillna("")
    # bucket = little-endian uint32 of MD5(utf-8(term))[:4] mod n_buckets —
    # part of the persisted index layout: readers MUST reproduce this exact
    # function to prune (field, bucket) partitions. Computed once per unique
    # term per batch (hashlib on uniques, mapped back vectorized).
    uniq = pd.unique(s)
    m = {t: int.from_bytes(hashlib.md5(str(t).encode("utf-8")).digest()[:4], "little") % n_buckets
         for t in uniq}
    return s.map(m).to_numpy(dtype=np.int32)


def assign_doc_ids(df: DataFrame, key_cols=("repo", "path"), id_base: int = 0,
                   out_count: list | None = None) -> DataFrame:
    """Deterministic dense doc_id in key sort order, without a global window.

    Range-partition + sort, persist (pins the sampled range bounds), count
    per partition (tiny collect), then doc_id = per-partition offset +
    within-partition row number — the scalable equivalent of sort +
    zipWithIndex. A single ``row_number()`` window would serialize on one
    task at 10^12 rows.

    The id arithmetic is PURE JVM: ``monotonically_increasing_id`` packs
    the within-partition record number in its low 33 bits (documented
    layout), and the per-partition offsets ride a literal array indexed by
    ``spark_partition_id`` (O(1) ``element_at``; n_parts longs in the
    plan). The previous implementation did the same arithmetic inside a
    ``mapInPandas``, which round-tripped the ENTIRE corpus — content
    columns included — through Arrow to a Python worker and back just to
    add one int64 column; at 100 TB that is the whole input crossing the
    JVM/Python boundary twice for no computation (guide §4: eliminate the
    boundary when built-ins exist).

    The input is persisted across the two jobs range partitioning implies
    (boundary sampling + the shuffle): without it the child plan — at this
    point the full parse/sha256 prep over the corpus — would EXECUTE TWICE,
    a 2x compute/IO amplification of stage 1 at 100 TB. The cache is
    released as soon as the sorted frame is materialized by the counts
    collect, so the transient footprint is one corpus copy (the same rows
    the shuffle writes anyway); under eviction pressure a recompute falls
    back to lineage — correct, just slower.
    """
    n_parts = max(df.sparkSession.sparkContext.defaultParallelism, 8)
    sl = df.storageLevel
    caller_cached = sl.useMemory or sl.useDisk or sl.useOffHeap
    if not caller_cached:
        df = df.persist()
    sorted_df = df.repartitionByRange(n_parts, *[F.col(c) for c in key_cols]) \
                  .sortWithinPartitions(*key_cols).persist()
    counts = {r["pid"]: r["cnt"] for r in
              sorted_df.withColumn("pid", F.spark_partition_id())
                       .groupBy("pid").agg(F.count("*").alias("cnt")).collect()}
    if not caller_cached:
        # sorted_df is materialized and the input is never re-read; only
        # release a cache THIS function created — a caller's own persist
        # must survive the call
        df.unpersist()
    offsets = []
    acc = id_base
    for pid in range(max(counts, default=-1) + 1):
        offsets.append(acc)
        acc += counts.get(pid, 0)
    if out_count is not None:
        out_count.append(acc - id_base)  # total rows: saves a later count job
    if not offsets:
        offsets = [id_base]
    off_arr = F.array(*[F.lit(int(o)).cast("long") for o in offsets])
    row_in_part = F.monotonically_increasing_id().bitwiseAND(
        F.lit((1 << 33) - 1))
    doc_id = (F.element_at(off_arr, F.spark_partition_id() + 1)
              + row_in_part).cast("long")
    return sorted_df.withColumn("doc_id", doc_id)


@dataclass
class BuildStats:
    n_docs: int
    avgdl: dict[str, float]
    sum_ttf: dict[str, int]


def make_tokenize_udf(config: IndexConfig, fields_present: list[str]):
    """mapInPandas generator: doc batches -> posting runs + doc-length rows."""
    range_size = config.doc_range_size
    n_buckets = config.term_buckets
    analyzed = [f for f in ANALYZED_FIELDS if f in fields_present]
    keywords = [f for f in KEYWORD_FIELDS if f in fields_present]
    has_meta = META_COL in fields_present
    profile = config.analyzer
    max_tok = config.max_token_length
    gap = config.position_increment_gap

    def tokenize(it):
        for pdf in it:
            doc_ids = pdf["doc_id"].to_numpy(dtype=np.int64)
            out_rows = []
            for field in analyzed:
                flat = analyze_flat(pdf[field], profile, max_tok)
                dl = doc_lengths(flat, len(pdf))
                # per-doc length rows (term NULL), grouped by doc range
                _emit_dl_rows(out_rows, field, doc_ids, dl, range_size)
                if len(flat) == 0:
                    continue
                rows = flat["row"].to_numpy(dtype=np.int64)
                terms = flat["term"].to_numpy(dtype=object)
                pos = flat["pos"].to_numpy(dtype=np.int64)
                _emit_runs(out_rows, field, terms, doc_ids[rows], pos, dl, rows,
                           range_size, n_buckets)
            for field in keywords:
                vals = pdf[field].fillna("").astype(str).to_numpy(dtype=object)
                mask = vals != ""
                docs = doc_ids[mask]
                dl1 = mask.astype(np.int64)
                _emit_dl_rows(out_rows, field, doc_ids, dl1, range_size)
                if docs.size:
                    pos0 = np.zeros(docs.size, dtype=np.int64)
                    dl_k = np.ones(len(pdf), dtype=np.int64)
                    _emit_runs(out_rows, field, vals[mask], docs, pos0, dl_k,
                               np.nonzero(mask)[0], range_size, n_buckets)
            if has_meta:
                _emit_meta_fields(out_rows, pdf, doc_ids, profile, max_tok,
                                  gap, range_size, n_buckets)
            if out_rows:
                yield pd.DataFrame(out_rows, columns=[f.name for f in RUN_SCHEMA.fields])

    return tokenize


def _meta_items(m):
    """Normalize one meta cell: Arrow map -> list[(k, v)], dict -> items."""
    if m is None:
        return ()
    if isinstance(m, dict):
        return m.items()
    return m  # pyarrow MapType converts to a list of (key, value) tuples


def _emit_meta_fields(out_rows, pdf, doc_ids, profile, max_tok, gap,
                      range_size, n_buckets):
    """Tokenize multi-valued metadata: per map key k, every value is an
    analyzed field INSTANCE of field "meta.<k>"; instance i's positions are
    offset by sum of previous instances' kept spans + gap (Lucene's
    positionIncrementGap between repeated fields); dl = kept tokens across
    all instances (what BM25 length-normalizes on)."""
    md = pdf[META_COL]
    per_name: dict[str, tuple[list[int], list[str]]] = {}
    for i, cell in enumerate(md):
        for k, vals in _meta_items(cell):
            if vals is None:
                continue
            rows_l, texts_l = per_name.setdefault(k, ([], []))
            for v in vals:
                if v is not None:
                    rows_l.append(i)
                    texts_l.append(v)
    for name in sorted(per_name):
        rows_l, texts_l = per_name[name]
        field = META_FIELD_PREFIX + name
        flat = analyze_flat(pd.Series(texts_l, dtype=object), profile, max_tok)
        inst_doc = np.asarray(rows_l, dtype=np.int64)  # instance -> pdf row
        spans = np.zeros(len(texts_l), dtype=np.int64)
        if len(flat):
            fr = flat["row"].to_numpy(dtype=np.int64)
            fp = flat["pos"].to_numpy(dtype=np.int64)
            np.maximum.at(spans, fr, fp + 1)
        # per-instance position offset: prefix sum of (span + gap), reset per doc
        cs = np.concatenate(([0], np.cumsum(spans + gap)[:-1]))
        starts = np.concatenate(([True], inst_doc[1:] != inst_doc[:-1]))
        grp_idx = np.nonzero(starts)[0]
        base = np.repeat(cs[grp_idx], np.diff(np.append(grp_idx, len(texts_l))))
        offs = cs - base
        dl_doc = np.zeros(len(pdf), dtype=np.int64)
        if len(flat):
            keep = ~flat["overlap"].to_numpy(dtype=bool)
            np.add.at(dl_doc, inst_doc[fr[keep]], 1)
        _emit_dl_rows(out_rows, field, doc_ids, dl_doc, range_size)
        if len(flat):
            tok_doc_row = inst_doc[fr]               # token -> pdf row
            pos_new = fp + offs[fr]
            _emit_runs(out_rows, field, flat["term"].to_numpy(dtype=object),
                       doc_ids[tok_doc_row], pos_new, dl_doc, tok_doc_row,
                       range_size, n_buckets)


def _emit_dl_rows(out_rows, field, doc_ids, dl, range_size):
    ranges = doc_ids // range_size
    for rid in np.unique(ranges):
        m = ranges == rid
        d, l = doc_ids[m], np.asarray(dl)[m]
        out_rows.append((field, None, int(rid), int(rid % 2**31), int(d.size),
                         encode_deltas(d), encode_varint(l.astype(np.uint64)),
                         None, None, int(l.sum())))


def _emit_runs(out_rows, field, terms, docs, pos, dl_per_row, rows,
               range_size, n_buckets):
    """Vectorized SPIMI: flat (term, doc, pos) -> one encoded run per
    (term, doc-range). The entire partition is encoded with FOUR batched
    varint calls (doc deltas / tfs / dls / position deltas); the only Python
    loop slices per-group byte ranges out of the shared buffers."""
    dl_arr = np.asarray(dl_per_row, dtype=np.int64)
    ranges = docs // range_size
    buckets = term_bucket(terms, n_buckets)
    # sort/group on factorized int codes — NEVER materialize a numpy unicode
    # array (itemsize = 4 x longest term would cost ~200MB per task and
    # saturate memory bandwidth across 32 concurrent workers)
    codes = pd.factorize(terms, use_na_sentinel=False)[0]
    order = np.lexsort((pos, docs, codes))
    terms, docs, pos, ranges, buckets, rows, codes = (
        terms[order], docs[order], pos[order], ranges[order], buckets[order],
        rows[order], codes[order])
    n = len(terms)
    # group boundaries at (term, range) change — token-stream index space
    new_grp = np.empty(n, dtype=bool)
    new_grp[0] = True
    new_grp[1:] = (codes[1:] != codes[:-1]) | (ranges[1:] != ranges[:-1])
    grp_starts = np.nonzero(new_grp)[0]
    grp_ends = np.append(grp_starts[1:], n)
    # doc-entry boundaries (a (group, doc) pair) — token-stream index space
    new_doc = new_grp.copy()
    new_doc[1:] |= docs[1:] != docs[:-1]
    doc_starts = np.nonzero(new_doc)[0]
    doc_ends = np.append(doc_starts[1:], n)
    tf = (doc_ends - doc_starts).astype(np.uint64)          # per doc-entry
    d_vals = docs[doc_starts]
    d_dls = dl_arr[rows[doc_starts]].astype(np.uint64)
    # group starts in doc-entry index space (every group start IS a doc start)
    grp_doc_starts = np.searchsorted(doc_starts, grp_starts)
    grp_doc_ends = np.append(grp_doc_starts[1:], doc_starts.size)
    # doc-id deltas, reset to absolute at each group start
    deltas = np.empty(d_vals.size, dtype=np.int64)
    deltas[0] = d_vals[0]
    deltas[1:] = d_vals[1:] - d_vals[:-1]
    deltas[grp_doc_starts] = d_vals[grp_doc_starts]
    # per-token position deltas, reset to absolute at each doc-entry start
    pos_delta = np.empty(n, dtype=np.int64)
    pos_delta[0] = pos[0]
    pos_delta[1:] = pos[1:] - pos[:-1]
    pos_delta[doc_starts] = pos[doc_starts]
    # FOUR batched encodes for the whole partition
    docs_buf, docs_off = encode_varint_grouped(deltas.astype(np.uint64), grp_doc_starts)
    tfs_buf, tfs_off = encode_varint_grouped(tf, grp_doc_starts)
    dls_buf, dls_off = encode_varint_grouped(d_dls, grp_doc_starts)
    pos_buf, pos_off = encode_varint_grouped(pos_delta.astype(np.uint64), grp_starts)
    docs_end = np.append(docs_off[1:], len(docs_buf))
    tfs_end = np.append(tfs_off[1:], len(tfs_buf))
    dls_end = np.append(dls_off[1:], len(dls_buf))
    pos_end = np.append(pos_off[1:], len(pos_buf))
    n_docs_g = grp_doc_ends - grp_doc_starts
    sum_tf_g = grp_ends - grp_starts
    for g in range(grp_starts.size):
        s = grp_starts[g]
        out_rows.append((field, terms[s], int(ranges[s]), int(buckets[s]),
                         int(n_docs_g[g]),
                         docs_buf[docs_off[g]:docs_end[g]],
                         tfs_buf[tfs_off[g]:tfs_end[g]],
                         dls_buf[dls_off[g]:dls_end[g]],
                         pos_buf[pos_off[g]:pos_end[g]],
                         int(sum_tf_g[g])))


def make_block_to_run_udf():
    """Posting BLOCKS -> synthesized RUNS, for segment MERGING (Lucene
    forceMerge without retokenization — IndexWriter merges postings, it
    does not re-analyze). Blocks and runs share one delta/varint format,
    so ``blocks.drop_dead`` yields the run payloads: clean blocks
    byte-for-byte, dirty ones without their tombstoned docs.
    ``range_id := skip_first_doc``; the postings stage re-blocks them
    (``make_block_udf`` orders each term's postings by doc id itself)
    with exact bounds under the merged stats."""

    cols = [f.name for f in RUN_SCHEMA.fields]

    def conv(it):
        for pdf in it:
            pdf = blocks.drop_dead(pdf)
            if len(pdf):
                p = blocks.decode(pdf, ("tfs",))
                pdf["sum_tf"] = blocks.row_sums(p.tfs, p.counts)
                yield pdf.rename(columns={"skip_first_doc": "range_id"})[cols]

    return conv


def make_block_udf(config: IndexConfig, n_docs: int, avgdl: dict[str, float]):
    """mapInPandas over bucket partitions: merge each term's runs into one
    doc-id-ordered posting list and emit fixed-size blocks with exact
    block-max score metadata. All runs of a term are guaranteed local
    (bucket hash); they may overlap in doc ids (see Stage 4 above).

    Block max/min scores are computed under the CONFIGURED similarity —
    exactly Lucene, where the IndexWriterConfig's Similarity shapes the
    index-time norms (IndexTask.java:57): a ``scoring_model="default"``
    index stores TF-IDF per-term scores (sqrt(tf) * idf^2 * norm(dl)), a
    BM25 index stores BM25 ones, and quantize_norms participates either
    way. The catalog builds and queries under one config, so its engines
    trust the metadata for WAND pruning (``SearchEngine(blocks_exact=)``)
    while a single segment exists; an engine that scores frames built
    under another model or quantization passes ``blocks_exact=False``.

    Fully batch-vectorized: ONE ``blocks.decode`` of the whole partition
    (one varint decode per stream, segmented cumsum for absolute doc ids;
    scores through ``scoring.score_freq``), one ``lexsort`` for
    the per-term doc order (with a byte gather of the tf/dl/pos payloads
    when it moves anything), ``reduceat`` for block max/min metadata,
    byte-slicing (no re-encode) for tf/dl/pos payloads; only doc-id deltas
    are re-encoded (blocks must restart at an absolute id). Python touches
    blocks only to slice their payloads."""
    k1, b, quantize = config.k1, config.b, config.quantize_norms
    model = config.scoring_model
    block = config.block_size

    def to_blocks(it):
        chunks = list(it)
        if not chunks:
            return
        pdf = pd.concat(chunks, ignore_index=True)
        del chunks
        # group runs by (field, term); the doc order inside a term is set
        # after the decode. Factorized int codes, never unicode arrays.
        fields = pdf["field"].to_numpy(dtype=object)
        terms = pdf["term"].to_numpy(dtype=object)
        fcodes = pd.factorize(fields, use_na_sentinel=False)[0]
        tcodes = pd.factorize(terms, use_na_sentinel=False)[0]
        order = np.lexsort((tcodes, fcodes))
        pdf = pdf.iloc[order].reset_index(drop=True)
        fcodes, tcodes = fcodes[order], tcodes[order]
        fields = pdf["field"].to_numpy(dtype=object)
        terms = pdf["term"].to_numpy(dtype=object)
        buckets = pdf["bucket"].to_numpy(dtype=np.int64)
        nd = pdf["n_docs"].to_numpy(dtype=np.int64)
        R = len(pdf)
        D = int(nd.sum())
        if D == 0:
            return
        run_doc_starts = np.concatenate(([0], np.cumsum(nd)[:-1]))
        p = blocks.decode(pdf)
        abs_ids, tfs, dls = p.docs, p.tfs, p.dls
        tfs_raw, dls_raw = p.raw["tfs"], p.raw["dls"]
        pos_raw = blocks.join(pdf["pos_bin"])
        # ---- term groups (runs are grouped by term) ----
        new_term_run = np.empty(R, dtype=bool)
        new_term_run[0] = True
        new_term_run[1:] = (tcodes[1:] != tcodes[:-1]) | (fcodes[1:] != fcodes[:-1])
        term_run_idx = np.nonzero(new_term_run)[0]
        term_doc_starts = run_doc_starts[term_run_idx]
        term_doc_counts = np.diff(np.append(term_doc_starts, D))
        tidx = np.repeat(np.arange(term_run_idx.size), term_doc_counts)
        # ---- doc-id order within each term ----
        # runs of one term may interleave (Stage 4 above): order the
        # term's postings by absolute doc id and carry the per-doc tf, dl
        # and position bytes along, so every block is strictly increasing
        # and its skip span is its min/max doc
        perm = np.lexsort((abs_ids, tidx))
        if np.any(perm != np.arange(D)):
            tok_counts = tfs
            abs_ids, tfs, dls = abs_ids[perm], tfs[perm], dls[perm]
            tfs_raw = blocks.gather(tfs_raw, perm)
            dls_raw = blocks.gather(dls_raw, perm)
            pos_raw = blocks.gather(pos_raw, perm, tok_counts)
        # per-term scoring constants through the engine's own scalar idf
        # (one call per distinct df) and per-posting score_freq, so every
        # stored bound is exactly a score the engine decodes
        uniq_df, df_inv = np.unique(term_doc_counts, return_inverse=True)
        idf_t = np.array([scoring.idf(model, n_docs, int(d)) for d in uniq_df])[df_inv]
        run_fields = fields[term_run_idx]
        ad_map = {f: (avgdl.get(f, 1.0) or 1.0) for f in pd.unique(run_fields)}
        ad_t = pd.Series(run_fields).map(ad_map).to_numpy(dtype=np.float64)
        scores = scoring.score_freq(model, tfs, dls, idf_t[tidx], ad_t[tidx],
                                    k1, b, quantize)
        # ---- block boundaries (within-term, never spanning terms) ----
        w = np.arange(D) - np.repeat(term_doc_starts, term_doc_counts)
        blk_starts = np.nonzero(w % block == 0)[0]
        blk_n = np.diff(np.append(blk_starts, D))
        t = term_run_idx[tidx[blk_starts]]
        # block metadata via segment reductions; tf/dl/pos payloads are
        # byte slices of the raw streams, only doc-id deltas re-encode
        out = pd.DataFrame({
            "field": fields[t], "term": terms[t], "bucket": buckets[t],
            "block_id": w[blk_starts] // block, "n_docs": blk_n,
            "skip_first_doc": abs_ids[blk_starts],
            "skip_last_doc": abs_ids[blk_starts + blk_n - 1],
            "block_max_score": np.maximum.reduceat(scores, blk_starts),
            "block_min_score": np.minimum.reduceat(scores, blk_starts),
            "max_tf": np.maximum.reduceat(tfs, blk_starts),
            "min_dl": np.minimum.reduceat(dls, blk_starts),
            "docs_bin": blocks.encode_docs(abs_ids, blk_starts),
            "tfs_bin": blocks.split_groups(tfs_raw, blk_n),
            "dls_bin": blocks.split_groups(dls_raw, blk_n),
            "pos_bin": blocks.split_groups(pos_raw, blocks.row_sums(tfs, blk_n))})
        for j in range(0, len(out), 50000):
            yield out.iloc[j:j + 50000]

    return to_blocks


class IndexBuilder:
    """Orchestrates the staged build. Used directly (in-memory DataFrames)
    or through ``catalog.IndexCatalog`` (persisted + checkpoint/resume)."""

    def __init__(self, spark: SparkSession, config: IndexConfig | None = None):
        self.spark = spark
        self.config = config or IndexConfig()

    def docs_stage(self, corpus: DataFrame, id_base: int = 0) -> DataFrame:
        """Stage 1: hashsum (B1, ``SelectTask.java:165-178`` w/ sha256 per
        BASELINE.json) + deterministic doc ids (dense from ``id_base`` in
        (repo, path) order — incremental segments pass maxDoc as the base,
        replicating Lucene's append-docids-at-the-end updateDocument).
        Pure built-in exprs."""
        df = corpus
        if "title" not in df.columns:
            df = df.withColumn("title", F.lit(None).cast("string"))
        if "hashsum" not in df.columns:
            # over the RAW content, before any parse: the sha256 row
            # invariant hashes input bytes (SelectTask.java:165-178)
            df = df.withColumn("hashsum", F.sha2(F.col("content").cast("binary"), 256))
        if self.config.parse_content:
            # B3 Tika stage inside the pipeline (ParseTask.java:55-77):
            # markup -> text. Failure contract per config.parse_keep_failed:
            # default = reference parity (failed docs skipped entirely,
            # IndexTask's `case PASS: break;`); True = metadata-only rows
            # survive as a documented extension.
            from xltsearch_spark.operators.parse import extract_text
            df = extract_text(df, "content", out_col="_extracted")
            if not self.config.parse_keep_failed:
                df = df.filter(F.col("parse_ok"))
            df = (df.withColumn("content", F.col("_extracted"))
                  .withColumn("parse_status",
                              F.when(F.col("parse_ok"), F.lit("ok"))
                              .otherwise(F.lit("failed")))
                  .drop("_extracted", "parse_ok"))
        cnt: list = []
        out = assign_doc_ids(df, id_base=id_base, out_count=cnt)
        self._last_doc_count = cnt[0] if cnt else None
        return out

    def runs_stage(self, docs: DataFrame) -> DataFrame:
        fields = docs.columns
        udf = make_tokenize_udf(self.config, fields)
        return docs.mapInPandas(udf, schema=RUN_SCHEMA)

    def dictionary_stage(self, runs: DataFrame) -> DataFrame:
        # explicit projection before the exchange (guide §2.3): the binary
        # posting payloads must never ride the dictionary shuffle. The
        # bucket is a function of the term, so hashing on it alone serves
        # both the (field, term) grouping and the bucket-partitioned write
        summ = (runs.select("field", "term", "bucket", "n_docs", "sum_tf")
                .filter(F.col("term").isNotNull()))
        return (summ.repartition(sized_partition_count(summ), "bucket")
                .groupBy("bucket", "field", "term")
                .agg(F.sum("n_docs").cast("long").alias("doc_freq"),
                     F.sum("sum_tf").cast("long").alias("total_term_freq"))
                .select("field", "term", "bucket", "doc_freq", "total_term_freq"))

    def stats_stage(self, docs: DataFrame, runs: DataFrame,
                    n_docs: int | None = None) -> BuildStats:
        if n_docs is None:
            n_docs = getattr(self, "_last_doc_count", None)
        if n_docs is None:
            n_docs = docs.count()
        ttf_rows = (runs.filter(F.col("term").isNotNull())
                    .groupBy("field").agg(F.sum("sum_tf").alias("ttf")).collect())
        sum_ttf = {r["field"]: int(r["ttf"]) for r in ttf_rows}
        avgdl = {f: (v / n_docs if n_docs else 1.0) or 1.0 for f, v in sum_ttf.items()}
        return BuildStats(n_docs=n_docs, avgdl=avgdl, sum_ttf=sum_ttf)

    def postings_stage(self, runs: DataFrame, stats: BuildStats) -> DataFrame:
        terms = runs.filter(F.col("term").isNotNull())
        shuffled = terms.repartition(sized_partition_count(terms), "field", "bucket")
        udf = make_block_udf(self.config, stats.n_docs, stats.avgdl)
        return shuffled.mapInPandas(udf, schema=POSTING_SCHEMA)

    def doc_norms(self, runs: DataFrame) -> DataFrame:
        """Per-(field, doc) lengths from the NULL-term rows (doc_stats table)."""
        dl_schema = StructType([
            StructField("field", StringType()), StructField("doc_id", LongType()),
            StructField("dl", LongType()),
        ])

        def explode_dl(it):
            for pdf in it:
                p = blocks.decode(pdf, ("docs", "tfs"))
                if p.row.size:
                    yield pd.DataFrame({
                        "field": pdf["field"].to_numpy(dtype=object)[p.row],
                        "doc_id": p.docs, "dl": p.tfs})

        return runs.filter(F.col("term").isNull()).mapInPandas(explode_dl, schema=dl_schema)
