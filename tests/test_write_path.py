"""Index write path: doc-ordered posting blocks under the default config,
partitioned stage writes sized to their input (one file per directory, a
bounded number of jobs), and manifest row counts observed on the write."""

import glob
import json
import os

import numpy as np
import pandas as pd
import pytest

from xltsearch_spark.catalog import IndexCatalog
from xltsearch_spark.config import INDEX_INVALIDATED, IndexConfig
from xltsearch_spark.functions.varint import decode_deltas
from xltsearch_spark.operators.build import (POSTING_SCHEMA, make_block_udf,
                                             make_tokenize_udf)
from xltsearch_spark.oracle.pyoracle import OracleIndex
from xltsearch_spark.sources.corpus import generate_corpus
from xltsearch_spark.sources.table_store import (ParquetFilesystemStore,
                                                 SnapshotParquetStore)

N_DOCS = 200
HOT = "flush"          # a filler word in about a third of the docs
STAGES = ("docs", "runs", "dictionary", "doc_stats", "postings")
# Spark jobs of the merge below: 29 on local[4]; 53 while every stage
# write re-read its table to count rows
MERGE_JOBS = 36


@pytest.fixture(scope="module")
def corpora():
    return generate_corpus(N_DOCS, 0, 1), generate_corpus(N_DOCS, 0, 2)


@pytest.fixture()
def packed_reads(spark):
    """Read the docs stage back in a few scan partitions, so one partition
    packs non-adjacent doc-id files, as a local[4] session does with its
    defaults (the input shape that made a term's runs overlap)."""
    key = "spark.sql.files.minPartitionNum"
    old = spark.conf.get(key, None)
    spark.conf.set(key, "2")
    yield
    if old is None:
        spark.conf.unset(key)
    else:
        spark.conf.set(key, old)


def _bad_blocks(postings: pd.DataFrame) -> list[tuple[str, str, int]]:
    """Blocks whose doc ids are not strictly increasing or whose skip span
    is not their min/max doc."""
    bad = []
    for r in postings.itertuples(index=False):
        d = decode_deltas(r.docs_bin, int(r.n_docs))
        if (np.any(np.diff(d) <= 0) or r.skip_first_doc != d.min()
                or r.skip_last_doc != d.max()):
            bad.append((r.field, r.term, int(r.block_id)))
    return bad


def _stage_postings(spark, cat) -> pd.DataFrame:
    """The postings table of the index's newest segment."""
    seg = cat.read_meta()["segments"][-1]["name"]
    return spark.read.parquet(cat._stage_dir(seg, "postings")).toPandas()


def test_block_encoder_orders_overlapping_runs(corpora):
    """Runs of one term from two partitions that interleave in doc ids
    (0-24 + 150-174 in one, the rest in the other) encode to exactly the
    blocks of a single in-order partition."""
    v1, _ = corpora
    cfg = IndexConfig()
    docs = v1.assign(doc_id=np.arange(N_DOCS, dtype=np.int64), hashsum="h")
    tokenize = make_tokenize_udf(cfg, list(docs.columns))
    part_a = docs.iloc[np.r_[0:25, 150:175]]
    part_b = docs.iloc[np.r_[25:150, 175:200]]
    avgdl = {"content": 50.0, "title": 2.0}

    def blocks(parts):
        runs = pd.concat([r for p in parts for r in tokenize(iter([p]))],
                         ignore_index=True)
        runs = runs[runs["term"].notna()]
        out = pd.concat(make_block_udf(cfg, N_DOCS, avgdl)(iter([runs])))
        return (out.sort_values(["field", "term", "block_id"])
                .reset_index(drop=True))

    got, exp = blocks([part_b, part_a]), blocks([docs])
    assert list(got.columns) == [f.name for f in POSTING_SCHEMA.fields]
    assert not _bad_blocks(got)
    pd.testing.assert_frame_equal(got, exp)


def test_default_config_blocks_queries_and_merge(spark, corpora, tmp_path,
                                                 packed_reads):
    """Default IndexConfig against the pyoracle: every block is strictly
    increasing with span = min/max, ``needle_i AND <hot word>`` matches
    for every doc holding the hot word (conjunction pruning reads the
    spans), and after update
    + merge the scores match a fresh oracle over the live corpus by path
    (the merge locates dirty blocks by span)."""
    v1, v2 = corpora
    cat = IndexCatalog(spark, str(tmp_path / "wh"), IndexConfig())
    cat.build(spark.createDataFrame(v1), fingerprint="v1")
    assert not _bad_blocks(_stage_postings(spark, cat))

    oracle = OracleIndex(v1)
    engine = cat.engine()
    with_hot = sorted(h["doc_id"] for h in oracle.search(HOT, N_DOCS))
    assert len(with_hot) > 30
    for i in with_hot:
        q = f"needle_{i} AND {HOT}"
        exp = [(h["doc_id"], h["score"]) for h in oracle.search(q, 10)]
        got = [(int(r["doc_id"]), float(r["score"]))
               for r in engine.search_scores(q, 10).collect()]
        assert [d for d, _ in got] == [d for d, _ in exp], q
        for (_, gs), (_, es) in zip(got, exp):
            assert gs == pytest.approx(es, rel=1e-6), q

    cat.update(spark.createDataFrame(v2), fingerprint="v2")
    assert not _bad_blocks(_stage_postings(spark, cat))
    cat.merge(fingerprint="m")
    assert not _bad_blocks(_stage_postings(spark, cat))
    live = v2.sort_values(["repo", "path"]).reset_index(drop=True)
    oracle2 = OracleIndex(live)
    engine = cat.engine()
    for q in ("common_token", HOT, f"needle_7 AND {HOT}", "graded",
              '"alpha beta"', f"common_token AND {HOT}"):
        exp = {live["path"][h["doc_id"]]: h["score"]
               for h in oracle2.search(q, 1000)}
        got = {r["path"]: r["score"] for r in engine.search(q, 1000).collect()}
        assert set(got) == set(exp), q
        for p, s in exp.items():
            assert got[p] == pytest.approx(s, rel=1e-6), f"{q} @ {p}"


@pytest.mark.parametrize("model", ["bm25", "default"])
def test_merged_block_bounds_equal_decoded_scores(spark, corpora, tmp_path, model):
    """A merge re-blocks the live postings under the merged stats: after a
    default-config build, update and merge, every merged block is strictly
    increasing with span = min/max, and its stored block_max_score and
    block_min_score EQUAL the max and min of the scores the engine decodes
    for its docs, with no tolerance — the bounds a fresh build would
    store."""
    from pyspark.sql import functions as F
    v1, v2 = corpora
    cat = IndexCatalog(spark, str(tmp_path / "wh"), IndexConfig(scoring_model=model))
    cat.build(spark.createDataFrame(v1), fingerprint="v1")
    cat.update(spark.createDataFrame(v2), fingerprint="v2")
    cat.merge(fingerprint="m")
    assert not _bad_blocks(_stage_postings(spark, cat))
    engine = cat.engine()
    assert engine.blocks_exact
    idf_map = {(r["field"], r["term"]): int(r["doc_freq"])
               for r in engine.dictionary.collect()}
    decoded = engine._as_frame(
        engine._decode_blocks(engine.postings, idf_map, with_positions=False))
    blk = engine.postings.select("field", "term", "block_id", "skip_first_doc",
                                 "skip_last_doc", "block_max_score",
                                 "block_min_score")
    rows = (decoded.join(blk, ["field", "term"])
            .filter(F.col("doc_id").between(F.col("skip_first_doc"),
                                            F.col("skip_last_doc")))
            .groupBy("field", "term", "block_id")
            .agg(F.max("score").alias("mx"), F.min("score").alias("mn"),
                 F.first("block_max_score").alias("bmax"),
                 F.first("block_min_score").alias("bmin"))).collect()
    assert len(rows) == engine.postings.count() > 500
    off = [(r["field"], r["term"], r["block_id"]) for r in rows
           if r["mx"] != r["bmax"] or r["mn"] != r["bmin"]]
    assert off == [], f"{len(off)} blocks, e.g. {off[:3]}"


def _job_ids(sc) -> set[int]:
    """Ids of the session's jobs outside any job group (all of them here)."""
    return set(sc.statusTracker().getJobIdsForGroup(None))


def test_update_and_merge_job_counts(spark, corpora, tmp_path, monkeypatch):
    """The postings stage of a small update is one shuffle and one write
    (2 jobs: no read-back count, no listing); the whole merge stays under
    MERGE_JOBS; the merged segment keeps one parquet file per (field,
    bucket) directory, as the build does."""
    v1, v2 = corpora
    sc = spark.sparkContext
    cat = IndexCatalog(spark, str(tmp_path / "wh"), IndexConfig())
    cat.build(spark.createDataFrame(v1), fingerprint="v1")
    built = cat._stage_dir("seg_000000", "postings")
    assert (len(glob.glob(os.path.join(built, "*", "*", "*.parquet")))
            == len(glob.glob(os.path.join(built, "*", "*"))))

    stage_jobs = {}
    write_stage = cat._write_stage

    def counted(seg, stage, *args, **kwargs):
        before = _job_ids(sc)
        rows = write_stage(seg, stage, *args, **kwargs)
        stage_jobs[(seg, stage)] = len(_job_ids(sc) - before)
        return rows

    monkeypatch.setattr(cat, "_write_stage", counted)
    cat.update(spark.createDataFrame(v2), fingerprint="v2")
    assert stage_jobs[("seg_000001", "postings")] <= 2, stage_jobs

    before = _job_ids(sc)
    cat.merge(fingerprint="m")
    merge_jobs = len(_job_ids(sc) - before)
    assert merge_jobs <= MERGE_JOBS, (merge_jobs, stage_jobs)
    seg = cat.read_meta()["segments"][0]["name"]
    dirs = glob.glob(os.path.join(cat._stage_dir(seg, "postings"), "*", "*"))
    assert dirs
    for d in dirs:
        assert len(glob.glob(os.path.join(d, "*.parquet"))) <= 1, d


@pytest.mark.parametrize("store_cls", [ParquetFilesystemStore,
                                       SnapshotParquetStore])
def test_manifest_rows_equal_table_rows(spark, corpora, tmp_path, store_cls):
    v1, _ = corpora
    store = store_cls()
    cat = IndexCatalog(spark, str(tmp_path / "wh"),
                       IndexConfig(term_buckets=8), store=store)
    cat.build(spark.createDataFrame(v1), fingerprint="v1")
    for stage in STAGES:
        with open(cat._manifest_path("seg_000000", stage)) as f:
            rows = json.load(f)["rows"]
        assert rows == store.read(spark, cat._stage_dir("seg_000000", stage)).count(), stage
    assert cat.read_meta()["segments"][0]["n_docs"] == N_DOCS


def test_old_format_index_is_invalidated_and_rebuilt(spark, tmp_path):
    """An index whose stats.json and manifests lack the current format
    stamp (written before posting blocks were doc-ordered, or by a merge
    that copied stale block bounds) reports
    INDEX_INVALIDATED, refuses queries and updates, and a build with the
    same fingerprint re-runs every stage instead of resuming."""
    corpus = spark.createDataFrame(generate_corpus(32))
    cfg = IndexConfig(doc_range_size=16, block_size=8, term_buckets=4)
    cat = IndexCatalog(spark, str(tmp_path / "wh"), cfg)
    cat.build(corpus, fingerprint="v1", build_time_ms=1)
    paths = [cat._meta_path()] + [cat._manifest_path("seg_000000", s) for s in STAGES]

    def stamp(fmt):
        for p in paths:
            with open(p) as f:
                m = json.load(f)
            m.pop("format")
            if fmt is not None:
                m["format"] = fmt
            with open(p, "w") as f:
                json.dump(m, f)

    # format 2: a merge of that code left stale block bounds behind
    stamp(2)
    assert cat.status() == INDEX_INVALIDATED
    stamp(None)
    assert cat.status() == INDEX_INVALIDATED
    with pytest.raises(RuntimeError, match="invalidated"):
        cat.engine()
    with pytest.raises(RuntimeError, match="invalidated"):
        cat.update(corpus, fingerprint="v2")
    assert not cat.stage_complete("seg_000000", "postings", "v1")
    cat.build(corpus, fingerprint="v1", build_time_ms=2)
    assert cat.status() == 2
    assert cat.stage_complete("seg_000000", "postings", "v1")
    assert cat.engine().search_scores("needle_3", 5).collect()[0]["doc_id"] == 3
