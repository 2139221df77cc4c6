"""Incremental update tests (SURVEY.md §5.4): change-diff statuses, segment
update vs a segment-history oracle, compaction == fresh rebuild."""

import hashlib

import pandas as pd
import pytest

from xltsearch_spark.catalog import IndexCatalog
from xltsearch_spark.config import IndexConfig
from xltsearch_spark.operators.incremental import change_diff, diff_summary
from xltsearch_spark.oracle.pyoracle import OracleIndex
from xltsearch_spark.sources.corpus import generate_corpus

CFG = IndexConfig(doc_range_size=16, block_size=8, term_buckets=8)
QUERIES = ["common_token", "graded", "common_token AND graded",
           '"alpha beta"', "fresh_needle_0", "needle_3"]


def _key_hash(df):
    return {(r.repo, r.path): hashlib.sha256(r.content.encode()).hexdigest()
            for r in df.itertuples(index=False)}


def segment_history(v1: pd.DataFrame, v2: pd.DataFrame):
    """Replicate Lucene updateDocument semantics in pandas: v1 docs keep ids
    0..N-1; changed/new v2 rows get fresh ids in (repo,path) order; old
    versions + deletions are tombstones. Returns (history_df, deleted_ids)."""
    v1s = v1.sort_values(["repo", "path"]).reset_index(drop=True).copy()
    v1s["doc_id"] = range(len(v1s))
    h1, h2 = _key_hash(v1), _key_hash(v2)
    changed_keys = {k for k, h in h2.items() if h1.get(k) != h}
    dead_keys = ({k for k in h1 if k not in h2} |
                 {k for k in h2 if k in h1 and h1[k] != h2[k]})
    deleted = set(v1s[v1s.apply(lambda r: (r["repo"], r["path"]) in dead_keys,
                                axis=1)]["doc_id"])
    seg = (v2[v2.apply(lambda r: (r["repo"], r["path"]) in changed_keys, axis=1)]
           .sort_values(["repo", "path"]).reset_index(drop=True).copy())
    seg["doc_id"] = range(len(v1s), len(v1s) + len(seg))
    return pd.concat([v1s, seg], ignore_index=True), deleted


@pytest.fixture(scope="module")
def corpora():
    return generate_corpus(64), generate_corpus(64, version=2)


def test_change_diff_statuses(spark, corpora):
    v1, v2 = corpora
    docs = spark.createDataFrame(
        v1.assign(hashsum=v1["content"].map(
            lambda c: hashlib.sha256(c.encode()).hexdigest()),
            doc_id=range(len(v1))))
    diff = change_diff(spark.createDataFrame(v2), docs)
    s = diff_summary(diff)
    # generator v2: ~5% modified, 5% deleted, 5% added of 64 docs -> 3 each
    assert s["update"] == 3 and s["delete"] == 3 and s["insert"] == 3
    assert s["unchanged"] == 64 - 6
    # delete rows carry the old doc id and no new content
    from pyspark.sql import functions as F
    assert diff.filter((F.col("change_status") == "delete") &
                       F.col("old_doc_id").isNull()).count() == 0


def test_update_matches_segment_oracle(spark, corpora, tmp_path):
    v1, v2 = corpora
    cat = IndexCatalog(spark, str(tmp_path / "wh"), CFG)
    cat.build(spark.createDataFrame(v1), fingerprint="v1")
    summary = cat.update(spark.createDataFrame(v2), fingerprint="v2")
    assert summary["insert"] == 3 and summary["update"] == 3 and summary["delete"] == 3
    history, deleted = segment_history(v1, v2)
    oracle = OracleIndex(history, CFG, deleted=deleted)
    engine = cat.engine()
    for q in QUERIES:
        exp = [(h["doc_id"], h["score"]) for h in oracle.search(q, 50)]
        got = [(int(r["doc_id"]), float(r["score"]))
               for r in engine.search_scores(q, 50).collect()]
        assert [g[0] for g in got] == [e[0] for e in exp], f"{q}: ranks differ"
        for (gd, gs), (_, es) in zip(got, exp):
            assert gs == pytest.approx(es, rel=1e-6), f"{q} doc {gd}"


def test_update_noop_when_unchanged(spark, corpora, tmp_path):
    v1, _ = corpora
    cat = IndexCatalog(spark, str(tmp_path / "wh"), CFG)
    cat.build(spark.createDataFrame(v1), fingerprint="v1")
    n_seg_before = len(cat.read_meta()["segments"])
    s = cat.update(spark.createDataFrame(v1), fingerprint="v1b")
    assert s["insert"] == s["update"] == s["delete"] == 0
    assert len(cat.read_meta()["segments"]) == n_seg_before


def test_compact_equals_fresh_build(spark, corpora, tmp_path):
    v1, v2 = corpora
    cat = IndexCatalog(spark, str(tmp_path / "wh"), CFG)
    cat.build(spark.createDataFrame(v1), fingerprint="v1")
    cat.update(spark.createDataFrame(v2), fingerprint="v2")
    cat.compact(spark.createDataFrame(v2), fingerprint="v2c")
    fresh = IndexCatalog(spark, str(tmp_path / "wh2"), CFG)
    fresh.build(spark.createDataFrame(v2), fingerprint="v2")
    for q in QUERIES:
        a = [(r["doc_id"], round(r["score"], 9))
             for r in cat.engine().search_scores(q, 50).collect()]
        b = [(r["doc_id"], round(r["score"], 9))
             for r in fresh.engine().search_scores(q, 50).collect()]
        assert a == b, q


def test_updated_content_searchable_old_not(spark, corpora, tmp_path):
    v1, v2 = corpora
    cat = IndexCatalog(spark, str(tmp_path / "wh"), CFG)
    cat.build(spark.createDataFrame(v1), fingerprint="v1")
    cat.update(spark.createDataFrame(v2), fingerprint="v2")
    engine = cat.engine()
    # the v2 modification marker must hit every updated doc
    assert engine.search_scores("modified_marker_v2", 20).count() == 3
    # added docs searchable
    assert engine.search_scores("fresh_needle_0", 10).count() == 1
    # live docs = v2 row count
    assert engine.docs.count() == len(v2)


def test_change_diff_batch_dedup_and_null_content(spark):
    """A batch with two rows for one key keeps the last write (max commit);
    NULL content hashes as empty instead of misclassifying as a delete."""
    import pyspark.sql.functions as F
    idx = spark.createDataFrame(
        [("r", "a", "deadbeef", 0), ("r", "b", "cafe", 1)],
        ["repo", "path", "hashsum", "doc_id"])
    batch = spark.createDataFrame(
        [("r", "a", "c1", "en", "old body", None),
         ("r", "a", "c2", "en", "new body", None),     # same key, later commit
         ("r", "b", "c1", "en", None, None)],          # NULL content
        "repo string, path string, commit string, lang string, "
        "content string, title string")
    diff = change_diff(batch, idx)
    rows = {(r["repo"], r["path"]): r for r in diff.collect()}
    assert len(rows) == 2  # one row per key, duplicate collapsed
    assert rows[("r", "a")]["commit"] == "c2"  # last write wins
    # NULL content is an update (hash of ""), NOT a delete
    assert rows[("r", "b")]["change_status"] == "update"
    assert diff.filter(F.col("change_status") == "delete").count() == 0


def test_large_delete_batch_off_driver(spark, tmp_path):
    """A multi-thousand-row delete batch stays off the driver: tombstones are
    persisted parquet (meta carries only the count) and queries anti-join."""
    v1 = generate_corpus(64)
    cat = IndexCatalog(spark, str(tmp_path / "wh"), CFG)
    cat.build(spark.createDataFrame(v1), fingerprint="v1")
    # synthetic snapshot: drop half the docs -> 32 deletes; then pad the
    # tombstone table with a second update deleting the rest -> all dead ids
    # flow through parquet, never a collected python list
    v2 = v1.iloc[: len(v1) // 2]
    cat.update(spark.createDataFrame(v2), fingerprint="v2")
    meta = cat.read_meta()
    assert "tombstones" not in meta or meta["tombstones"] == []
    assert meta["n_tombstones"] == 32
    assert cat.tombstones_df().count() == 32
    eng = cat.engine()
    assert eng.tombstones_df is not None
    # live doc count and query results reflect the deletes
    assert eng.docs.count() == 32
    assert eng.search_scores("common_token", 100).count() <= 32


@pytest.mark.parametrize("reopen", [False, True])
def test_merge_without_retokenize_matches_fresh_build(spark, corpora, tmp_path,
                                                      reopen):
    """catalog.merge() = Lucene forceMerge without retokenization: after
    merging, per-document scores equal a fresh build over the live corpus
    (live-only stats), positions survive (phrase), and the max_doc
    watermark prevents id collisions on the next update. The merged
    segment is re-blocked under the merged stats, so its engine trusts the
    stored bounds: WAND seeds tau from block metadata and pushes its block
    filter to the parquet reader. reopen=True reads the merged index
    through a newly opened catalog, so everything above must hold from the
    persisted meta and stage tables alone."""
    import io
    import re
    from contextlib import redirect_stdout
    v1, v2 = corpora
    cat = IndexCatalog(spark, str(tmp_path / "wh"), CFG)
    cat.build(spark.createDataFrame(v1), fingerprint="v1")
    cat.update(spark.createDataFrame(v2), fingerprint="v2")
    assert len(cat.read_meta()["segments"]) == 2
    cat.merge(fingerprint="m1")
    if reopen:
        cat = IndexCatalog(spark, str(tmp_path / "wh"), CFG)
    meta = cat.read_meta()
    assert len(meta["segments"]) == 1
    assert meta.get("tombstone_batches", []) == [] and cat.tombstones_df() is None
    eng = cat.engine()
    assert eng.blocks_exact
    eng.wand_min_df = 1
    assert eng.search_scores("common_token OR graded", 5).count() == 5
    assert eng._last_wand_tau_source == "metadata"
    buf = io.StringIO()
    with redirect_stdout(buf):
        eng._last_scan.explain(mode="formatted")
    pushed = re.findall(r"PushedFilters: \[.*\]", buf.getvalue())
    assert any("block_max_score" in f for f in pushed), buf.getvalue()[-2000:]

    fresh = IndexCatalog(spark, str(tmp_path / "wh_fresh"), CFG)
    fresh.build(spark.createDataFrame(v2), fingerprint="v2")
    feng = fresh.engine()
    for q in QUERIES:
        got = {r["path"]: r["score"] for r in eng.search(q, 1000).collect()}
        exp = {r["path"]: r["score"] for r in feng.search(q, 1000).collect()}
        assert set(got) == set(exp), f"{q}: doc sets differ"
        for p in exp:
            assert got[p] == pytest.approx(exp[p], rel=1e-9), f"{q} @ {p}"

    # next update after merge: watermarked ids, no collision
    extra = v2.iloc[[0]].copy()
    extra["path"] = "zz/new_after_merge"
    extra["content"] = "fresh_after_merge_token common_token"
    v3 = pd.concat([v2, extra], ignore_index=True)
    cat.update(spark.createDataFrame(v3), fingerprint="v3")
    eng3 = cat.engine()
    n = eng3.docs.count()
    assert eng3.docs.select("doc_id").distinct().count() == n == len(v3)
    assert eng3.search_scores("fresh_after_merge_token", 5).count() == 1


def test_three_round_updates_then_merge(spark, tmp_path):
    """Three successive update batches tracked against a CHAINED segment-
    history oracle (ids append at the max_doc watermark, tombstones
    accumulate, stats keep counting dead docs), then merge() collapses to
    one segment whose per-path scores equal a fresh build on the final live
    corpus."""
    import hashlib
    import pandas as pd

    def sha(c):
        return hashlib.sha256(c.encode()).hexdigest()

    def apply_update(history, deleted, new_df):
        live = history[~history["doc_id"].isin(deleted)]
        h_live = {(r.repo, r.path): (r.doc_id, sha(r.content))
                  for r in live.itertuples(index=False)}
        h_new = {(r.repo, r.path): sha(r.content)
                 for r in new_df.itertuples(index=False)}
        changed = {k for k, h in h_new.items()
                   if k not in h_live or h_live[k][1] != h}
        dead_keys = ({k for k in h_live if k not in h_new} |
                     {k for k in h_new if k in h_live and h_live[k][1] != h_new[k]})
        new_deleted = set(deleted) | {h_live[k][0] for k in dead_keys}
        seg = (new_df[new_df.apply(lambda r: (r["repo"], r["path"]) in changed, axis=1)]
               .sort_values(["repo", "path"]).reset_index(drop=True).copy())
        base = int(history["doc_id"].max()) + 1
        seg["doc_id"] = range(base, base + len(seg))
        return pd.concat([history, seg], ignore_index=True), new_deleted

    v0 = generate_corpus(64)
    cat = IndexCatalog(spark, str(tmp_path / "wh"), CFG)
    cat.build(spark.createDataFrame(v0), fingerprint="r0")
    history = v0.sort_values(["repo", "path"]).reset_index(drop=True).copy()
    history["doc_id"] = range(len(history))
    deleted: set = set()

    cur = v0
    for rnd in range(1, 4):
        new = cur.copy()
        # deterministic per-round mutation: drop one, modify two, add one
        new = new[new.index % (7 + rnd) != 0].copy()
        mod = new.index % (5 + rnd) == 1
        new.loc[mod, "content"] = new.loc[mod, "content"] + f" round{rnd}_marker"
        add = cur.iloc[[rnd]].copy()
        add["path"] = f"zz/round{rnd}_added"
        add["content"] = f"round{rnd}_fresh common_token alpha"
        new = pd.concat([new, add], ignore_index=True)
        cat.update(spark.createDataFrame(new), fingerprint=f"r{rnd}")
        history, deleted = apply_update(history, deleted, new)
        oracle = OracleIndex(history, CFG, deleted=deleted)
        engine = cat.engine()
        for q in QUERIES + [f"round{rnd}_marker", f"round{rnd}_fresh"]:
            exp = [(h["doc_id"], h["score"]) for h in oracle.search(q, 50)]
            got = [(int(r["doc_id"]), float(r["score"]))
                   for r in engine.search_scores(q, 50).collect()]
            assert [g[0] for g in got] == [e[0] for e in exp], \
                f"round {rnd} {q}: {got[:4]} vs {exp[:4]}"
            for (gd, gs), (_, es) in zip(got, exp):
                assert gs == pytest.approx(es, rel=1e-6), f"round {rnd} {q} doc {gd}"
        cur = new

    cat.merge(fingerprint="m")
    fresh = IndexCatalog(spark, str(tmp_path / "whf"), CFG)
    fresh.build(spark.createDataFrame(cur), fingerprint="final")
    eng, feng = cat.engine(), fresh.engine()
    for q in QUERIES:
        got = {r["path"]: r["score"] for r in eng.search(q, 1000).collect()}
        exp = {r["path"]: r["score"] for r in feng.search(q, 1000).collect()}
        assert set(got) == set(exp), q
        for p in exp:
            assert got[p] == pytest.approx(exp[p], rel=1e-9), f"{q} @ {p}"


def test_merge_crash_between_meta_and_cleanup_leaves_readable_index(
        spark, corpora, tmp_path, monkeypatch):
    """merge() commits by writing the new meta BEFORE deleting the old
    segment dirs: a crash in that window must leave a fully readable index
    (merged segment live, orphan dirs tolerated) — not a failed meta
    referencing deleted segments."""
    import shutil as _shutil
    import xltsearch_spark.catalog as catmod
    v1, v2 = corpora
    cat = IndexCatalog(spark, str(tmp_path / "wh"), CFG)
    cat.build(spark.createDataFrame(v1), fingerprint="v1")
    cat.update(spark.createDataFrame(v2), fingerprint="v2")

    def boom(path, *a, **k):
        raise OSError(f"injected crash deleting {path}")

    monkeypatch.setattr(catmod.shutil, "rmtree", boom)
    with pytest.raises(OSError, match="injected crash"):
        cat.merge(fingerprint="m1")
    monkeypatch.undo()
    # meta already points at the merged segment; orphan old dirs remain
    meta = cat.read_meta()
    assert meta["last_updated"] > 0
    assert len(meta["segments"]) == 1 and meta["segments"][0]["name"].startswith("seg_merged")
    eng = cat.engine()
    assert eng.search_scores("common_token", 10).count() > 0
    # and the orphans don't block a later update
    import pandas as pd
    extra = v2.iloc[[0]].copy()
    extra["path"] = "zz/post_crash_doc"
    extra["content"] = "post_crash_token common_token"
    cat.update(spark.createDataFrame(pd.concat([v2, extra], ignore_index=True)),
               fingerprint="v3")
    assert cat.engine().search_scores("post_crash_token", 5).count() == 1


def test_span_queries_respect_tombstones(spark, corpora, tmp_path):
    """The spans family flows through the same central tombstone filter as
    every other query: after an incremental update, engine == pre-merge
    segment oracle (deleted docs absent from results, but still counted in
    the df/dl statistics) for span_first/near/or/not."""
    v1, v2 = corpora
    cat = IndexCatalog(spark, str(tmp_path / "wh_spans"), CFG)
    cat.build(spark.createDataFrame(v1), fingerprint="v1")
    cat.update(spark.createDataFrame(v2), fingerprint="v2")
    history, deleted = segment_history(v1, v2)
    oracle = OracleIndex(history, CFG, deleted=deleted)
    engine = cat.engine()
    assert engine.has_tombstones
    cases = [
        ("first", lambda o: o.search_span_first("graded", 8, limit=100),
         lambda e: e.search_span_first("graded", 8, limit=100)),
        ("near", lambda o: o.search_span_near("quick", "dog", 3, limit=100),
         lambda e: e.search_span_near("quick", "dog", 3, limit=100)),
        ("or", lambda o: o.search_span_or(["alpha", "beta"], limit=100),
         lambda e: e.search_span_or(["alpha", "beta"], limit=100)),
        ("not", lambda o: o.search_span_not("quick", "dog", 0, 2, limit=100),
         lambda e: e.search_span_not("quick", "dog", 0, 2, limit=100)),
    ]
    for name, ofn, efn in cases:
        exp = [(h["doc_id"], h["score"]) for h in ofn(oracle)]
        got = [(int(r["doc_id"]), float(r["score"]))
               for r in efn(engine).collect()]
        assert [g[0] for g in got] == [e[0] for e in exp], name
        for g, e in zip(got, exp):
            assert g[1] == pytest.approx(e[1], rel=1e-6), name
        assert not ({d for d, _ in got} & deleted), name
