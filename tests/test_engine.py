"""End-to-end: Spark engine vs pure-Python oracle — rank-identical top-k
with scores equal to 1e-6 (SURVEY.md §5.2-5.3; north-rule gate)."""

import pytest

from xltsearch_spark.config import IndexConfig
from xltsearch_spark.operators.build import IndexBuilder
from xltsearch_spark.operators.search import SearchEngine
from xltsearch_spark.oracle.pyoracle import OracleIndex

QUERIES = [
    "needle_17", "graded", "common_token AND graded", "alpha OR beta",
    "graded NOT alpha", "+graded -beta", '"alpha beta"', '"alpha beta"~1',
    "title:Module", "graded^2 OR alpha", "need*", "gradd~1",
    "[needle_10 TO needle_20]", "(alpha OR beta) AND common_token",
    "CamelCaseIdentifier", "*:*", '"alpha the beta"',
]


def build_engine(spark, corpus_pd, cfg):
    builder = IndexBuilder(spark, cfg)
    corpus = spark.createDataFrame(corpus_pd)
    docs = builder.docs_stage(corpus).persist()
    runs = builder.runs_stage(docs).persist()
    stats = builder.stats_stage(docs, runs)
    dictionary = builder.dictionary_stage(runs).persist()
    postings = builder.postings_stage(runs, stats).persist()
    return SearchEngine(spark, postings, docs, dictionary, stats, cfg), stats


def assert_rank_identical(engine, oracle, queries, limit=100):
    for q in queries:
        exp = [(h["doc_id"], h["score"]) for h in oracle.search(q, limit)]
        got = [(int(r["doc_id"]), float(r["score"]))
               for r in engine.search_scores(q, limit).collect()]
        assert len(got) == len(exp), f"{q}: {len(got)} vs {len(exp)} hits"
        for (gd, gs), (ed, es) in zip(got, exp):
            assert gd == ed, f"{q}: rank order differs ({got[:5]} vs {exp[:5]})"
            assert gs == pytest.approx(es, rel=1e-6, abs=1e-9), f"{q}: score {gs} vs {es}"


@pytest.fixture(scope="module")
def bm25_setup(spark, tiny_corpus):
    cfg = IndexConfig(scoring_model="bm25", doc_range_size=16, block_size=8,
                      term_buckets=8)
    engine, stats = build_engine(spark, tiny_corpus, cfg)
    return engine, OracleIndex(tiny_corpus, cfg), stats


def test_bm25_rank_identical(bm25_setup):
    engine, oracle, _ = bm25_setup
    assert_rank_identical(engine, oracle, QUERIES)


def test_tfidf_rank_identical(spark, tiny_corpus):
    cfg = IndexConfig(scoring_model="default", doc_range_size=16, block_size=8,
                      term_buckets=8)
    engine, _ = build_engine(spark, tiny_corpus, cfg)
    oracle = OracleIndex(tiny_corpus, cfg)
    assert_rank_identical(engine, oracle, QUERIES)


def test_english_analyzer_end_to_end(spark, tiny_corpus):
    cfg = IndexConfig(analyzer="english", doc_range_size=16, block_size=8,
                      term_buckets=8)
    engine, _ = build_engine(spark, tiny_corpus, cfg)
    oracle = OracleIndex(tiny_corpus, cfg)
    assert_rank_identical(engine, oracle, ["running", "graded", "alpha OR beta"])


def test_stats_match_oracle(bm25_setup, tiny_corpus):
    _, oracle, stats = bm25_setup
    assert stats.n_docs == oracle.n_docs
    assert stats.sum_ttf["content"] == oracle.sum_ttf["content"]


def test_stored_field_join(bm25_setup):
    engine, _, _ = bm25_setup
    rows = engine.search("needle_17", 10).collect()
    assert len(rows) == 1
    r = rows[0]
    assert r["doc_id"] == 17 and r["repo"] and r["path"] and len(r["hashsum"]) == 64
    assert r["title"] == ""  # doc 17 has no title -> '' (SearchTask.java:70-73)


def test_block_max_is_upper_bound(bm25_setup, spark):
    """block_max_score must dominate every per-doc score in its block."""
    engine, _, _ = bm25_setup
    from pyspark.sql import functions as F
    blocks = engine.postings.filter(F.col("field") == "content").limit(50).collect()
    import numpy as np
    from xltsearch_spark.functions.varint import decode_varint
    from xltsearch_spark.functions.norms import quantized_doc_length
    from xltsearch_spark.plans import scoring
    stats = engine.stats
    for blk in blocks:
        tfs = decode_varint(blk["tfs_bin"], blk["n_docs"]).astype(np.int64)
        dls = decode_varint(blk["dls_bin"], blk["n_docs"]).astype(np.int64)
        df = engine.dictionary.filter(
            (F.col("field") == "content") & (F.col("term") == blk["term"])
        ).collect()[0]["doc_freq"]
        idf = scoring.bm25_idf(stats.n_docs, df)
        dlq = quantized_doc_length(dls)
        sc = idf * 2.2 * scoring.bm25_tf_norm(tfs, dlq, stats.avgdl["content"], 1.2, 0.75)
        assert blk["block_max_score"] >= sc.max() - 1e-12


def test_block_min_is_lower_bound(bm25_setup, spark):
    """block_min_score must floor every per-doc score in its block (it seeds
    the WAND tau without a probe job, so a violated floor silently drops
    true top-k hits)."""
    engine, _, _ = bm25_setup
    from pyspark.sql import functions as F
    blocks = engine.postings.filter(F.col("field") == "content").limit(50).collect()
    import numpy as np
    from xltsearch_spark.functions.varint import decode_varint
    from xltsearch_spark.functions.norms import quantized_doc_length
    from xltsearch_spark.plans import scoring
    stats = engine.stats
    for blk in blocks:
        tfs = decode_varint(blk["tfs_bin"], blk["n_docs"]).astype(np.int64)
        dls = decode_varint(blk["dls_bin"], blk["n_docs"]).astype(np.int64)
        df = engine.dictionary.filter(
            (F.col("field") == "content") & (F.col("term") == blk["term"])
        ).collect()[0]["doc_freq"]
        idf = scoring.bm25_idf(stats.n_docs, df)
        dlq = quantized_doc_length(dls)
        sc = idf * 2.2 * scoring.bm25_tf_norm(tfs, dlq, stats.avgdl["content"], 1.2, 0.75)
        assert blk["block_min_score"] <= sc.min() + 1e-12


@pytest.mark.parametrize("model", ["bm25", "default"])
def test_block_bounds_equal_decoded_scores(spark, model):
    """Under the default config (quantized norms), every block's stored
    block_max_score and block_min_score EQUAL the max and min of the scores
    the engine decodes for its docs: the build and the engine share one
    idf and one freq -> score expression, so no tolerance is needed."""
    from pyspark.sql import functions as F
    from xltsearch_spark.sources.corpus import generate_corpus
    cfg = IndexConfig(scoring_model=model)
    assert cfg.quantize_norms
    engine, _ = build_engine(spark, generate_corpus(600, 0, 1), cfg)
    idf_map = {(r["field"], r["term"]): int(r["doc_freq"])
               for r in engine.dictionary.collect()}
    decoded = engine._as_frame(
        engine._decode_blocks(engine.postings, idf_map, with_positions=False))
    blk = engine.postings.select("field", "term", "block_id", "skip_first_doc",
                                 "skip_last_doc", "block_max_score",
                                 "block_min_score")
    per_block = (decoded.join(blk, ["field", "term"])
                 .filter(F.col("doc_id").between(F.col("skip_first_doc"),
                                                 F.col("skip_last_doc")))
                 .groupBy("field", "term", "block_id")
                 .agg(F.max("score").alias("mx"), F.min("score").alias("mn"),
                      F.first("block_max_score").alias("bmax"),
                      F.first("block_min_score").alias("bmin")))
    rows = per_block.collect()
    assert len(rows) == engine.postings.count() > 1000
    off = [(r["field"], r["term"], r["block_id"]) for r in rows
           if r["mx"] != r["bmax"] or r["mn"] != r["bmin"]]
    assert off == [], f"{len(off)} blocks, e.g. {off[:3]}"


def test_wand_metadata_tau_skips_probe(spark):
    """With exact stats and full blocks, tau comes from the cached term
    statistics (no probe job); with stale stats the probe fallback runs —
    both prune the one scan and must return the identical top-k as the
    brute-force path."""
    from xltsearch_spark.sources.corpus import generate_corpus
    corpus = generate_corpus(600)
    cfg = IndexConfig(doc_range_size=64, block_size=8, term_buckets=8)
    engine, _ = build_engine(spark, corpus, cfg)
    engine.wand_min_df = 1
    tracker = spark.sparkContext.statusTracker()

    def top5():
        before = set(tracker.getJobIdsForGroup(None))
        hits = [(r["doc_id"], round(r["score"], 9)) for r in
                engine.search_scores("common_token", 5).collect()]
        assert "block_max_score" in engine._last_scan._jdf.queryExecution() \
            .optimizedPlan().toString()
        return hits, len(set(tracker.getJobIdsForGroup(None)) - before)

    top5()  # warm the term statistics
    meta_hits, meta_jobs = top5()
    assert engine._last_wand_tau_source == "metadata"
    engine.blocks_exact = False  # stored per-doc scores no longer trusted
    probe_hits, probe_jobs = top5()
    assert engine._last_wand_tau_source == "probe"
    assert meta_jobs < probe_jobs
    engine.blocks_exact = True
    engine.wand_enabled = False  # brute force
    brute = [(r["doc_id"], round(r["score"], 9)) for r in
             engine.search_scores("common_token", 5).collect()]
    assert meta_hits == probe_hits == brute and len(brute) == 5


def test_fuzzy_distributed_path_matches_driver(spark, tiny_corpus):
    """Above fuzzy_driver_cap the Damerau rerank runs as a pandas UDF with a
    JVM TakeOrdered(50) — the driver sees <= 50 rows — and must expand to
    exactly the driver path's (term, sim) set."""
    cfg = IndexConfig(doc_range_size=16, block_size=8, term_buckets=8)
    engine, _ = build_engine(spark, tiny_corpus, cfg)
    oracle = OracleIndex(tiny_corpus, cfg)
    driver = [(r["doc_id"], r["score"]) for r in
              engine.search_scores("gradd~2", 100).collect()]
    assert engine._last_fuzzy_distributed is False
    engine.fuzzy_driver_cap = 1  # force the distributed rerank
    engine.clear_stats_cache()   # the expansion is cached per generation
    dist = [(r["doc_id"], r["score"]) for r in
            engine.search_scores("gradd~2", 100).collect()]
    assert engine._last_fuzzy_distributed is True
    assert [d for d, _ in driver] == [d for d, _ in dist]
    for (_, a), (_, b) in zip(driver, dist):
        assert a == pytest.approx(b, rel=1e-9)
    assert_rank_identical(engine, oracle, ["gradd~2"])


def test_wand_topk_rank_identical(spark):
    """Block-max WAND pruning must stay rank-identical: small blocks + small
    k on a larger corpus so pruning genuinely triggers."""
    from xltsearch_spark.sources.corpus import generate_corpus
    corpus = generate_corpus(600)
    cfg = IndexConfig(doc_range_size=64, block_size=8, term_buckets=8)
    engine, _ = build_engine(spark, corpus, cfg)
    engine.wand_min_df = 1  # force the WAND path at fixture scale
    oracle = OracleIndex(corpus, cfg)
    for q, k in [("common_token", 10), ("graded", 5),
                 ("common_token OR graded OR alpha", 10),
                 ("graded^3 OR beta", 7)]:
        exp = [(h["doc_id"], h["score"]) for h in oracle.search(q, k)]
        got = [(int(r["doc_id"]), float(r["score"]))
               for r in engine.search_scores(q, k).collect()]
        assert [g[0] for g in got] == [e[0] for e in exp], f"{q}: {got} vs {exp}"
        for (gd, gs), (_, es) in zip(got, exp):
            assert gs == pytest.approx(es, rel=1e-6), f"{q} doc {gd}"


def test_search_many_matches_single(bm25_setup):
    """Batched multi-query search returns the same top-k as one-at-a-time."""
    engine, oracle, _ = bm25_setup
    batch = {"q1": "graded", "q2": "common_token AND graded", "q3": '"alpha beta"'}
    rows = engine.search_many(batch, limit=10).collect()
    by_q = {}
    for r in rows:
        by_q.setdefault(r["query_id"], []).append((r["rank"], r["doc_id"], r["score"]))
    for qid, q in batch.items():
        exp = [(h["rank"], h["doc_id"], h["score"]) for h in oracle.search(q, 10)]
        got = sorted(by_q.get(qid, []))
        assert [g[:2] for g in got] == [e[:2] for e in exp], qid
        for g, e in zip(got, exp):
            assert g[2] == pytest.approx(e[2], rel=1e-6), qid


def test_search_many_flat_path_breadth(bm25_setup):
    """The r6 single-pass flat batch scorer must agree with one-at-a-time
    search across occurs (MUST/SHOULD/NOT), boosts, predicates
    (prefix/range), and mixed flat + non-flat (phrase/span-shaped)
    batches — incl. queries with zero hits. A flat query's batch scores
    equal its single-query scores bit for bit (one clause compiler)."""
    engine, oracle, _ = bm25_setup
    batch = {
        "t": "graded",
        "must_not": "graded NOT alpha",
        "plus_minus": "+graded -beta",
        "boost": "graded^2 OR alpha",
        "pred": "need* OR graded",
        "range": "[needle_10 TO needle_20]",
        "phrase": '"alpha beta"',
        "none": "zzznotaterm",
        "mixed": "common_token AND graded",
    }
    rows = engine.search_many(batch, limit=15).collect()
    by_q = {}
    for r in rows:
        by_q.setdefault(r["query_id"], []).append(
            (r["rank"], r["doc_id"], r["score"]))
    for qid, q in batch.items():
        exp = [(h["rank"], h["doc_id"], h["score"]) for h in oracle.search(q, 15)]
        got = sorted(by_q.get(qid, []))
        assert [g[:2] for g in got] == [e[:2] for e in exp], (qid, got[:4], exp[:4])
        for g, e in zip(got, exp):
            assert g[2] == pytest.approx(e[2], rel=1e-6), qid
        # flat queries score through the same compiler alone and in a batch
        if qid != "phrase":
            single = [(r["doc_id"], r["score"])
                      for r in engine.search_scores(q, 15).collect()]
            assert [(d, s) for _, d, s in got] == single, qid


def test_wildcard_and_keyword_field_queries(bm25_setup):
    engine, oracle, _ = bm25_setup
    assert_rank_identical(engine, oracle,
                          ["needle_1?", "n*dle_12", "repo:repo1 AND graded",
                           "lang:python OR graded"])


def test_hit_count_message(bm25_setup):
    engine, oracle, _ = bm25_setup
    n, msg = engine.hit_count("common_token")
    assert n == len(oracle.search("common_token", 1000))
    assert msg == f"{n} results"  # SearchTask.java:83 message shape


def test_details_pane_rendering(bm25_setup):
    """details = all stored fields as 'name: value' lines (SearchTask.java:74-81)."""
    engine, _, _ = bm25_setup
    r = engine.search("needle_17", 5, with_details=True).collect()[0]
    assert "repo: " in r["details"] and "hashsum: " in r["details"]
    assert f"path: {r['path']}" in r["details"]
    assert r["details"].count("\n") == 5


def test_wand_pushed_blockmax_filter(spark, small_corpus, tmp_path):
    """With exact stats (single segment) the WAND block skip is a plain
    `block_max_score >= const` comparison that reaches the parquet reader
    (PushedFilters); with blocks_exact=False the recomputed (max_tf, min_dl)
    bound path must return the identical top-k. WAND scores through the
    general path's scorer, so its top-k scores EQUAL the general path's,
    bit for bit, under both similarities."""
    import io
    from contextlib import redirect_stdout
    from xltsearch_spark.catalog import IndexCatalog
    for model in ("bm25", "default"):
        cfg = IndexConfig(scoring_model=model, doc_range_size=16, block_size=8,
                          term_buckets=8)
        cat = IndexCatalog(spark, str(tmp_path / model), cfg)
        cat.build(spark.createDataFrame(small_corpus), fingerprint="v1")
        eng = cat.engine()
        assert eng.blocks_exact
        eng.wand_min_df = 1

        def top(q, k=5):
            return [(r["doc_id"], r["score"])
                    for r in eng.search_scores(q, k).collect()]

        exact = top("common_token OR graded")
        buf = io.StringIO()
        with redirect_stdout(buf):
            eng._last_scan.explain(mode="formatted")
        plan = buf.getvalue()
        assert "GreaterThanOrEqual(block_max_score" in plan, plan[-2000:]
        if model == "bm25":
            # stale-stats fallback: recomputed bounds, identical results
            eng.blocks_exact = False
            stale = top("common_token OR graded")
            assert [d for d, _ in exact] == [d for d, _ in stale]
            for (_, a), (_, b) in zip(exact, stale):
                assert a == pytest.approx(b, rel=1e-9)
            eng.blocks_exact = True
        # and the general (non-WAND) path agrees to the bit
        queries = ["common_token OR graded", "alpha OR beta OR graded",
                   "alpha^2 OR beta^0.5 OR graded^3", "indexe~1"]
        wand = {}
        for q in queries:
            wand[q] = top(q, 10)
            assert eng._last_wand_tau_source is not None, q  # WAND pruned
        eng.wand_enabled = False
        for q in queries:
            assert wand[q] == top(q, 10), (model, q)
            assert eng._last_wand_tau_source is None, q


def test_term_scan_plan_pruning_regression(spark, small_corpus, tmp_path):
    """Regression guard on the physical plan: term queries must keep
    (field, bucket) PartitionFilters and a term IN-list in PushedFilters —
    losing either silently turns the pruned scan into a full index read.
    A small scan is collected and decoded in the driver, so the plan read
    is the pruned scan's own (``_last_scan``)."""
    import io
    from contextlib import redirect_stdout
    from xltsearch_spark.catalog import IndexCatalog
    cfg = IndexConfig(doc_range_size=16, block_size=8, term_buckets=8)
    cat = IndexCatalog(spark, str(tmp_path / "wh"), cfg)
    cat.build(spark.createDataFrame(small_corpus), fingerprint="v1")
    eng = cat.engine()
    buf = io.StringIO()
    eng.score_all("common_token AND graded")
    with redirect_stdout(buf):
        eng._last_scan.explain(mode="formatted")
    plan = buf.getvalue()
    import re
    assert "PartitionFilters" in plan
    pf = plan.split("PartitionFilters", 1)[1][:400]
    assert re.search(r"field#\d+ = content", pf), pf
    assert re.search(r"bucket#\d+", pf), pf
    pushed = plan.split("PushedFilters", 1)[1][:400]
    assert "common_token" in pushed and "graded" in pushed, pushed


def test_fuzzy_damerau_transposition_golden(spark):
    """Lucene 4.6 classic-QP fuzzy is Damerau (transpositions=true):
    ``part~1`` must expand to the transposed term 'prat' (plain Levenshtein
    says 2 edits and would miss it), and a true-DL-only case ('ca'->'abc'
    = 2: transpose + insert BETWEEN the pair) must match at ~2."""
    import pandas as pd
    corpus = pd.DataFrame({
        "repo": ["r0"] * 4, "path": ["a", "b", "c", "d"], "commit": ["x"] * 4,
        "lang": ["py"] * 4,
        "content": ["part engine", "prat engine", "abc engine", "zzz engine"],
        "title": [None] * 4,
    })
    cfg = IndexConfig(doc_range_size=16, block_size=8, term_buckets=8)
    engine, _ = build_engine(spark, corpus, cfg)
    oracle = OracleIndex(corpus, cfg)
    hits1 = {int(r["doc_id"]) for r in engine.search_scores("part~1", 10).collect()}
    assert hits1 == {0, 1}, hits1  # transposition is ONE edit
    hits2 = {int(r["doc_id"]) for r in engine.search_scores("ca~2", 10).collect()}
    assert 2 in hits2, hits2       # true DL (not OSA): d('ca','abc') = 2
    assert_rank_identical(engine, oracle, ["part~1", "ca~2", "part~2", "engine~1"])


def test_phrase_vectorized_random_stress(spark):
    """Randomized cross-check of the batch-vectorized phrase kernel against
    the scalar per-doc oracle (functions/phrase.py): a 4-word vocabulary so
    every doc carries many anchors, duplicate phrase terms, slop 0-3."""
    import numpy as np
    import pandas as pd
    rng = np.random.default_rng(7)
    n = 120
    corpus = pd.DataFrame({
        "repo": ["r0"] * n,
        "path": [f"p{i}" for i in range(n)],
        "commit": ["c"] * n,
        "lang": ["py"] * n,
        "content": [" ".join(rng.choice(["pa", "pb", "pc", "pd"],
                                        size=rng.integers(3, 40)).tolist())
                    for _ in range(n)],
        "title": [None] * n,
    })
    cfg = IndexConfig(doc_range_size=16, block_size=8, term_buckets=8)
    engine, _ = build_engine(spark, corpus, cfg)
    oracle = OracleIndex(corpus, cfg)
    assert_rank_identical(engine, oracle,
                          ['"pa pb"', '"pa pb"~1', '"pa pb pc"~2', '"pa pa"',
                           '"pa pb pa"~3', '"pd pc pb pa"', '"pb pc"~0',
                           '"pa pb pa"', '"pa pa pa"'])


def test_wand_zero_boost_term_does_not_crash(spark, small_corpus, tmp_path):
    """'term^0 OR other' through the exact-stats WAND path: the pushed
    filter divides by the boost, which must be guarded for w <= 0."""
    from xltsearch_spark.catalog import IndexCatalog
    cfg = IndexConfig(doc_range_size=16, block_size=8, term_buckets=8)
    cat = IndexCatalog(spark, str(tmp_path / "wh"), cfg)
    cat.build(spark.createDataFrame(small_corpus), fingerprint="v1")
    eng = cat.engine()
    eng.wand_min_df = 1
    wand = [(r["doc_id"], round(r["score"], 9)) for r in
            eng.search_scores("common_token^0 OR graded", 5).collect()]
    eng.wand_enabled = False  # general path
    brute = [(r["doc_id"], round(r["score"], 9)) for r in
             eng.search_scores("common_token^0 OR graded", 5).collect()]
    assert wand == brute and len(wand) == 5


def test_term_stats_cache_repeat_queries_identical(bm25_setup):
    """The term-statistics cache (the Lucene terms-dict role) must be
    transparent: repeated and overlapping queries return identical
    results, negatives are cached (absent term -> df 0), and the cache
    actually populates, for WAND-shaped and conjunctive queries alike."""
    from xltsearch_spark.operators.search import TermStats
    engine, oracle, _ = bm25_setup
    engine.clear_stats_cache()
    first = [(r["doc_id"], r["score"]) for r in
             engine.search_scores("graded OR nosuchterm_xyz", 10).collect()]
    assert engine._term_cache[("content", "graded")].df > 0
    assert engine._term_cache[("content", "nosuchterm_xyz")] == TermStats()
    second = [(r["doc_id"], r["score"]) for r in
              engine.search_scores("graded OR nosuchterm_xyz", 10).collect()]
    assert first == second
    engine.search_scores("graded AND alpha", 10).collect()
    assert engine._term_cache[("content", "alpha")].df > 0
    exp = [h["doc_id"] for h in oracle.search("graded AND alpha", 10)]
    got = [int(r["doc_id"]) for r in
           engine.search_scores("graded AND alpha", 10).collect()]
    assert got == exp


def test_tfidf_wand_rank_identical_and_pushed_filter(spark, tmp_path):
    """Block-max WAND under DefaultSimilarity (model='default'): block
    metadata is stored model-natively, so the pruned path must reproduce
    the brute-force top-k (coord + queryNorm folded into the bounds) and
    push a plain block_max_score comparison into the scan."""
    import io
    from contextlib import redirect_stdout
    from xltsearch_spark.sources.corpus import generate_corpus
    corpus = generate_corpus(600)
    cfg = IndexConfig(scoring_model="default", doc_range_size=64,
                      block_size=8, term_buckets=8)
    engine, _ = build_engine(spark, corpus, cfg)
    engine.wand_min_df = 1
    oracle = OracleIndex(corpus, cfg)
    for q, k in [("common_token", 10), ("graded", 5),
                 ("common_token OR graded OR alpha", 10),
                 ("graded^3 OR beta", 7)]:
        exp = [(h["doc_id"], h["score"]) for h in oracle.search(q, k)]
        got = [(int(r["doc_id"]), float(r["score"]))
               for r in engine.search_scores(q, k).collect()]
        assert [g[0] for g in got] == [e[0] for e in exp], f"{q}: {got} vs {exp}"
        for (gd, gs), (_, es) in zip(got, exp):
            assert gs == pytest.approx(es, rel=1e-6), f"{q} doc {gd}"
    # metadata-seeded tau + a pushed-down block_max_score filter — the
    # pushdown needs a parquet-backed index (catalog), not a cached frame
    engine.search_scores("common_token", 5).collect()
    assert engine._last_wand_tau_source == "metadata"
    from xltsearch_spark.catalog import IndexCatalog
    cat = IndexCatalog(spark, str(tmp_path / "wh"), cfg)
    cat.build(spark.createDataFrame(corpus), fingerprint="v1")
    eng_fs = cat.engine()
    eng_fs.wand_min_df = 1
    # limit <= block_size: tau seeding needs one FULL block (n_docs >= k)
    fs_hits = [(int(r["doc_id"]), float(r["score"]))
               for r in eng_fs.search_scores("common_token", 5).collect()]
    assert [h[0] for h in fs_hits] == \
        [h["doc_id"] for h in oracle.search("common_token", 5)]
    assert eng_fs._last_wand_tau_source == "metadata"
    buf = io.StringIO()
    with redirect_stdout(buf):
        eng_fs._last_scan.explain(mode="formatted")
    assert "GreaterThanOrEqual(block_max_score" in buf.getvalue()


def _wand_cond(engine, query, limit):
    """The WAND scan filter ``engine`` derives for the top ``limit`` of
    ``query`` (None when WAND declines)."""
    ast = engine._parse(query)
    return engine._wand_cond(ast, engine._term_stats(engine._collect_leaves(ast)[0]),
                             limit)


def test_wand_declines_on_block_provenance_mismatch(spark, tiny_corpus):
    """An engine whose scoring model / quantization differs from what the
    blocks were BUILT under is told so (``blocks_exact=False``) and must
    not trust stored block metadata: the
    quantized-norm engine over unquantized-built frames (and the TF-IDF
    engine over BM25-built frames) decline WAND and brute-force — results
    must still match the oracle."""
    from dataclasses import replace as _replace
    cfg = IndexConfig(scoring_model="bm25", quantize_norms=False,
                      doc_range_size=16, block_size=8, term_buckets=8)
    builder = IndexBuilder(spark, cfg)
    corpus = spark.createDataFrame(tiny_corpus)
    docs = builder.docs_stage(corpus).persist()
    runs = builder.runs_stage(docs).persist()
    stats = builder.stats_stage(docs, runs)
    dictionary = builder.dictionary_stage(runs).persist()
    postings = builder.postings_stage(runs, stats).persist()
    for derived in (_replace(cfg, quantize_norms=True),
                    _replace(cfg, scoring_model="default")):
        eng = SearchEngine(spark, postings, docs, dictionary, stats, derived,
                           blocks_exact=False)
        eng.wand_min_df = 1
        assert _wand_cond(eng, "common_token", 5) is None  # provenance mismatch
        oracle = OracleIndex(tiny_corpus, derived)
        assert_rank_identical(eng, oracle, ["common_token", "graded OR beta"])
    # matching provenance keeps the fast path alive
    eng_ok = SearchEngine(spark, postings, docs, dictionary, stats, cfg)
    eng_ok.wand_min_df = 1
    assert _wand_cond(eng_ok, "common_token", 5) is not None


def test_conjunction_range_pruning_rank_identical(spark):
    """Rarest-first doc-range pruning (leapfrog analog): a rare AND
    frequent conjunction must scan strictly fewer blocks of the frequent
    term while returning the identical result set, and the pruned scan
    must carry pushed skip_first_doc/skip_last_doc range comparisons."""
    import io
    from contextlib import redirect_stdout
    from pyspark.sql import functions as F
    from xltsearch_spark.sources.corpus import generate_corpus
    corpus = generate_corpus(600)
    cfg = IndexConfig(doc_range_size=64, block_size=8, term_buckets=8)
    engine, _ = build_engine(spark, corpus, cfg)
    q = "needle_17 AND common_token"
    pruned = sorted((int(r["doc_id"]), round(float(r["score"]), 9))
                    for r in engine.score_all(q).collect())
    assert engine._last_conj_ranges is not None  # pruning actually fired
    pruned_scan = engine._last_scan
    engine.conj_prune_enabled = False
    brute = sorted((int(r["doc_id"]), round(float(r["score"]), 9))
                   for r in engine.score_all(q).collect())
    assert engine._last_conj_ranges is None
    brute_scan = engine._last_scan
    assert pruned == brute and len(brute) >= 1
    n_pruned, n_brute = pruned_scan.count(), brute_scan.count()
    assert n_pruned < n_brute, (n_pruned, n_brute)  # fewer blocks decoded
    buf = io.StringIO()
    with redirect_stdout(buf):
        pruned_scan.explain(mode="formatted")
    plan = buf.getvalue()
    assert "skip_first_doc" in plan and "skip_last_doc" in plan
    engine.conj_prune_enabled = True


def test_conjunction_pruning_breadth(spark):
    """Pruning soundness across clause shapes: MUST_NOT, SHOULD siblings,
    phrases, prefix predicates, nested booleans — pruned results must
    equal the unpruned ones exactly."""
    from xltsearch_spark.sources.corpus import generate_corpus
    corpus = generate_corpus(400)
    cfg = IndexConfig(doc_range_size=64, block_size=8, term_buckets=8)
    engine, _ = build_engine(spark, corpus, cfg)
    queries = [
        "needle_17 AND common_token",
        "needle_17 AND common_token NOT graded",
        "+needle_17 graded beta",                # MUST + SHOULD siblings
        '+needle_17 "alpha beta"',               # phrase sibling
        "needle_17 AND need*",                   # predicate sibling
        "(alpha OR beta) AND needle_17",         # nested boolean sibling
        "nosuchterm_zz AND common_token",        # rarest absent -> empty
    ]
    for q in queries:
        a = sorted((int(r["doc_id"]), round(float(r["score"]), 9))
                   for r in engine.score_all(q).collect())
        engine.conj_prune_enabled = False
        b = sorted((int(r["doc_id"]), round(float(r["score"]), 9))
                   for r in engine.score_all(q).collect())
        engine.conj_prune_enabled = True
        assert a == b, f"{q}: pruned {a[:3]}... vs brute {b[:3]}..."


def test_hit_count_fast_paths(bm25_setup, spark, tiny_corpus):
    """*:* answers from collection stats and single terms from the
    dictionary doc_freq (no posting scan); with tombstones both fall back
    to the full count."""
    engine, oracle, stats = bm25_setup
    n_all, _ = engine.hit_count("*:*")
    assert n_all == stats.n_docs == engine.docs.count()
    n_term, msg = engine.hit_count("common_token", limit=7)
    assert n_term == engine.score_all("common_token").count()
    assert msg == f"{min(n_term, 7)} results"
    # tombstoned engine: fast path disabled, count excludes the dead doc
    cfg = IndexConfig(scoring_model="bm25", doc_range_size=16, block_size=8,
                      term_buckets=8)
    builder = IndexBuilder(spark, cfg)
    corpus = spark.createDataFrame(tiny_corpus)
    docs = builder.docs_stage(corpus).persist()
    runs = builder.runs_stage(docs).persist()
    st = builder.stats_stage(docs, runs)
    dead = int(engine.score_all("common_token").collect()[0]["doc_id"])
    eng2 = SearchEngine(spark, builder.postings_stage(runs, st), docs,
                        builder.dictionary_stage(runs), st, cfg,
                        tombstones_df=spark.createDataFrame([(dead,)], "doc_id long"),
                        n_tombstones=1)
    n2, _ = eng2.hit_count("common_token")
    assert n2 == n_term - 1


def test_phrase_range_pruning_rank_identical(spark):
    """Phrase terms are implicit MUSTs: the rarest phrase term's block
    doc-ranges prune the other phrase terms' (position-carrying) block
    scans; pruned results must equal brute-force for bare phrases, sloppy
    phrases, and MUST-phrase boolean clauses."""
    from xltsearch_spark.sources.corpus import generate_corpus
    corpus = generate_corpus(600)
    cfg = IndexConfig(doc_range_size=64, block_size=8, term_buckets=8)
    engine, _ = build_engine(spark, corpus, cfg)
    queries = ['"needle_17 common_token"', '"alpha beta"~2',
               '+"needle_17 common_token" graded',
               '"needle_17 common_token" AND graded']
    for q in queries:
        a = sorted((int(r["doc_id"]), round(float(r["score"]), 9))
                   for r in engine.score_all(q).collect())
        fired = engine._last_conj_ranges is not None
        engine.conj_prune_enabled = False
        b = sorted((int(r["doc_id"]), round(float(r["score"]), 9))
                   for r in engine.score_all(q).collect())
        engine.conj_prune_enabled = True
        assert a == b, f"{q}: pruned {a[:3]} vs brute {b[:3]}"
        assert fired, f"{q}: pruning did not fire"
    # single-distinct-term phrase: no sources to prune with — declines
    engine.score_all('"alpha alpha"').collect()
    assert engine._last_conj_ranges is None


def test_regexp_query_rank_identical(bm25_setup):
    """/regexp/ terms: constant-score whole-term match, engine == oracle
    (the pyoracle expands via plans.rewrite, the engine via a pushed
    rlike predicate — rank identity proves both expansions agree)."""
    engine, oracle, _ = bm25_setup
    assert_rank_identical(engine, oracle,
                          ["/needle_1[0-9]/", "/need.e_2/ OR graded",
                           "common_token AND /gr.ded/"])


def test_more_like_this_matches_oracle_or_query(bm25_setup):
    """MLT = top tf*idf terms of the source doc run as an unboosted OR:
    recompute the term selection from the pyoracle's postings, then the
    engine's MLT result must rank-match oracle.search on that OR query
    (minus the source doc)."""
    import math
    engine, oracle, _ = bm25_setup
    src = 3
    tf = {t: len(ps) for (f, t), ps in
          ((k, v.get(src)) for k, v in oracle.postings.items()
           if k[0] == "content" and v.get(src) is not None)}
    n = oracle.n_docs
    scored = sorted(
        ((round(c * (1.0 + math.log(n / (len(oracle.postings[("content", t)]) + 1))), 6), t)
         for t, c in tf.items()
         if len(oracle.postings[("content", t)]) >= 2),
        key=lambda x: (-x[0], x[1]))
    terms = [t for _, t in scored[:5]]
    assert terms, "fixture doc 3 must yield MLT terms"
    exp = [(h["doc_id"], h["score"]) for h in
           oracle.search(" OR ".join(terms), 50) if h["doc_id"] != src]
    got = [(int(r["doc_id"]), float(r["score"]))
           for r in engine.more_like_this(src, max_terms=5, min_df=2,
                                          limit=50).collect()]
    assert [g[0] for g in got][:len(exp)] == [e[0] for e in exp]
    for g, e in zip(got, exp):
        assert g[1] == pytest.approx(e[1], rel=1e-6)


def test_suggest_terms_ordering(bm25_setup):
    """Integer-only suggestion ranking: dist asc, df desc, term asc;
    the input term itself (dist 0) is excluded."""
    engine, oracle, _ = bm25_setup
    got = engine.suggest_terms("gradd", k=5).collect()
    assert got and all(1 <= r["dist"] <= 2 for r in got)
    assert all(r["suggestion"] != "gradd" for r in got)
    keys = [(r["dist"], -r["df"], r["suggestion"]) for r in got]
    assert keys == sorted(keys)
    # exact expected set from the oracle's vocabulary
    import functools
    def lev(a, b):
        @functools.lru_cache(None)
        def d(i, j):
            if i == 0:
                return j
            if j == 0:
                return i
            return min(d(i - 1, j) + 1, d(i, j - 1) + 1,
                       d(i - 1, j - 1) + (a[i - 1] != b[j - 1]))
        return d(len(a), len(b))
    vocab = {t: len(ps) for (f, t), ps in oracle.postings.items()
             if f == "content"}
    exp = sorted(((lev("gradd", t), -df, t) for t, df in vocab.items()
                  if 1 <= lev("gradd", t) <= 2))[:5]
    assert [(r["dist"], -r["df"], r["suggestion"]) for r in got] == exp


def _assert_explain_consistent(engine, query, limit=10):
    """explain() invariants: per-hit coord x sum(contrib) == score ==
    search_scores; contrib rebuilds from (idf, tf_component, norm, weight)."""
    model = engine.config.scoring_model
    k1 = engine.config.k1
    rows = engine.explain(query, limit=limit).collect()
    assert rows
    per = {}
    for r in rows:
        d = per.setdefault(int(r["doc_id"]),
                           {"sum": 0.0, "coord": r["coord"], "score": r["score"]})
        d["sum"] += r["contrib"]
        assert r["coord"] == pytest.approx(d["coord"], abs=1e-12)
        raw = (r["idf"] * (k1 + 1) * r["tf_component"] if model == "bm25"
               else r["tf_component"] * r["idf"] * r["idf"] * r["norm"])
        assert r["contrib"] == pytest.approx(raw * r["weight"], rel=1e-9)
        assert r["df"] >= 1 and r["tf"] >= 1 and r["dl"] >= 1
    hits = {int(r["doc_id"]): float(r["score"])
            for r in engine.search_scores(query, limit).collect()}
    assert set(per) == set(hits)
    for doc, d in per.items():
        assert d["coord"] * d["sum"] == pytest.approx(d["score"], rel=1e-6)
        assert hits[doc] == pytest.approx(d["score"], rel=1e-9)


def test_explain_bm25(bm25_setup):
    engine, _, _ = bm25_setup
    for q in ("needle_17", "alpha OR beta", "common_token AND graded",
              "graded^2 OR alpha"):
        _assert_explain_consistent(engine, q)


def test_explain_tfidf_coord(spark, tiny_corpus):
    cfg = IndexConfig(scoring_model="default", doc_range_size=16,
                      block_size=8, term_buckets=8)
    engine, _ = build_engine(spark, tiny_corpus, cfg)
    for q in ("alpha OR beta", "common_token AND graded", "needle_17"):
        _assert_explain_consistent(engine, q)
    # a partial-overlap doc must carry coord < 1 on an OR query
    rows = engine.explain("alpha OR needle_17", limit=64).collect()
    coords = {r["coord"] for r in rows}
    assert any(c < 1.0 for c in coords)


def test_explain_doc_ids_and_errors(bm25_setup):
    engine, _, _ = bm25_setup
    top = [int(r["doc_id"]) for r in
           engine.search_scores("alpha OR beta", 3).collect()]
    rows = engine.explain("alpha OR beta", doc_ids=top[:2]).collect()
    assert {int(r["doc_id"]) for r in rows} == set(top[:2])
    # fuzzy rewrites to OR-of-terms, so it IS explainable (Lucene explains
    # the rewritten query); phrase/prefix/MUST_NOT are not.
    _assert_explain_consistent(engine, "gradd~1")
    for bad in ('"alpha beta"', "need*", "graded NOT alpha"):
        with pytest.raises(ValueError):
            engine.explain(bad)


def test_facets_match_oracle_hit_set(bm25_setup):
    """facets() == per-(lang, repo) counts over the oracle's full hit set."""
    engine, oracle, _ = bm25_setup
    for q in ("graded", "alpha OR beta", "common_token AND graded"):
        hit_ids = {h["doc_id"] for h in oracle.search(q, 10 ** 6)}
        sub = oracle.docs.iloc[sorted(hit_ids)]
        exp = sub.groupby(["lang", "repo"]).size().to_dict()
        got = {(r["lang"], r["repo"]): r["n"]
               for r in engine.facets(q, ["lang", "repo"]).collect()}
        assert got == exp, q
    with pytest.raises(ValueError):
        engine.facets("graded", [])


def test_minimum_should_match_rank_identical(bm25_setup):
    """BooleanQuery.setMinimumNumberShouldMatch parity: engine ==
    pyoracle for pure-SHOULD (flat path), MUST+SHOULD, and the general
    path (phrase clause present); msm > optional count matches nothing."""
    engine, oracle, _ = bm25_setup
    cases = [
        ("alpha OR beta OR graded", (1, 2, 3)),          # flat path
        ("+common_token alpha beta", (1, 2)),            # MUST + SHOULD
        ('"alpha beta" OR graded OR needle_17', (1, 2)),  # general path
    ]
    for q, msms in cases:
        for msm in msms:
            exp = [(h["doc_id"], h["score"])
                   for h in oracle.search(q, 100, msm=msm)]
            got = [(int(r["doc_id"]), float(r["score"]))
                   for r in engine.search_scores(q, 100, msm=msm).collect()]
            assert [g[0] for g in got] == [e[0] for e in exp], (q, msm)
            for g, e in zip(got, exp):
                assert g[1] == pytest.approx(e[1], rel=1e-6), (q, msm)
    # msm exceeding the SHOULD count -> empty (Lucene semantics)
    assert engine.search_scores("alpha OR beta", 10, msm=3).count() == 0
    assert oracle.search("alpha OR beta", 10, msm=3) == []
    with pytest.raises(ValueError):
        engine.search_scores("graded", 10, msm=1).count()


def test_minimum_should_match_tfidf_coord(spark, tiny_corpus):
    """Under DefaultSimilarity coord stays overlap/maxOverlap — msm only
    gates membership, never rescales."""
    cfg = IndexConfig(scoring_model="default", doc_range_size=16,
                      block_size=8, term_buckets=8)
    engine, _ = build_engine(spark, tiny_corpus, cfg)
    oracle = OracleIndex(tiny_corpus, cfg)
    q = "alpha OR beta OR graded"
    exp = [(h["doc_id"], h["score"]) for h in oracle.search(q, 100, msm=2)]
    got = [(int(r["doc_id"]), float(r["score"]))
           for r in engine.search_scores(q, 100, msm=2).collect()]
    assert [g[0] for g in got] == [e[0] for e in exp]
    for g, e in zip(got, exp):
        assert g[1] == pytest.approx(e[1], rel=1e-6)


def test_index_stats_match_oracle(bm25_setup):
    """CheckIndex-style collection stats: dictionary aggregate == the
    python oracle's postings map, per field."""
    engine, oracle, _ = bm25_setup
    got = {r["field"]: r for r in engine.index_stats().collect()}
    fields = {f for f, _ in oracle.postings}
    assert set(got) == fields
    for f in fields:
        terms = [(t, ps) for (ff, t), ps in oracle.postings.items() if ff == f]
        assert got[f]["n_terms"] == len(terms), f
        assert got[f]["n_postings"] == sum(len(ps) for _, ps in terms), f
        assert got[f]["sum_ttf"] == oracle.sum_ttf[f], f
        assert got[f]["n_docs"] == oracle.n_docs
        assert got[f]["avgdl"] == pytest.approx(
            oracle.sum_ttf[f] / oracle.n_docs)


def test_search_sorted_matches_oracle(bm25_setup):
    """Sort-by-stored-field results (IndexSearcher Sort analog): hit set
    ordered by (field..., doc_id), cut at limit."""
    engine, oracle, _ = bm25_setup
    hits = sorted(h["doc_id"] for h in oracle.search("graded", 10 ** 6))
    sub = oracle.docs.iloc[hits]
    exp = sorted(((r.lang, r.repo, did) for did, r in
                  zip(hits, sub.itertuples())))[:7]
    got = [(r["lang"], r["repo"], int(r["doc_id"])) for r in
           engine.search_sorted("graded", ["lang", "repo"], 7).collect()]
    assert got == exp
    with pytest.raises(ValueError):
        engine.search_sorted("graded", [])


def test_dismax_rank_identical(bm25_setup, spark, tiny_corpus):
    """DisjunctionMaxQuery: engine == pyoracle under both similarities,
    tie_breaker 0 and 0.3; single-clause dismax degrades to the clause."""
    engine, oracle, _ = bm25_setup
    cases = [(["alpha", "beta"], 0.0), (["alpha", "beta"], 0.3),
             (["graded^2", "common_token AND graded"], 0.5),
             (["needle_17"], 0.7)]
    for queries, tie in cases:
        exp = [(h["doc_id"], h["score"])
               for h in oracle.search_dismax(queries, tie, 100)]
        got = [(int(r["doc_id"]), float(r["score"]))
               for r in engine.search_dismax(queries, tie, 100).collect()]
        assert [g[0] for g in got] == [e[0] for e in exp], (queries, tie)
        for g, e in zip(got, exp):
            assert g[1] == pytest.approx(e[1], rel=1e-6), (queries, tie)
    # a 1.0 tie_breaker equals the flat OR's score sum (bm25: no coord)
    dm = {int(r["doc_id"]): float(r["score"]) for r in
          engine.search_dismax(["alpha", "beta"], 1.0, 100).collect()}
    orr = {int(r["doc_id"]): float(r["score"]) for r in
           engine.search_scores("alpha OR beta", 100).collect()}
    assert dm.keys() == orr.keys()
    for d in dm:
        assert dm[d] == pytest.approx(orr[d], rel=1e-9)
    with pytest.raises(ValueError):
        engine.search_dismax([], 0.0)
    with pytest.raises(ValueError):
        engine.search_dismax(["alpha"], 1.5)
    # tfidf: queryNorm spans BOTH clauses (DisjunctionMaxWeight sums norms)
    cfg = IndexConfig(scoring_model="default", doc_range_size=16,
                      block_size=8, term_buckets=8)
    eng_t, _ = build_engine(spark, tiny_corpus, cfg)
    oracle_t = OracleIndex(tiny_corpus, cfg)
    exp = [(h["doc_id"], h["score"])
           for h in oracle_t.search_dismax(["alpha", "beta graded"], 0.4, 100)]
    got = [(int(r["doc_id"]), float(r["score"]))
           for r in eng_t.search_dismax(["alpha", "beta graded"], 0.4, 100).collect()]
    assert [g[0] for g in got] == [e[0] for e in exp]
    for g, e in zip(got, exp):
        assert g[1] == pytest.approx(e[1], rel=1e-6)


def test_span_first_rank_identical(bm25_setup, spark, tiny_corpus):
    """SpanFirstQuery: engine == pyoracle for several end cuts under both
    similarities; end beyond every dl degrades to the plain term query."""
    engine, oracle, _ = bm25_setup
    for end in (1, 3, 8):
        exp = [(h["doc_id"], h["score"])
               for h in oracle.search_span_first("graded", end, limit=100)]
        got = [(int(r["doc_id"]), float(r["score"]))
               for r in engine.search_span_first("graded", end, limit=100).collect()]
        assert [g[0] for g in got] == [e[0] for e in exp], end
        for g, e in zip(got, exp):
            assert g[1] == pytest.approx(e[1], rel=1e-6), end
    # huge end == plain term scores
    sf = {int(r["doc_id"]): float(r["score"]) for r in
          engine.search_span_first("graded", 10 ** 6, limit=100).collect()}
    tq = {int(r["doc_id"]): float(r["score"]) for r in
          engine.search_scores("graded", 100).collect()}
    assert sf.keys() == tq.keys()
    for d in sf:
        assert sf[d] == pytest.approx(tq[d], rel=1e-9)
    with pytest.raises(ValueError):
        engine.search_span_first("graded", 0)
    with pytest.raises(ValueError):
        engine.search_span_first("alpha beta", 5)
    # tfidf model path
    cfg = IndexConfig(scoring_model="default", doc_range_size=16,
                      block_size=8, term_buckets=8)
    eng_t, _ = build_engine(spark, tiny_corpus, cfg)
    oracle_t = OracleIndex(tiny_corpus, cfg)
    exp = [(h["doc_id"], h["score"])
           for h in oracle_t.search_span_first("graded", 4, limit=100)]
    got = [(int(r["doc_id"]), float(r["score"]))
           for r in eng_t.search_span_first("graded", 4, limit=100).collect()]
    assert [g[0] for g in got] == [e[0] for e in exp]
    for g, e in zip(got, exp):
        assert g[1] == pytest.approx(e[1], rel=1e-6)


def test_span_near_rank_identical(bm25_setup, spark, tiny_corpus):
    """Ordered SpanNearQuery: engine == pyoracle across term pairs and
    slops under both similarities; ordering constraint shows (a, b) vs
    (b, a) genuinely differ on an asymmetric corpus."""
    engine, oracle, _ = bm25_setup
    for a, b, slop in (("quick", "dog", 0), ("quick", "dog", 1),
                       ("quick", "dog", 3), ("dog", "quick", 3),
                       ("alpha", "beta", 2), ("common_token", "int", 5)):
        exp = [(h["doc_id"], h["score"])
               for h in oracle.search_span_near(a, b, slop, limit=100)]
        got = [(int(r["doc_id"]), float(r["score"]))
               for r in engine.search_span_near(a, b, slop, limit=100).collect()]
        assert [g[0] for g in got] == [e[0] for e in exp], (a, b, slop)
        for g, e in zip(got, exp):
            assert g[1] == pytest.approx(e[1], rel=1e-6), (a, b, slop)
    # ordering matters: at least one direction differs on this corpus
    fwd = {d for d, _ in ((h["doc_id"], 0) for h in
                          oracle.search_span_near("quick", "dog", 1, limit=100))}
    rev = {d for d, _ in ((h["doc_id"], 0) for h in
                          oracle.search_span_near("dog", "quick", 1, limit=100))}
    assert fwd != rev
    with pytest.raises(ValueError):
        engine.search_span_near("quick", "dog", -1)
    with pytest.raises(ValueError):
        engine.search_span_near("alpha beta", "dog", 2)
    # tfidf model path
    cfg = IndexConfig(scoring_model="default", doc_range_size=16,
                      block_size=8, term_buckets=8)
    eng_t, _ = build_engine(spark, tiny_corpus, cfg)
    oracle_t = OracleIndex(tiny_corpus, cfg)
    exp = [(h["doc_id"], h["score"])
           for h in oracle_t.search_span_near("quick", "dog", 2, limit=100)]
    got = [(int(r["doc_id"]), float(r["score"]))
           for r in eng_t.search_span_near("quick", "dog", 2, limit=100).collect()]
    assert [g[0] for g in got] == [e[0] for e in exp]
    for g, e in zip(got, exp):
        assert g[1] == pytest.approx(e[1], rel=1e-6)


def test_span_or_rank_identical(bm25_setup, spark, tiny_corpus):
    """SpanOrQuery: engine == pyoracle; two and three clauses, both
    similarities."""
    engine, oracle, _ = bm25_setup
    for terms in (["quick", "dog"], ["alpha", "beta", "graded"]):
        exp = [(h["doc_id"], h["score"])
               for h in oracle.search_span_or(terms, limit=200)]
        got = [(int(r["doc_id"]), float(r["score"]))
               for r in engine.search_span_or(terms, limit=200).collect()]
        assert [g[0] for g in got] == [e[0] for e in exp], terms
        for g, e in zip(got, exp):
            assert g[1] == pytest.approx(e[1], rel=1e-6), terms
    # duplicate clauses each contribute their spans (SpanOr unions clause
    # span streams): sf doubles AND idf doubles vs the single-term query
    exp = [(h["doc_id"], h["score"])
           for h in oracle.search_span_or(["quick", "quick"], limit=200)]
    got = [(int(r["doc_id"]), float(r["score"])) for r in
           engine.search_span_or(["quick", "quick"], limit=200).collect()]
    assert [g[0] for g in got] == [e[0] for e in exp]
    for g, e in zip(got, exp):
        assert g[1] == pytest.approx(e[1], rel=1e-6)
    with pytest.raises(ValueError):
        engine.search_span_or([])
    cfg = IndexConfig(scoring_model="default", doc_range_size=16,
                      block_size=8, term_buckets=8)
    eng_t, _ = build_engine(spark, tiny_corpus, cfg)
    oracle_t = OracleIndex(tiny_corpus, cfg)
    exp = [(h["doc_id"], h["score"])
           for h in oracle_t.search_span_or(["quick", "dog"], limit=200)]
    got = [(int(r["doc_id"]), float(r["score"]))
           for r in eng_t.search_span_or(["quick", "dog"], limit=200).collect()]
    assert [g[0] for g in got] == [e[0] for e in exp]
    for g, e in zip(got, exp):
        assert g[1] == pytest.approx(e[1], rel=1e-6)
    # span_not under tfidf on the same engine/oracle pair
    exp = [(h["doc_id"], h["score"])
           for h in oracle_t.search_span_not("quick", "dog", 1, 2, limit=200)]
    got = [(int(r["doc_id"]), float(r["score"])) for r in
           eng_t.search_span_not("quick", "dog", 1, 2, limit=200).collect()]
    assert [g[0] for g in got] == [e[0] for e in exp]
    for g, e in zip(got, exp):
        assert g[1] == pytest.approx(e[1], rel=1e-6)


def test_span_not_rank_identical(bm25_setup):
    """SpanNotQuery: engine == pyoracle across pre/post windows; the
    (0, 0) window never excludes under the standard analyzer (positions
    are distinct), so it must equal the plain term query."""
    engine, oracle, _ = bm25_setup
    for pre, post in ((0, 3), (2, 0), (1, 1), (0, 0)):
        exp = [(h["doc_id"], h["score"])
               for h in oracle.search_span_not("quick", "dog", pre, post,
                                               limit=200)]
        got = [(int(r["doc_id"]), float(r["score"]))
               for r in engine.search_span_not("quick", "dog", pre, post,
                                               limit=200).collect()]
        assert [g[0] for g in got] == [e[0] for e in exp], (pre, post)
        for g, e in zip(got, exp):
            assert g[1] == pytest.approx(e[1], rel=1e-6), (pre, post)
    tq = {int(r["doc_id"]): float(r["score"])
          for r in engine.search_scores("quick", 200).collect()}
    sn = {int(r["doc_id"]): float(r["score"])
          for r in engine.search_span_not("quick", "dog", 0, 0,
                                          limit=200).collect()}
    assert sn.keys() == tq.keys()
    for d in sn:
        assert sn[d] == pytest.approx(tq[d], rel=1e-9)
    # a doc-covering window must empty every co-occurrence doc
    wide = {int(r["doc_id"]) for r in
            engine.search_span_not("quick", "dog", 1 << 20, 1 << 20,
                                   limit=200).collect()}
    both = {int(r["doc_id"]) for r in
            engine.search_scores("quick AND dog", 200).collect()}
    assert not (wide & both)
    with pytest.raises(ValueError):
        engine.search_span_not("quick", "dog", -1, 0)


def test_search_collapsed_matches_oracle(bm25_setup):
    """Field collapsing: engine == pyoracle for several (group_limit,
    limit) shapes; grp_rank values and group membership agree; rank never
    exceeds group_limit and each group appears <= group_limit times."""
    engine, oracle, _ = bm25_setup
    for gl, lim in ((1, 10), (2, 20), (3, 100)):
        exp = [(h["doc_id"], h["lang"], h["score"], h["grp_rank"])
               for h in oracle.search_collapsed("common_token", "lang",
                                                gl, lim)]
        got = [(int(r["doc_id"]), r["lang"], float(r["score"]),
                int(r["grp_rank"]))
               for r in engine.search_collapsed("common_token", "lang",
                                                gl, lim).collect()]
        assert got == exp, (gl, lim)
        from collections import Counter as C
        assert all(r[3] <= gl for r in got)
        assert all(c <= gl for c in C(r[1] for r in got).values())
    with pytest.raises(ValueError):
        engine.search_collapsed("common_token", "lang", 0)


def test_phrase_prefix_rank_identical(bm25_setup, spark, tiny_corpus):
    """MultiPhraseQuery phrase-prefix: engine == pyoracle ranks and scores
    for multi-expansion, single-expansion, and no-hit prefixes; empty
    expansion sets return no hits; error contracts match Lucene's
    (TooManyClauses analog, <2 analyzed tokens)."""
    engine, oracle, _ = bm25_setup
    for phrase in ("lazy dr", "flush fl", "dog w", "dog zzzznope"):
        exp = [(h["doc_id"], h["score"])
               for h in oracle.search_phrase_prefix(phrase, limit=200)]
        got = [(int(r["doc_id"]), float(r["score"])) for r in
               engine.search_phrase_prefix(phrase, limit=200).collect()]
        assert [g[0] for g in got] == [e[0] for e in exp], phrase
        for g, e in zip(got, exp):
            assert g[1] == pytest.approx(e[1], rel=1e-6), phrase
    with pytest.raises(ValueError):
        engine.search_phrase_prefix("lazy")  # needs exact slot + prefix
    with pytest.raises(ValueError):
        # TooManyClauses analog: every term is an expansion at cap 1
        engine.search_phrase_prefix("lazy d", max_expansions=1)


def test_phrase_prefix_tfidf_and_exact_degeneration(spark, tiny_corpus):
    """Under DefaultSimilarity the ranks still match the oracle; a prefix
    equal to a full unique term scores EXACTLY like the plain phrase when
    the expansion set is that single term (MultiPhrase degenerates to
    PhraseQuery up to identical stats)."""
    cfg = IndexConfig(scoring_model="default", doc_range_size=16,
                      block_size=8, term_buckets=8)
    engine, _ = build_engine(spark, tiny_corpus, cfg)
    oracle = OracleIndex(tiny_corpus, cfg)
    for phrase in ("lazy dr", "flush fl"):
        exp = [(h["doc_id"], h["score"])
               for h in oracle.search_phrase_prefix(phrase, limit=200)]
        got = [(int(r["doc_id"]), float(r["score"])) for r in
               engine.search_phrase_prefix(phrase, limit=200).collect()]
        assert [g[0] for g in got] == [e[0] for e in exp], phrase
        for g, e in zip(got, exp):
            assert g[1] == pytest.approx(e[1], rel=1e-6), phrase
    # degeneration: expansions == {'driver'} -> same hits as "lazy driver"
    exp_terms = [t for t in oracle.vocab.get("content", ())
                 if t.startswith("driver")]
    if len(exp_terms) == 1:
        pp = {int(r["doc_id"]): float(r["score"]) for r in
              engine.search_phrase_prefix("lazy driver", limit=200).collect()}
        ph = {h["doc_id"]: h["score"]
              for h in oracle.search('"lazy driver"', limit=200)}
        assert set(pp) == set(ph)
        for d, sc in pp.items():
            assert sc == pytest.approx(ph[d], rel=1e-6)


def test_search_after_pagination(bm25_setup):
    """IndexSearcher.searchAfter: engine page 2 == pyoracle page 2; pages
    are disjoint and page1+page2 == top-2k; an off-ranking cursor (score
    below every hit) yields an empty page."""
    engine, oracle, _ = bm25_setup
    k = 15
    top2k = [(h["doc_id"], h["score"])
             for h in oracle.search("common_token OR graded", limit=2 * k)]
    page1 = top2k[:k]
    cur_s, cur_d = page1[-1][1], page1[-1][0]
    exp2 = [(h["doc_id"], h["score"]) for h in
            oracle.search_after("common_token OR graded", cur_s, cur_d, k)]
    got2 = [(int(r["doc_id"]), float(r["score"])) for r in
            engine.search_after("common_token OR graded", cur_s, cur_d,
                                k).collect()]
    assert [g[0] for g in got2] == [e[0] for e in exp2]
    for g, e in zip(got2, exp2):
        assert g[1] == pytest.approx(e[1], rel=1e-6)
    assert not ({d for d, _ in page1} & {d for d, _ in got2})
    assert [g[0] for g in got2] == [d for d, _ in top2k[k:]]
    assert engine.search_after("common_token", -1.0, 0, 5).count() == 0
