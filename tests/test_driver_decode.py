"""Driver-side decode and evaluation of small pruned posting scans.

A scan of at most ``DRIVER_MAX_BLOCKS`` blocks decodes in the driver after
one Arrow collect and the query evaluates there; a larger one decodes on
the executors in a ``mapInPandas`` and evaluates after one
``repartition("doc_id")``. Both placements run the same batch body and the
same evaluator, so their frames must be equal row for row, and every
answer must be the same bits on either placement.
"""

import pytest
from pyspark.sql import DataFrame, functions as F

from xltsearch_spark.catalog import IndexCatalog
from xltsearch_spark.config import IndexConfig
from xltsearch_spark.operators import search
from xltsearch_spark.oracle.pyoracle import OracleIndex
from xltsearch_spark.sources.corpus import generate_corpus

QUERIES = ["common_token", "needle_17", "alpha AND beta", "alpha OR graded",
           "alpha NOT beta", '"alpha beta"', "gradd~1",
           "(alpha OR beta) AND common_token", 'alpha OR "zzqq yyqq"']
# predicate leaves: their scans have no block bound, so the limit probe
# decides
PRED_QUERIES = ["ind*", "c*", "[needle_10 TO needle_20]"]
# MatchAll leaves read the live doc ids
MATCH_ALL_QUERIES = ["*:* NOT alpha", "*:* AND alpha"]
WIDE = "common_token OR alpha OR graded"  # more than two blocks


@pytest.fixture(scope="module", params=["bm25", "default"])
def engines(request, spark, tmp_path_factory):
    """(single-segment engine, two-segment tombstoned engine) per model."""
    cfg = IndexConfig(scoring_model=request.param)
    cat = IndexCatalog(spark, str(tmp_path_factory.mktemp("drv")), cfg)
    cat.build(spark.createDataFrame(generate_corpus(200)), fingerprint="v1")
    one = cat.engine()
    cat.update(spark.createDataFrame(generate_corpus(200, version=2)),
               fingerprint="v2")
    two = cat.engine()
    assert len(cat.read_meta()["segments"]) == 2 and two.has_tombstones
    return one, two


def _has_python_decode(df: DataFrame) -> bool:
    return "MapInPandas" in df._jdf.queryExecution().executedPlan().toString()


def _rows(df: DataFrame) -> list:
    return sorted(tuple(r) for r in df.collect())


@pytest.mark.parametrize("with_positions", [False, True])
def test_driver_decode_equals_executor_decode(engines, monkeypatch, with_positions):
    for engine in engines:
        idf_map = {(r["field"], r["term"]): int(r["doc_freq"])
                   for r in engine.dictionary.groupBy("field", "term")
                   .agg(F.sum("doc_freq").alias("doc_freq")).collect()}
        scans = {"all": engine.postings,
                 "terms": engine.postings.filter(
                     F.col("term").isin("alpha", "beta", "needle_17")),
                 "empty": engine.postings.filter(F.lit(False))}
        for name, scan in scans.items():
            driver = engine._as_frame(engine._decode_blocks(scan, idf_map, with_positions))
            assert not _has_python_decode(driver)
            with monkeypatch.context() as m:
                m.setattr(search, "DRIVER_MAX_BLOCKS", -1)  # always executors
                executor = engine._decode_blocks(scan, idf_map, with_positions)
            assert _has_python_decode(executor)
            got, want = _rows(driver), _rows(executor)
            assert got == want, name
            assert (len(got) == 0) == (name == "empty")
            if with_positions and name != "empty":
                assert any(r[-1] is not None for r in got)


def test_executor_fallback_above_cap(engines, monkeypatch):
    """With a 2-block cap every scan but the smallest decodes on the
    executors (with the live-doc rows of a ``*:*`` leaf, though those
    alone would fit the driver); the answers are the same bits, and no
    driver collect carries more than cap + 1 rows."""
    cap = 2
    queries = QUERIES + PRED_QUERIES + MATCH_ALL_QUERIES
    for engine in engines:
        want = {q: engine.search_scores(q, 20).collect() for q in queries}
        assert not _has_python_decode(engine.score_all(WIDE))
        collected = []
        frame = type(engine.postings)
        to_arrow = frame.toArrow

        def spy(df):
            table = to_arrow(df)
            collected.append(table.num_rows)
            return table

        with monkeypatch.context() as m:
            m.setattr(search, "DRIVER_MAX_BLOCKS", cap)
            m.setattr(frame, "toArrow", spy)
            assert _has_python_decode(engine.score_all(WIDE))
            assert _has_python_decode(engine.score_all("c*"))  # probe overflows
            got = {q: engine.search_scores(q, 20).collect() for q in queries}
        assert got == want
        assert collected and max(collected) <= cap + 1


def test_term_stats_overflow_aggregate_matches_collect(engines, monkeypatch):
    """Past DRIVER_MAX_BLOCKS block rows the term statistics come from one
    groupBy(field, term, n_docs) aggregate instead of the bounded collect:
    the same df (the dictionary's doc_freq), block count, ceilings and tau
    seeds, and doc spans that cover the collected ones."""
    from dataclasses import replace
    terms = [("content", t) for t in
             ("common_token", "alpha", "beta", "graded", "needle_17", "zzqq")]
    for engine in engines:
        dic = {(r["field"], r["term"]): r["df"] for r in engine.dictionary
               .groupBy("field", "term").agg(F.sum("doc_freq").alias("df")).collect()}
        engine.clear_stats_cache()
        collected = engine._term_stats(terms)
        engine.clear_stats_cache()
        with monkeypatch.context() as m:
            m.setattr(search, "DRIVER_MAX_BLOCKS", 2)
            aggregated = engine._term_stats(terms)
        engine.clear_stats_cache()
        assert sum(s.n_blocks for s in collected.values()) > 2
        for t in terms:
            c, a = collected[t], aggregated[t]
            assert c.df == dic.get(t, 0), t
            assert replace(a, spans=c.spans) == c, t
            assert all(any(lo <= c_lo and c_hi <= hi for lo, hi in a.spans)
                       for c_lo, c_hi in c.spans), t


def test_fuzzy_expansion_cached_per_generation(spark, engines):
    engine = engines[0]
    sc = spark.sparkContext

    def jobs_and_scores():
        before = set(sc.statusTracker().getJobIdsForGroup(None))
        rows = engine.search_scores("gradd~1", 20).collect()
        return len(set(sc.statusTracker().getJobIdsForGroup(None)) - before), rows

    jobs_and_scores()  # warm the term-statistics caches
    engine._fuzzy_cache.clear()
    cold_jobs, cold = jobs_and_scores()
    warm_jobs, warm = jobs_and_scores()
    assert cold_jobs - warm_jobs == 2
    assert warm == cold and cold


@pytest.fixture
def both(monkeypatch):
    """Runs a call under both placements — the driver (the default) and
    the executors (forced by a 0-block cap) — and returns both answers."""
    def run(call):
        driver = call()
        with monkeypatch.context() as m:
            m.setattr(search, "DRIVER_MAX_BLOCKS", 0)
            return driver, call()
    return run


def test_placements_give_same_bits(engines, both):
    """Every query shape answers the same (doc_id, score) bits in the
    driver and on the executors, and a ``search_many`` batch answers each
    query as ``search_scores`` does, on either placement."""
    queries = QUERIES + PRED_QUERIES + MATCH_ALL_QUERIES
    for engine in engines:
        def answers():
            single = {q: engine.search_scores(q, 20).collect() for q in queries}
            many = engine.search_many({str(i): q for i, q in enumerate(queries)},
                                       20).collect()
            for i, q in enumerate(queries):
                ranked = sorted((r["rank"], r["doc_id"], r["score"])
                                for r in many if r["query_id"] == str(i))
                assert [(d, s) for _, d, s in ranked] == \
                    [tuple(r) for r in single[q]], q
            return single, {
                "span": engine.search_span_near("alpha", "beta", 2, limit=20).collect(),
                "dismax": engine.search_dismax(["alpha", "graded"], 0.3, limit=20).collect(),
                "phrase_prefix": engine.search_phrase_prefix("alpha bet", limit=20).collect(),
                "msm": engine.search_scores("alpha beta graded", 20, msm=2).collect(),
                "evaluated_on_executors": _has_python_decode(engine.score_all("alpha")),
            }

        (single_d, api_d), (single_e, api_e) = both(answers)
        assert single_d == single_e
        assert api_d.pop("evaluated_on_executors") is False
        assert api_e.pop("evaluated_on_executors") is True
        assert api_d == api_e and all(api_d.values())


def test_executor_batches_split_at_doc_boundaries(spark, engines, both):
    """Above the cap a partition evaluates whole docs a bounded batch at a
    time. A 0-block cap bounds a batch at one row and 5-row Arrow batches
    split every partition many times, docs carrying over between them;
    every answer is still the driver's bits."""
    queries = ["alpha OR graded", "alpha NOT beta", '"alpha beta"', "ind*",
               "*:* NOT alpha"]
    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    old = spark.conf.get(key)
    for engine in engines:
        def answers():
            return ({q: engine.search_scores(q, 20).collect() for q in queries},
                    _rows(engine.score_all("alpha OR graded")),
                    engine.search_span_near("alpha", "beta", 2, limit=20).collect())

        spark.conf.set(key, "5")
        try:
            driver, executors = both(answers)
        finally:
            spark.conf.set(key, old)
        assert driver == executors and all(driver)


def test_score_all_consumers_agree_across_placements(engines, both):
    """The consumers of ``score_all`` get the same answers whether its
    frame is local (driver) or evaluated on the executors."""
    for engine in engines:
        top = engine.search_scores("alpha OR graded", 3).collect()

        def answers():
            return {
                "facets": engine.facets("alpha OR graded", ["lang"]).collect(),
                "sorted": engine.search_sorted("graded", ["path"], 5).collect(),
                "after": engine.search_after("alpha OR graded", top[1]["score"],
                                             top[1]["doc_id"], 5).collect(),
                "collapsed": engine.search_collapsed("alpha OR graded", "lang",
                                                     2, 5).collect(),
                "hit_count": engine.hit_count("alpha OR graded"),
                "explain": engine.explain("alpha OR graded", limit=5).collect(),
                "mlt": engine.more_like_this(int(top[0]["doc_id"]), limit=5).collect(),
            }

        driver, executors = both(answers)
        assert driver == executors and all(driver.values())


def test_packed_driver_frames_equal_local_relations(engines, monkeypatch):
    """A driver-built frame above LOCAL_MAX_ROWS ships as one exploded
    row of column arrays; it must hold the same rows as the plain
    LocalRelation, for hit sets, ranked batches and their consumers."""
    for engine in engines:
        def answers():
            return (_rows(engine.score_all("alpha OR graded")),
                    _rows(engine.search_many({"a": "alpha", "b": "*:* NOT beta"}, 50)),
                    engine.facets("alpha OR graded", ["lang"]).collect(),
                    engine.search_collapsed("alpha OR graded", "lang", 2, 5).collect(),
                    engine.more_like_this(3, limit=None).count())

        want = answers()
        with monkeypatch.context() as m:
            m.setattr(search, "LOCAL_MAX_ROWS", 0)
            assert "Generate" in engine.score_all("alpha")._jdf.queryExecution() \
                .optimizedPlan().toString()
            assert answers() == want and all(want)


def test_match_all_in_booleans_matches_oracle(spark, both, tmp_path):
    """``*:*`` inside a boolean ranks as the pyoracle does, on both
    placements, under both similarities."""
    corpus = generate_corpus(200)
    for model in ("bm25", "default"):
        cfg = IndexConfig(scoring_model=model)
        cat = IndexCatalog(spark, str(tmp_path / model), cfg)
        cat.build(spark.createDataFrame(corpus), fingerprint="v1")
        engine, oracle = cat.engine(), OracleIndex(corpus, cfg)
        for q in MATCH_ALL_QUERIES + ["*:*"]:
            exp = [(h["doc_id"], h["score"]) for h in oracle.search(q, 20)]
            for got in both(lambda: [(int(r["doc_id"]), float(r["score"]))
                                     for r in engine.search_scores(q, 20).collect()]):
                assert [d for d, _ in got] == [d for d, _ in exp], (model, q)
                assert [s for _, s in got] == pytest.approx([s for _, s in exp],
                                                            rel=1e-9), (model, q)
