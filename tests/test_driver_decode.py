"""Driver-side decode of small pruned posting scans.

A scan of at most ``DRIVER_MAX_BLOCKS`` blocks decodes in the driver after
one Arrow collect; a larger one decodes on the executors in a
``mapInPandas``. Both run the same batch body, so their frames must be
equal row for row, and every answer must be the same bits on either path.
"""

import pytest
from pyspark.sql import DataFrame, functions as F

from xltsearch_spark.catalog import IndexCatalog
from xltsearch_spark.config import IndexConfig
from xltsearch_spark.operators import search
from xltsearch_spark.sources.corpus import generate_corpus

QUERIES = ["common_token", "needle_17", "alpha AND beta", "alpha OR graded",
           "alpha NOT beta", '"alpha beta"', "gradd~1",
           "(alpha OR beta) AND common_token"]
# predicate leaves: their scans have no block bound, so the limit probe
# decides. BM25 only: under DefaultSimilarity the queryNorm recursion
# (scoring.tfidf_sum_sq_weights) raises TypeError on them on either path.
PRED_QUERIES = ["ind*", "c*", "[needle_10 TO needle_20]"]
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
    assert two.stats.segments == 2 and two.has_tombstones
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
            driver = engine._decode_blocks(scan, idf_map, with_positions)
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
    executors; the answers are the same bits, and no driver collect
    carries more than cap + 1 blocks."""
    cap = 2
    bm25 = engines[0].config.scoring_model == "bm25"
    queries = QUERIES + (PRED_QUERIES if bm25 else [])
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
            if bm25:
                assert _has_python_decode(engine.score_all("c*"))  # probe overflows
            got = {q: engine.search_scores(q, 20).collect() for q in queries}
        assert got == want
        assert collected and max(collected) <= cap + 1


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
