"""Plan-shape pin: the Spark work one query costs, counted per public call.

For eight query shapes — a hot term, a three-term OR with WAND on and
off, AND, NOT, a prefix, a two-term phrase and a 16-query ``search_many``
batch of the benchmark's eight query classes — count the jobs the call
starts (``statusTracker``) and, over every SQL execution it runs, the
Exchange, Python (``MapInPandas``/``ArrowEvalPython``) and
``HashAggregate`` nodes of the executed (final adaptive) plans. The
bounds are the exact counts of the current design: each posting scan here
is small enough to decode in the driver, so its decode is one JVM-only
Arrow collect (a job), the query evaluates in the driver on the decoded
rows and answers with a local frame, whose collect starts no job; and a
repeated fuzzy term reuses its cached expansion. A change that adds a
shuffle, a Python stage, an aggregate or a job to one of these shapes
fails here.

Each shape is measured twice: cold, on its first call after
``clear_stats_cache()``, and warm, on its second call, when the engine's
term-statistics caches hold its terms: the steady-state cost of a
query. A cold exact-term query adds one job, the bounded Arrow collect of
its terms' block metadata (``_term_stats``), and no aggregate.
"""

import collections

import pytest

from xltsearch_spark.catalog import IndexCatalog
from xltsearch_spark.config import IndexConfig

BATCH = {  # two queries of each of the eight benchmark classes
    "hot1": "common_token", "hot2": "alpha",
    "rare1": "needle_17", "rare2": "needle_42",
    "and1": "alpha AND beta", "and2": "search AND index",
    "or1": "alpha OR graded", "or2": "flush OR merge",
    "not1": "alpha NOT beta", "not2": "index NOT search",
    "phrase1": '"alpha beta"', "phrase2": '"quick brown"',
    "prefix1": "ind*", "prefix2": "sea*",
    "fuzzy1": "indexe~1", "fuzzy2": "flusj~1",
}

# shape -> upper bounds (jobs, Exchange, Python, HashAggregate), warm
BOUNDS = {
    "term_hot": (1, 0, 0, 0),
    "or_wand": (1, 0, 0, 0),
    "or_general": (1, 0, 0, 0),
    "and": (1, 0, 0, 0),
    "not": (1, 0, 0, 0),
    "prefix": (1, 0, 0, 0),
    "phrase": (1, 0, 0, 0),
    "batch_16": (1, 0, 0, 0),
}
# the same right after clear_stats_cache()
COLD_BOUNDS = {
    "term_hot": (2, 0, 0, 0),
    "or_wand": (2, 0, 0, 0),
    "and": (2, 0, 0, 0),
    "phrase": (2, 0, 0, 0),
}


@pytest.fixture(scope="module")
def engine(spark, small_corpus, tmp_path_factory):
    cat = IndexCatalog(spark, str(tmp_path_factory.mktemp("plan_shape")),
                       IndexConfig())
    cat.build(spark.createDataFrame(small_corpus), fingerprint="v1")
    return cat.engine()


def _cost(spark, call) -> tuple[int, int, int, int]:
    """(jobs, Exchange, Python, HashAggregate) of one call of ``call``."""
    sc = spark.sparkContext
    bus = sc._jsc.sc().listenerBus()
    store = spark._jsparkSession.sharedState().statusStore()

    def executions():
        bus.waitUntilEmpty()
        ex = store.executionsList()
        return {ex.apply(i).executionId() for i in range(ex.size())}

    jobs0, ex0 = set(sc.statusTracker().getJobIdsForGroup(None)), executions()
    call()
    ex1 = executions()
    jobs = len(set(sc.statusTracker().getJobIdsForGroup(None)) - jobs0)
    names = collections.Counter()
    for e in ex1 - ex0:
        nodes = store.planGraph(e).allNodes()
        names.update(nodes.apply(i).name() for i in range(nodes.size()))
    return (jobs, names["Exchange"],
            names["MapInPandas"] + names["ArrowEvalPython"],
            names["HashAggregate"])


def test_plan_shape_at_or_below_bounds(spark, engine):
    def scores(q, wand=True):
        def call():
            engine.wand_enabled = wand
            try:
                engine.search_scores(q, 10).collect()
            finally:
                engine.wand_enabled = True
        return call

    shapes = {
        "term_hot": scores("common_token"),
        "or_wand": scores("alpha OR beta OR graded"),
        "or_general": scores("alpha OR beta OR graded", wand=False),
        "and": scores("alpha AND beta"),
        "not": scores("alpha NOT beta"),
        "prefix": scores("ind*"),
        "batch_16": lambda: engine.search_many(BATCH, 10).collect(),
        "phrase": scores('"alpha beta"'),
    }
    cold, warm = {}, {}
    for name, call in shapes.items():
        engine.clear_stats_cache()
        cold[name] = _cost(spark, call)
        warm[name] = _cost(spark, call)
    over = {(name, when): (got[name], bound)
            for when, got, bounds in (("cold", cold, COLD_BOUNDS), ("warm", warm, BOUNDS))
            for name, bound in bounds.items()
            if any(g > b for g, b in zip(got[name], bound))}
    assert not over, f"(jobs, Exchange, Python, HashAggregate) over bound: {over}"
