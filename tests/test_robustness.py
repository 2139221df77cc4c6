"""Robustness: parser fuzzing, unknown terms/fields, empty results."""

import pandas as pd
import pytest
from hypothesis import given, settings, strategies as st

from xltsearch_spark.config import IndexConfig
from xltsearch_spark.oracle.pyoracle import OracleIndex
from xltsearch_spark.plans.parser import QueryParseError, QueryParser

P = QueryParser("standard", keyword_fields=("repo", "lang"))


@given(st.text(min_size=1, max_size=60))
@settings(max_examples=300, deadline=None)
def test_parser_never_crashes_unexpectedly(q):
    """Any input either parses to an AST or raises QueryParseError."""
    try:
        ast = P.parse(q)
        assert ast is not None
    except QueryParseError:
        pass


@given(st.text(alphabet="abc ()\"~^+-*?:[]{}\\", min_size=1, max_size=40))
@settings(max_examples=300, deadline=None)
def test_parser_special_char_soup(q):
    try:
        P.parse(q)
    except QueryParseError:
        pass


def mini():
    return pd.DataFrame({
        "repo": ["r0", "r0"], "path": ["a", "b"], "commit": ["c", "c"],
        "lang": ["py", "go"], "content": ["foo bar", "bar baz"],
        "title": [None, None]})


def test_unknown_term_and_field_empty():
    idx = OracleIndex(mini(), IndexConfig())
    assert idx.search("zzz_not_there", 10) == []
    assert idx.search("nosuchfield:foo", 10) == []
    assert idx.search("foo AND zzz_not_there", 10) == []
    # unknown MUST_NOT term doesn't block results
    assert len(idx.search("foo -zzz_not_there", 10)) == 1


def test_fuzzy_and_wildcard_no_matches():
    idx = OracleIndex(mini(), IndexConfig())
    assert idx.search("qqqqqqqq~1", 10) == []
    assert idx.search("zz*", 10) == []


def test_phrase_single_token_degrades_to_term():
    idx = OracleIndex(mini(), IndexConfig())
    one = idx.search('"foo"', 10)
    term = idx.search("foo", 10)
    assert [(h["doc_id"], h["score"]) for h in one] == \
        [(h["doc_id"], h["score"]) for h in term]


def test_stop_only_query_raises():
    idx = OracleIndex(mini(), IndexConfig())
    with pytest.raises(QueryParseError):
        idx.search("the", 10)


def test_edge_corpus_builds_and_queries(spark):
    """Engine-level edge cases: NULL content, empty content, stop-only docs,
    unicode text, and a >255-char token all flow through build -> search
    without errors; degenerate docs simply never match."""
    import pandas as pd
    from xltsearch_spark.config import IndexConfig
    from xltsearch_spark.operators.build import IndexBuilder
    from xltsearch_spark.operators.search import SearchEngine
    from pyspark.sql.types import (StringType, StructField, StructType)

    rows = [
        ("r", "a", "c", "en", None, None),                       # NULL content
        ("r", "b", "c", "en", "", None),                         # empty
        ("r", "c", "c", "en", "the and of to is", None),         # stop-only
        ("r", "d", "c", "en", "héllo wörld unicode_token", None),
        ("r", "e", "c", "en", "x" * 400 + " normal_token", None),  # >255 token
        ("r", "f", "c", "en", "normal_token appears here", None),
    ]
    schema = StructType([StructField(c, StringType()) for c in
                         ("repo", "path", "commit", "lang", "content", "title")])
    cfg = IndexConfig(doc_range_size=8, block_size=4, term_buckets=4,
                      quantize_norms=False)
    b = IndexBuilder(spark, cfg)
    docs = b.docs_stage(spark.createDataFrame(rows, schema))
    runs = b.runs_stage(docs).persist()
    stats = b.stats_stage(docs, runs)
    eng = SearchEngine(spark, b.postings_stage(runs, stats), docs,
                       b.dictionary_stage(runs), stats, cfg)
    assert stats.n_docs == 6
    # match-all sees every doc, including contentless ones
    assert eng.score_all("*:*").count() == 6
    # normal term matches exactly the two docs carrying it
    assert eng.search_scores("normal_token", 10).count() == 2
    # unicode token round-trips through index + query analysis
    assert eng.search_scores("wörld", 10).count() == 1
    # the stop-only / empty / NULL docs never match a term query
    hits = {r["path"] for r in eng.search("normal_token OR unicode_token", 10).collect()}
    assert hits <= {"d", "e", "f"}
    # >255-char token was length-chunked, not dropped: its doc still matches
    assert eng.search_scores("normal_token AND here", 10).count() == 1


def test_read_corpus_csv_and_jsonl(spark, tmp_path):
    """CSV and JSON-lines corpora normalize to the canonical schema and
    index identically to the parquet path."""
    import json as jsonlib
    from xltsearch_spark.sources.corpus import read_corpus
    from xltsearch_spark.config import IndexConfig
    from xltsearch_spark.operators.build import IndexBuilder
    from xltsearch_spark.operators.search import SearchEngine
    rows = [{"repository": "r1", "path": f"f{i}", "body": f"csv_token doc {i}"}
            for i in range(4)]
    csv_p = tmp_path / "c.csv"
    csv_p.write_text("repository,path,body\n" +
                     "\n".join(f'{r["repository"]},{r["path"]},"{r["body"]}"'
                               for r in rows))
    jl_p = tmp_path / "c.jsonl"
    jl_p.write_text("\n".join(jsonlib.dumps(r) for r in rows))
    cmap = {"repository": "repo", "body": "content"}
    for p in (str(csv_p), str(jl_p)):
        corpus = read_corpus(spark, p, column_map=cmap)
        assert set(corpus.columns) == {"repo", "path", "commit", "lang",
                                       "content", "title"}
        cfg = IndexConfig(doc_range_size=8, block_size=4, term_buckets=4)
        b = IndexBuilder(spark, cfg)
        docs = b.docs_stage(corpus)
        runs = b.runs_stage(docs)
        stats = b.stats_stage(docs, runs)
        eng = SearchEngine(spark, b.postings_stage(runs, stats), docs,
                           b.dictionary_stage(runs), stats, cfg)
        assert eng.search_scores("csv_token", 10).count() == 4, p
    with pytest.raises(ValueError):
        read_corpus(spark, str(csv_p))  # unmapped required columns


def test_read_corpus_multiline_csv_and_jsonl_alias(spark, tmp_path):
    """Quoted CSV content with embedded newlines (code bodies!) must stay
    one row; fmt='jsonl' is accepted as an alias for json."""
    from xltsearch_spark.sources.corpus import read_corpus
    csv_p = tmp_path / "m.csv"
    csv_p.write_text('repo,path,content\nr1,f1,"line one\nline two"\nr1,f2,plain\n')
    df = read_corpus(spark, str(csv_p))
    rows = {r["path"]: r["content"] for r in df.collect()}
    assert len(rows) == 2
    assert rows["f1"] == "line one\nline two"
    jl = tmp_path / "alias_dir"
    jl.mkdir()
    (jl / "part.jsonl").write_text('{"repo":"r","path":"a","content":"x"}\n')
    assert read_corpus(spark, str(jl), fmt="jsonl").count() == 1


def test_connected_components_raises_on_nonconvergence(spark):
    from xltsearch_spark.operators import dedup
    chain = spark.createDataFrame([(i, i + 1) for i in range(1, 6)], ["a", "b"])
    with pytest.raises(RuntimeError, match="did not converge"):
        dedup.connected_components(chain, max_iter=1)
    # and converges fine with enough rounds
    comp = {r["doc_id"]: r["component"]
            for r in dedup.connected_components(chain, max_iter=20).collect()}
    assert set(comp.values()) == {1}


@given(st.text(alphabet="ab /\\()[]|.*+^~:\"", min_size=1, max_size=40))
@settings(max_examples=300, deadline=None)
def test_parser_slash_soup(q):
    """Regexp lexing (r5) must never crash on slash-heavy soup; anything
    either parses or raises QueryParseError. (Queries with NO '/' are
    provably unaffected by the regexp token — the lexer group requires
    one — so the fuzz concentrates on slash interactions.)"""
    try:
        P.parse(q)
    except QueryParseError:
        pass


@given(st.text(alphabet="ab.*|[]()", min_size=1, max_size=20))
@settings(max_examples=200, deadline=None)
def test_regexp_body_roundtrip(body):
    """/body/ either parses to RegexpQuery carrying exactly body
    (lowercased) or raises — never silently degrades to another node."""
    from xltsearch_spark.plans.parser import RegexpQuery
    try:
        ast = P.parse("/" + body + "/")
    except QueryParseError:
        return
    if isinstance(ast, RegexpQuery):
        assert ast.pattern == body.lower()


@given(st.text(alphabet="ab /\\()[].*W", min_size=1, max_size=30))
@settings(max_examples=300, deadline=None)
def test_parser_backslash_slash_soup(q):
    """Escape-heavy soup around the regexp token (the r5 review found the
    original fuzz alphabet omitted backslash)."""
    try:
        P.parse(q)
    except QueryParseError:
        pass


def test_regexp_review_regressions():
    """r5 code-review regressions, pinned: path atoms stay whole, escaped
    classes keep case, escaped-backslash close parses, malformed patterns
    raise QueryParseError (never a deep re.error / executor exception)."""
    from xltsearch_spark.plans.parser import RegexpQuery
    kp = QueryParser("standard", keyword_fields=("repo", "lang", "path"))
    assert kp.parse("path:/usr/bin").term == "/usr/bin"  # keyword atom, whole
    q = P.parse("http://example.com")  # no regexp hijack of URLs
    assert not isinstance(q, RegexpQuery)
    assert P.parse(r"/a\Wb/") == RegexpQuery("content", r"a\Wb")
    assert P.parse(r"/a\\/") == RegexpQuery("content", "a\\\\")
    with pytest.raises(QueryParseError):
        P.parse("/(/")
    with pytest.raises(QueryParseError):
        P.parse("/a{2,1}/")


def test_regexp_inner_class_open_is_literal():
    """An unescaped '[' inside a character class means the LITERAL char
    (Lucene RegExp semantics): the translated pattern escapes it so
    Python re compiles warning-free (no 'Possible nested set'
    FutureWarning — its planned semantic change would silently flip the
    meaning) and Java rlike cannot read it as a nested class union. The
    AST keeps the user's bytes; only the translation changes."""
    import re as _re
    import warnings
    from xltsearch_spark.plans.parser import RegexpQuery, escape_class_opens
    from xltsearch_spark.plans.rewrite import _anchored_regexp

    assert escape_class_opens("a[[b]c") == r"a[\[b]c"
    assert escape_class_opens(r"a[\[b]c") == r"a[\[b]c"  # already escaped
    assert escape_class_opens("[a][b]") == "[a][b]"      # two classes, no-op
    assert escape_class_opens(r"\[[a]") == r"\[[a]"      # outside-class [ kept
    assert escape_class_opens("[a&&b]") == r"[a\&\&b]"   # Java intersection
    assert escape_class_opens("[a||b]") == r"[a\|\|b]"   # set-union warning
    assert escape_class_opens("a|b[~]") == r"a|b[\~]"    # outside-class | kept
    assert escape_class_opens("[a-z]") == "[a-z]"        # ranges untouched
    ast = P.parse("/x[[y]z/")
    assert ast == RegexpQuery("content", "x[[y]z")       # AST round-trips raw
    with warnings.catch_warnings():
        warnings.simplefilter("error")                   # any warning fails
        rx = _re.compile(_anchored_regexp(ast.pattern))
    assert rx.match("x[z") and rx.match("xyz") and not rx.match("xz")



def test_regexp_leading_bracket_in_class_is_literal():
    """A ']' right after '[' or '[^' is a class member in Lucene RegExp
    (and Python re): '[]&&a]' is the class of ']', '&' and 'a'. The
    translation escapes it so the class-literal scanner does not close
    the class there, which left '&&' / '|' unescaped (FutureWarning in
    Python re, class intersection in Java regex)."""
    import re as _re
    import warnings
    from xltsearch_spark.plans.parser import RegexpQuery, escape_class_opens
    from xltsearch_spark.plans.rewrite import _anchored_regexp

    assert escape_class_opens("[]&&a]") == r"[\]\&\&a]"
    assert escape_class_opens("[^]|b]") == r"[^\]\|b]"
    assert escape_class_opens("[^a]") == "[^a]"
    cases = {"[]&&a]": ("]&a", "b|c"), "[^]|b]": ("&ac", "]|b")}
    keys = sorted("]&ab|c")
    corpus = pd.DataFrame({"repo": keys, "path": "p", "commit": "c",
                           "lang": "py", "content": "z", "title": None})
    oracle = OracleIndex(corpus)
    for pat, (hit, miss) in cases.items():
        assert P.parse(f"/{pat}/") == RegexpQuery("content", pat)
        with warnings.catch_warnings():
            warnings.simplefilter("error")
            rx = _re.compile(_anchored_regexp(pat))
            found = {keys[h["doc_id"]] for h in oracle.search(f"repo:/{pat}/", 10)}
        assert all(rx.match(c) for c in hit) and not any(rx.match(c) for c in miss)
        assert found == set(hit), pat

def test_msm_fuzz_engine_equals_pyoracle(spark):
    """Randomized minimum-should-match queries: engine == pyoracle over
    random clause mixes (+/-/plain, dup terms) and msm values — both
    eval paths exercised via a module-shared engine."""
    import itertools
    import random

    from tests.test_engine import build_engine
    from xltsearch_spark.config import IndexConfig
    from xltsearch_spark.oracle.pyoracle import OracleIndex
    from xltsearch_spark.sources.corpus import generate_corpus

    corpus = generate_corpus(64)
    cfg = IndexConfig(doc_range_size=16, block_size=8, term_buckets=8)
    engine, _ = build_engine(spark, corpus, cfg)
    oracle = OracleIndex(corpus, cfg)
    vocab = ["alpha", "beta", "graded", "common_token", "needle_17",
             "zz_unseen"]
    rng = random.Random(7)
    for trial in range(12):
        n = rng.randint(2, 4)
        clauses = []
        for _ in range(n):
            occ = rng.choice(["", "", "", "+", "-"])
            clauses.append(occ + rng.choice(vocab))
        if all(c.startswith("-") for c in clauses):
            clauses[0] = clauses[0][1:]
        q = " ".join(clauses)
        msm = rng.randint(0, 3)
        exp = [(h["doc_id"], round(h["score"], 9))
               for h in oracle.search(q, 200, msm=msm)]
        got = [(int(r["doc_id"]), round(float(r["score"]), 9))
               for r in engine.search_scores(q, 200, msm=msm).collect()]
        assert [g[0] for g in got] == [e[0] for e in exp], (trial, q, msm)
        for g, e in zip(got, exp):
            assert abs(g[1] - e[1]) < 1e-6 * max(1.0, abs(e[1])), (q, msm)


def test_spans_fuzz_engine_equals_pyoracle(spark):
    """Randomized spans-family queries (first/near/or/not) over random
    terms, ends, slops, and exclusion windows: engine == pyoracle on both
    ranks and scores. Includes absent-vocabulary terms (empty results and
    no-exclusion paths must agree too)."""
    import random

    from tests.test_engine import build_engine
    from xltsearch_spark.config import IndexConfig
    from xltsearch_spark.oracle.pyoracle import OracleIndex
    from xltsearch_spark.sources.corpus import generate_corpus

    corpus = generate_corpus(64)
    cfg = IndexConfig(doc_range_size=16, block_size=8, term_buckets=8)
    engine, _ = build_engine(spark, corpus, cfg)
    oracle = OracleIndex(corpus, cfg)
    vocab = ["alpha", "beta", "graded", "common_token", "quick", "dog",
             "needle_17", "zz_unseen"]
    rng = random.Random(11)

    def compare(got_df, exp_rows, ctx):
        exp = [(h["doc_id"], round(h["score"], 9)) for h in exp_rows]
        got = [(int(r["doc_id"]), round(float(r["score"]), 9))
               for r in got_df.collect()]
        assert [g[0] for g in got] == [e[0] for e in exp], ctx
        for g, e in zip(got, exp):
            assert abs(g[1] - e[1]) < 1e-6 * max(1.0, abs(e[1])), ctx

    for trial in range(10):
        kind = rng.choice(["first", "near", "or", "not"])
        if kind == "first":
            t, end = rng.choice(vocab), rng.randint(1, 40)
            compare(engine.search_span_first(t, end, limit=100),
                    oracle.search_span_first(t, end, limit=100),
                    (trial, kind, t, end))
        elif kind == "near":
            a, b = rng.choice(vocab), rng.choice(vocab)
            slop = rng.randint(0, 8)
            compare(engine.search_span_near(a, b, slop, limit=100),
                    oracle.search_span_near(a, b, slop, limit=100),
                    (trial, kind, a, b, slop))
        elif kind == "or":
            terms = rng.sample(vocab, rng.randint(1, 3))
            compare(engine.search_span_or(terms, limit=100),
                    oracle.search_span_or(terms, limit=100),
                    (trial, kind, tuple(terms)))
        else:
            a, b = rng.choice(vocab), rng.choice(vocab)
            pre, post = rng.randint(0, 5), rng.randint(0, 5)
            compare(engine.search_span_not(a, b, pre, post, limit=100),
                    oracle.search_span_not(a, b, pre, post, limit=100),
                    (trial, kind, a, b, pre, post))
