"""Multi-term query rewrite — Lucene 4.6 MultiTermQuery semantics.

Wildcard / prefix / range queries rewrite through
``CONSTANT_SCORE_AUTO_REWRITE_DEFAULT``: every matching doc scores a
constant ``boost`` (public Lucene 4.6 behavior). Fuzzy queries rewrite
through ``TopTermsScoringBooleanQueryRewrite``: the top-50 closest terms
become SHOULD TermQueries, each boosted by the 4.6 FuzzyTermsEnum
similarity ``1 - edits / min(len(query), len(term))``.

Rewrite happens at plan time on the driver against the (small) term
dictionary — both the Spark engine and the pure-Python oracle share this
code, so expansion order/limits are identical by construction.
"""

from __future__ import annotations

import re
from dataclasses import dataclass

from xltsearch_spark.plans.parser import (
    BooleanQuery, DisMaxQuery, FuzzyQuery, MatchAllQuery, MultiPhraseQuery,
    PhraseQuery, PrefixQuery,
    SpanFirstQuery, SpanNearQuery, SpanNotQuery, SpanOrQuery,
    RangeQuery, RegexpQuery, SHOULD, TermQuery, WildcardQuery,
    escape_class_opens,
)

FUZZY_TOP_TERMS = 50  # TopTermsScoringBooleanQueryRewrite size in FuzzyQuery 4.6


@dataclass(frozen=True)
class ConstScoreTerms:
    """Rewritten multi-term query: constant score `boost` for any doc
    containing a matching term in `field` (Lucene's CONSTANT_SCORE
    rewrite). The terms are either the explicit tuple ``terms`` (``kind``
    None) or every term satisfying a predicate the engine pushes into its
    postings scan instead of expanding it on the driver: ``kind`` 'prefix'
    (payload ``(prefix,)``), 'regex' (``(java_regex,)``) or 'range'
    (``(lo, hi, include_lo, include_hi)``)."""
    field: str
    terms: tuple[str, ...] = ()
    boost: float = 1.0
    kind: str | None = None
    payload: tuple = ()

    def term_cond(self):
        """The term predicate as a Spark column expression."""
        from pyspark.sql import functions as F
        t = F.col("term")
        if self.kind is None:
            return t.isin(list(self.terms)) if self.terms else F.lit(False)
        if self.kind == "prefix":
            return t.startswith(self.payload[0])
        if self.kind == "regex":
            return t.rlike(self.payload[0])
        lo, hi, ilo, ihi = self.payload
        c = F.lit(True)
        if lo is not None:
            c = c & ((t >= lo) if ilo else (t > lo))
        if hi is not None:
            c = c & ((t <= hi) if ihi else (t < hi))
        return c


def _damerau_capped(a: str, b: str, cap: int) -> int:
    """True Damerau-Levenshtein (Lowrance-Wagner, adjacent transposition = 1
    edit), capped. Lucene 4.6's classic-QP FuzzyQuery defaults to
    transpositions=true, so ``ab~1`` must match ``ba`` — plain Levenshtein
    counts that as 2 edits and misses the expansion. Matches DuckDB's
    damerau_levenshtein (e.g. d('ca','abc') = 2), which keeps the SQL
    oracles one function call."""
    la, lb = len(a), len(b)
    if abs(la - lb) > cap:
        return cap + 1
    inf = la + lb
    # Lowrance-Wagner matrix with a 1-row/col sentinel border
    d = [[inf] * (lb + 2) for _ in range(la + 2)]
    for i in range(la + 1):
        d[i + 1][1] = i
    for j in range(lb + 1):
        d[1][j + 1] = j
    last_row = {}
    for i in range(1, la + 1):
        last_col = 0
        for j in range(1, lb + 1):
            k = last_row.get(b[j - 1], 0)
            l = last_col
            if a[i - 1] == b[j - 1]:
                cost = 0
                last_col = j
            else:
                cost = 1
            d[i + 1][j + 1] = min(
                d[i][j] + cost,          # substitute / match
                d[i + 1][j] + 1,         # insert
                d[i][j + 1] + 1,         # delete
                d[k][l] + (i - k - 1) + 1 + (j - l - 1))  # transpose
        last_row[a[i - 1]] = i
        if min(d[i + 1][1:]) > cap:
            return cap + 1
    return min(d[la + 1][lb + 1], cap + 1)


def _anchored_regexp(pattern: str) -> str:
    """Lucene RegexpQuery matches the WHOLE term — anchor the user pattern.
    The non-capturing group keeps alternations like ``a|b`` whole-term.
    Inner-class ``[`` is escaped here (see ``escape_class_opens``) so the
    engine's Java ``rlike`` and the pyoracle's Python ``re`` agree on the
    Lucene literal-``[`` semantics, warning-free."""
    return "^(?:" + escape_class_opens(pattern) + ")$"


def _wildcard_regex(pattern: str) -> re.Pattern:
    """Wildcard pattern -> regex. The pattern may still carry classic-QP
    backslash escapes: ``\\*`` / ``\\?`` stay LITERAL characters (classic
    QueryParser keeps escaped wildcards literal), unescaped ``*``/``?`` are
    wildcards."""
    out = []
    i = 0
    while i < len(pattern):
        ch = pattern[i]
        if ch == "\\" and i + 1 < len(pattern):
            out.append(re.escape(pattern[i + 1]))
            i += 2
            continue
        if ch == "*":
            out.append(".*")
        elif ch == "?":
            out.append(".")
        else:
            out.append(re.escape(ch))
        i += 1
    return re.compile("^" + "".join(out) + "$")


def rewrite(ast, vocab):
    """Expand multi-term nodes against ``vocab`` (field -> sorted term list).

    Returns an AST containing only Term/Phrase/Boolean/ConstScoreTerms/
    MatchAll nodes.
    """
    if isinstance(ast, BooleanQuery):
        return BooleanQuery(tuple((occ, rewrite(sub, vocab)) for occ, sub in ast.clauses),
                            ast.boost, ast.msm)
    if isinstance(ast, DisMaxQuery):
        return DisMaxQuery(tuple(rewrite(sub, vocab) for sub in ast.clauses),
                           ast.tie_breaker, ast.boost)
    if isinstance(ast, PrefixQuery):
        terms = tuple(t for t in vocab.get(ast.field, ()) if t.startswith(ast.prefix))
        return ConstScoreTerms(ast.field, terms, ast.boost)
    if isinstance(ast, WildcardQuery):
        rx = _wildcard_regex(ast.pattern)
        terms = tuple(t for t in vocab.get(ast.field, ()) if rx.match(t))
        return ConstScoreTerms(ast.field, terms, ast.boost)
    if isinstance(ast, RegexpQuery):
        rx = re.compile(_anchored_regexp(ast.pattern))
        terms = tuple(t for t in vocab.get(ast.field, ()) if rx.match(t))
        return ConstScoreTerms(ast.field, terms, ast.boost)
    if isinstance(ast, RangeQuery):
        terms = tuple(
            t for t in vocab.get(ast.field, ())
            if (ast.lo is None or (t >= ast.lo if ast.include_lo else t > ast.lo))
            and (ast.hi is None or (t <= ast.hi if ast.include_hi else t < ast.hi))
        )
        return ConstScoreTerms(ast.field, terms, ast.boost)
    if isinstance(ast, FuzzyQuery):
        scored = []
        for t in vocab.get(ast.field, ()):
            d = _damerau_capped(ast.term, t, ast.max_edits)
            if d <= ast.max_edits:
                sim = 1.0 if d == 0 else 1.0 - d / min(len(ast.term), len(t))
                scored.append((sim, t))
        # top-N by boost desc, term asc (deterministic)
        scored.sort(key=lambda x: (-x[0], x[1]))
        clauses = tuple(
            (SHOULD, TermQuery(ast.field, t, ast.boost * sim))
            for sim, t in scored[:FUZZY_TOP_TERMS]
        )
        if not clauses:
            return ConstScoreTerms(ast.field, (), ast.boost)
        return BooleanQuery(clauses) if len(clauses) > 1 else clauses[0][1]
    if isinstance(ast, (TermQuery, PhraseQuery, MatchAllQuery, ConstScoreTerms,
                        SpanFirstQuery, SpanNearQuery, SpanOrQuery,
                        SpanNotQuery)):
        return ast
    raise TypeError(f"cannot rewrite {type(ast).__name__}")


def collect_terms(ast) -> list[tuple[str, str]]:
    """All (field, term) pairs a rewritten AST touches (for pruned scans)."""
    out: list[tuple[str, str]] = []
    if isinstance(ast, BooleanQuery):
        for _, sub in ast.clauses:
            out.extend(collect_terms(sub))
    elif isinstance(ast, DisMaxQuery):
        for sub in ast.clauses:
            out.extend(collect_terms(sub))
    elif isinstance(ast, (TermQuery, SpanFirstQuery)):
        out.append((ast.field, ast.term))
    elif isinstance(ast, SpanNearQuery):
        out.append((ast.field, ast.first))
        out.append((ast.field, ast.second))
    elif isinstance(ast, SpanOrQuery):
        out.extend((ast.field, t) for t in ast.terms)
    elif isinstance(ast, SpanNotQuery):
        out.append((ast.field, ast.include))
        out.append((ast.field, ast.exclude))
    elif isinstance(ast, PhraseQuery):
        out.extend((ast.field, t) for t, _ in ast.terms)
    elif isinstance(ast, MultiPhraseQuery):
        out.extend((ast.field, t) for t, _ in ast.terms)
        out.extend((ast.field, t) for t in ast.expansions)
    elif isinstance(ast, ConstScoreTerms):
        out.extend((ast.field, t) for t in ast.terms)
    return out


def needs_positions(ast) -> bool:
    if isinstance(ast, (PhraseQuery, MultiPhraseQuery, SpanFirstQuery,
                        SpanNearQuery, SpanNotQuery)):
        return True
    if isinstance(ast, BooleanQuery):
        return any(needs_positions(sub) for _, sub in ast.clauses)
    if isinstance(ast, DisMaxQuery):
        return any(needs_positions(sub) for sub in ast.clauses)
    return False
