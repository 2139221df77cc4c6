"""Classic Lucene QueryParser grammar -> query AST.

xltsearch hands user query strings to Lucene's classic ``QueryParser`` with
default field ``content`` and the index-time analyzer
(``SearchTask.java:59-61``; grammar advertised in README.md:23). We
re-implement that public grammar as a small lexer + left-to-right clause
parser (which is exactly how classic QP builds BooleanQueries: one level per
parenthesized group, ``AND``/``OR``/``NOT``/``+``/``-`` set per-clause occur
flags; default operator OR).

Semantics reproduced:

* ``term``, ``"phrase"``, ``"phrase"~slop``, ``field:term``, ``AND``/``&&``,
  ``OR``/``||``, ``NOT``/``!``, ``+must``, ``-must_not``, ``(group)``,
  ``term^boost``, ``wild*``/``wi?d``, ``fuzzy~``/``fuzzy~1``, ``[a TO b]``,
  ``{a TO b}``, ``\\`` escapes, ``*:*`` match-all.
* Term text is analyzed with the index analyzer; if it analyzes to multiple
  tokens the result is an OR of term queries (autoGeneratePhraseQueries =
  false, the 4.6 default). Phrases keep analyzed token positions, so a
  stopped word inside a phrase leaves a position gap.
* Wildcard/fuzzy/range terms are lowercased but not analyzed
  (lowercaseExpandedTerms=true default).

The AST is evaluated both by the Spark plan builder
(``operators/search.py``) and the pure-Python oracle (``oracle/pyoracle.py``).
"""

from __future__ import annotations

import re
from dataclasses import dataclass, field as dfield
from typing import Optional

from xltsearch_spark.analyzers import analyze_text

SHOULD, MUST, MUST_NOT = "SHOULD", "MUST", "MUST_NOT"

DEFAULT_FIELD = "content"  # Config.java:111 / SearchTask.java:60


class QueryParseError(ValueError):
    pass


@dataclass(frozen=True)
class TermQuery:
    field: str
    term: str
    boost: float = 1.0


@dataclass(frozen=True)
class PhraseQuery:
    field: str
    terms: tuple[tuple[str, int], ...]  # (term, position) with stop-word gaps
    slop: int = 0
    boost: float = 1.0


@dataclass(frozen=True)
class PrefixQuery:
    field: str
    prefix: str
    boost: float = 1.0


@dataclass(frozen=True)
class WildcardQuery:
    field: str
    pattern: str  # raw pattern with * and ?
    boost: float = 1.0


@dataclass(frozen=True)
class RegexpQuery:
    """``/pattern/`` term (classic QP since Lucene 4.0, RegexpQuery with
    CONSTANT_SCORE rewrite). The pattern is the core regexp operator set
    (``. * + ? {} [] | ()`` and ``\\`` escapes) shared by Lucene RegExp,
    Java regex, and RE2 — Lucene's non-regex extensions (``~`` complement,
    ``&`` intersection, ``<n-m>`` intervals) are NOT implemented
    (documented deviation; they are rarely used and have no Spark/SQL
    analog). Matching is whole-term, as in Lucene."""
    field: str
    pattern: str  # body between the slashes, \/ unescaped
    boost: float = 1.0


@dataclass(frozen=True)
class FuzzyQuery:
    field: str
    term: str
    max_edits: int = 2
    boost: float = 1.0


@dataclass(frozen=True)
class RangeQuery:
    field: str
    lo: Optional[str]
    hi: Optional[str]
    include_lo: bool = True
    include_hi: bool = True
    boost: float = 1.0


@dataclass(frozen=True)
class MatchAllQuery:
    boost: float = 1.0


@dataclass(frozen=True)
class BooleanQuery:
    clauses: tuple[tuple[str, object], ...]  # (occur, subquery)
    boost: float = 1.0
    # BooleanQuery.setMinimumNumberShouldMatch (Lucene 4.6, API-level —
    # the classic QP has no syntax for it): a doc matches only if at
    # least `msm` SHOULD clauses match, on top of MUST/MUST_NOT gating.
    msm: int = 0


@dataclass(frozen=True)
class SpanFirstQuery:
    """Lucene ``SpanFirstQuery(SpanTermQuery(term), end)`` (API-level):
    matches docs where the term occurs with span end <= ``end`` — i.e. a
    position < ``end`` — and scores with the matching-span count as the
    frequency (SpanScorer semantics, distance-0 spans weigh 1 each)."""
    field: str
    term: str
    end: int
    boost: float = 1.0


@dataclass(frozen=True)
class SpanNearQuery:
    """Lucene ``SpanNearQuery([SpanTermQuery(first), SpanTermQuery(second)],
    slop, inOrder=True)`` (API-level, ordered two-clause form): each
    occurrence of ``second`` pairs with its CLOSEST preceding ``first``
    occurrence (the NearSpansOrdered greedy-shrink step); the pair matches
    when the gap — positions strictly between the two terms — is <=
    ``slop``, and contributes ``sloppyFreq = 1 / (1 + gap)`` to the doc's
    frequency (DefaultSimilarity.sloppyFreq over the slack), which feeds
    the similarity exactly like a phrase frequency with summed idf."""
    field: str
    first: str
    second: str
    slop: int
    boost: float = 1.0


@dataclass(frozen=True)
class SpanOrQuery:
    """Lucene ``SpanOrQuery(SpanTermQuery...)`` (API-level, term clauses):
    matching spans are the union of the clause terms' positions, each
    unit-length span weighing 1 (distance-0 sloppyFreq) — so the doc
    frequency is the SUM of the clause tfs, scored with the summed clause
    idf (SpanWeight builds its SimWeight from all clause terms). The
    spans-module synonym/alternation primitive."""
    field: str
    terms: tuple[str, ...]
    boost: float = 1.0


@dataclass(frozen=True)
class SpanNotQuery:
    """Lucene ``SpanNotQuery(include, exclude, pre, post)`` (API-level,
    term clauses): an ``include`` occurrence at position p survives iff no
    ``exclude`` occurrence lies in [p - pre, p + post]; frequency = count
    of surviving occurrences (unit spans weigh 1). Scored with the INCLUDE
    term's statistics only — the exclusion clause filters spans, it never
    contributes weight."""
    field: str
    include: str
    exclude: str
    pre: int = 0
    post: int = 0
    boost: float = 1.0


@dataclass(frozen=True)
class MultiPhraseQuery:
    """Lucene ``MultiPhraseQuery`` (API-level, phrase-prefix form — the
    ``"new yor*"`` autocomplete shape): exact-phrase slots from ``terms``
    (analyzed (term, offset) pairs, stop gaps honored) plus ONE expanded
    slot at ``prefix_offset`` matched by ANY of ``expansions`` (the
    dictionary terms starting with the queried prefix, resolved at rewrite
    time like FuzzyQuery's expansion). phraseFreq counts anchor positions
    where every slot matches — duplicate expansion hits at one position
    collapse to one match, exactly like ExactPhraseScorer over Lucene's
    UnionDocsAndPositionsEnum. idf sums over ALL terms in ALL slots
    (MultiPhraseWeight builds its SimWeight from allTermStats), so wide
    expansions weigh more, matching Lucene."""
    field: str
    terms: tuple[tuple[str, int], ...]   # exact slots: (term, offset)
    prefix: str
    prefix_offset: int
    expansions: tuple[str, ...]
    boost: float = 1.0


@dataclass(frozen=True)
class DisMaxQuery:
    """Lucene ``DisjunctionMaxQuery`` (API-level, like msm — the classic
    QP has no syntax for it): a doc matching any clause scores
    ``max(clause scores) + tie_breaker * sum(other matching clauses)``.
    The multi-field query shape (same user text against title/content
    variants) where a plain OR would double-count."""
    clauses: tuple[object, ...]
    tie_breaker: float = 0.0
    boost: float = 1.0


# ------------------------------- lexer -------------------------------------

_TOKEN_RE = re.compile(
    r"""\s*(?:
        (?P<and>AND\b|&&)
      | (?P<or>OR\b|\|\|)
      | (?P<not>NOT\b|!)
      | (?P<plus>\+)
      | (?P<minus>-)
      | (?P<lparen>\()
      | (?P<rparen>\))
      | (?P<phrase>"(?:[^"\\]|\\.)*")
      | (?P<regexp>(?:(?:[^\s()+\-!"^~\\\[{:/]|\\.)+:)?/(?:[^/\\]|\\.)*/(?=[\s()^]|$))
      | (?P<range>[\[{](?:[^\]}\\]|\\.)*?[\]}])
      | (?P<atom>(?:[^\s()+\-!"^~\\\[{]|\\.)(?:[^\s()!"^~\\\[{]|\\.)*)
      | (?P<caret>\^)
      | (?P<tilde>~)
    )""",
    re.VERBOSE,
)

_NUM_RE = re.compile(r"\d+(?:\.\d+)?")


def _unescape(s: str) -> str:
    return re.sub(r"\\(.)", r"\1", s)


# chars that are LITERAL inside a Lucene-RegExp character class but are
# (or are scheduled to become) operators in some target dialect:
#   [  — Python re FutureWarning "nested set"; Java nested class union
#   &  — Python FutureWarning on '&&'; Java '&&' is class INTERSECTION
#   |  — Python FutureWarning on '||' (set union); literal in Java
#   ~  — Python FutureWarning on '~~' (symmetric difference)
# '-' stays untouched: it is a real range operator in every dialect, so
# escaping it would change [a-z]; the residual '--' FutureWarning can only
# arise from a user pattern that is already a bad range in both dialects.
_CLASS_LITERALS = frozenset("[&|~")


def escape_class_opens(p: str) -> str:
    """Escape unescaped ``[ & | ~`` INSIDE character classes before
    handing a user regexp to a matcher. Lucene RegExp (and today's
    Python re) treat them as literal characters there, but Python re
    emits FutureWarnings (semantics scheduled to change) and Java regex
    already parses ``[`` as a nested class and ``&&`` as an intersection
    — the spots where the engine's ``rlike`` could diverge from the
    Lucene semantics the pyoracle implements. Escaping pins the literal
    meaning in every dialect. Applied at translation time only:
    ``RegexpQuery.pattern`` keeps the user's bytes (the fuzzed
    round-trip contract).

    A ``]`` right after ``[`` or ``[^`` is a literal member in Lucene
    RegExp and Python re alike (``[]a]`` is the class of ``]`` and ``a``);
    it is escaped too, so the scanner and Java regex agree on where the
    class ends."""
    out = []
    in_class = False
    i = 0
    while i < len(p):
        c = p[i]
        if c == "\\" and i + 1 < len(p):
            out.append(p[i:i + 2])
            i += 2
            continue
        if in_class:
            if c in _CLASS_LITERALS:
                out.append("\\" + c)
                i += 1
                continue
            if c == "]":
                in_class = False
        elif c == "[":
            in_class = True
            out.append(c)
            i += 1
            if p.startswith("^", i):
                out.append("^")
                i += 1
            if p.startswith("]", i):
                out.append("\\]")
                i += 1
            continue
        out.append(c)
        i += 1
    return "".join(out)


class _Lexer:
    def __init__(self, text: str):
        self.text = text
        self.pos = 0

    def peek_char(self) -> str:
        return self.text[self.pos] if self.pos < len(self.text) else ""

    def next_token(self):
        if self.pos >= len(self.text):
            return None, None
        m = _TOKEN_RE.match(self.text, self.pos)
        if not m or m.end() == self.pos:
            raise QueryParseError(f"cannot lex at {self.pos}: {self.text[self.pos:]!r}")
        self.pos = m.end()
        kind = m.lastgroup
        return kind, m.group(kind)


# ------------------------------- parser ------------------------------------

class QueryParser:
    """parser = QueryParser(analyzer_profile); parser.parse("foo AND bar")."""

    def __init__(self, analyzer: str = "standard", default_field: str = DEFAULT_FIELD,
                 keyword_fields: tuple[str, ...] = ()):
        self.analyzer = analyzer
        self.default_field = default_field
        # keyword (un-analyzed StringField-like) fields: query text matched verbatim
        self.keyword_fields = frozenset(keyword_fields)

    def parse(self, query: str):
        lex = _Lexer(query)
        q = self._parse_boolean(lex, depth=0, field=None)
        if q is None:
            raise QueryParseError(f"empty query: {query!r}")
        return q

    # -- boolean clause list (one BooleanQuery level, classic-QP style) --
    def _parse_boolean(self, lex: _Lexer, depth: int, field: Optional[str] = None):
        clauses: list[tuple[str, object]] = []
        pending_occur: Optional[str] = None
        conj_and = False  # saw AND between previous and next clause
        while True:
            save = lex.pos
            kind, val = lex.next_token()
            if kind is None:
                break
            if kind == "rparen":
                if depth == 0:
                    raise QueryParseError("unbalanced ')'")
                break  # ')' consumed; caller resumes after the group
            if kind == "and":
                # classic QP: AND retroactively promotes the previous clause
                conj_and = True
                if clauses and clauses[-1][0] == SHOULD:
                    clauses[-1] = (MUST, clauses[-1][1])
                continue
            if kind == "or":
                # with default operator OR, OR leaves the previous clause as-is
                conj_and = False
                continue
            if kind in ("not", "minus"):
                pending_occur = MUST_NOT
                continue
            if kind == "plus":
                pending_occur = MUST
                continue
            # an actual subquery token
            sub = self._parse_sub(lex, kind, val, field)
            if sub is None:
                continue
            occur = pending_occur if pending_occur else (MUST if conj_and else SHOULD)
            clauses.append((occur, sub))
            pending_occur = None
            conj_and = False
        if not clauses:
            return None
        if len(clauses) == 1 and clauses[0][0] == SHOULD:
            return clauses[0][1]
        return BooleanQuery(tuple(clauses))

    # -- a single clause: [field:] atom/phrase/range/group [~f] [^boost] --
    def _parse_sub(self, lex: _Lexer, kind: str, val: str,
                   outer_field: Optional[str] = None):
        field = outer_field or self.default_field
        if kind == "atom":
            # split off "field:" prefix (unescaped colon)
            m = re.match(r"^((?:[^\\:]|\\.)+):(.*)$", val)
            if m and m.group(2):
                field = _unescape(m.group(1))
                val = m.group(2)
            elif m and not m.group(2):
                field = _unescape(m.group(1))
                kind2, val2 = lex.next_token()
                kind, val = kind2, val2
                if kind is None:
                    raise QueryParseError(f"field {field!r} with no value")
        if kind == "lparen":
            # field:(...) propagates the field into the group (classic QP)
            group_field = field if field != self.default_field or outer_field else None
            sub = self._parse_boolean(lex, depth=1, field=group_field)
            boost = self._parse_boost(lex)
            if sub is None:
                return None
            return self._with_boost(sub, boost)
        if kind == "phrase":
            body = _unescape(val[1:-1])
            slop = 0
            if lex.peek_char() == "~":
                lex.next_token()
                m = _NUM_RE.match(lex.text, lex.pos)
                if m:
                    slop = int(float(m.group()))
                    lex.pos = m.end()
            boost = self._parse_boost(lex)
            return self._make_phrase(field, body, slop, boost)
        if kind == "regexp":
            # optional field prefix rides inside the token (the lexer must
            # see `field:/re/` whole — a char class like [ea] would
            # otherwise split across atom/range tokens)
            m = re.match(r"^((?:[^\\:/]|\\.)+):(/.*)$", val)
            if m:
                field = _unescape(m.group(1))
                val = m.group(2)
            return self._parse_atom(lex, field, val)
        if kind == "range":
            inc_lo = val[0] == "["
            inc_hi = val[-1] == "]"
            body = val[1:-1]
            m = re.match(r"^\s*(\S+)\s+TO\s+(\S+)\s*$", body)
            if not m:
                raise QueryParseError(f"bad range: {val!r}")
            lo = None if m.group(1) == "*" else _unescape(m.group(1)).lower()
            hi = None if m.group(2) == "*" else _unescape(m.group(2)).lower()
            boost = self._parse_boost(lex)
            return RangeQuery(field, lo, hi, inc_lo, inc_hi, boost)
        if kind == "atom":
            return self._parse_atom(lex, field, val)
        raise QueryParseError(f"unexpected token {val!r}")

    def _parse_boost(self, lex: _Lexer) -> float:
        if lex.peek_char() == "^":
            lex.next_token()
            m = _NUM_RE.match(lex.text, lex.pos)
            if not m:
                raise QueryParseError("^ with no boost number")
            lex.pos = m.end()
            return float(m.group())
        return 1.0

    @staticmethod
    def _regexp_body(raw: str) -> Optional[str]:
        """If ``raw`` is a ``/pattern/`` regexp term, return the pattern
        (with ``\\/`` unescaped); else None. Only the first and last chars
        may be unescaped slashes — an interior unescaped slash (a path-like
        atom such as ``/a/b``) is NOT a regexp (classic QP would lex
        ``/a/`` then ``b``; we keep path atoms whole — documented, and the
        lexer token requires a clause boundary after the closing slash for
        the same reason: ``path:/usr/bin`` stays one atom)."""
        if len(raw) < 2 or raw[0] != "/" or raw[-1] != "/":
            return None
        i = 1
        while i < len(raw) - 1:
            if raw[i] == "\\" and i + 1 < len(raw):
                i += 2  # escape pair; may legitimately consume raw[-1]...
                continue
            if raw[i] == "/":
                return None
            i += 1
        if i != len(raw) - 1:  # ...in which case the close slash was escaped
            return None
        return raw[1:-1].replace("\\/", "/")

    @staticmethod
    def _lower_pattern(p: str) -> str:
        """lowercaseExpandedTerms for a regexp: lowercase LITERAL chars
        only — an escaped char keeps its case, or ``\\W`` (non-word) would
        silently invert into ``\\w`` (word)."""
        out = []
        i = 0
        while i < len(p):
            if p[i] == "\\" and i + 1 < len(p):
                out.append(p[i])
                out.append(p[i + 1])
                i += 2
                continue
            out.append(p[i].lower())
            i += 1
        return "".join(out)

    def _parse_atom(self, lex: _Lexer, field: str, val: str):
        rx = self._regexp_body(val)
        if rx is not None:
            # lowercaseExpandedTerms applies to regexps like wildcards
            # (escape-aware: \W must not become \w)
            pat = rx if field in self.keyword_fields else self._lower_pattern(rx)
            # fail malformed patterns HERE as QueryParseError — not as a
            # re.error deep in rewrite (pyoracle) or an opaque Java
            # PatternSyntaxException inside a Spark task (engine rlike).
            # Compile the TRANSLATED body (inner-class '[' escaped) — the
            # exact pattern both matchers will run — warning-free.
            try:
                re.compile("^(?:" + escape_class_opens(pat) + ")$")
            except re.error as exc:
                raise QueryParseError(f"bad regexp /{rx}/: {exc}") from exc
            boost = self._parse_boost(lex)
            return RegexpQuery(field, pat, boost)
        fuzzy = None
        if lex.peek_char() == "~":
            lex.next_token()
            m = _NUM_RE.match(lex.text, lex.pos)
            if m:
                fuzzy = min(int(float(m.group())), 2)
                lex.pos = m.end()
            else:
                fuzzy = 2  # bare ~ defaults to max edits 2 in 4.6
        boost = self._parse_boost(lex)
        raw = val
        text = _unescape(raw)
        if text == "*:*" or (field == "*" and text == "*"):
            return MatchAllQuery(boost)
        # escape-aware wildcard scan (a lookbehind would misread `foo\\*`:
        # escaped backslash, then a LIVE wildcard) — must agree with
        # rewrite._wildcard_regex, which walks escapes the same way
        wilds = []
        i = 0
        while i < len(raw):
            if raw[i] == "\\" and i + 1 < len(raw):
                i += 2
                continue
            if raw[i] in "*?":
                wilds.append(i)
            i += 1
        has_wild = bool(wilds)
        if fuzzy is not None:
            t = text if field in self.keyword_fields else text.lower()
            return FuzzyQuery(field, t, fuzzy, boost)
        if has_wild:
            # keep ESCAPES in the wildcard pattern: `foo\*bar*` must treat the
            # escaped * as a literal and only the trailing * as a wildcard
            # (classic QP semantics); _wildcard_regex understands backslashes.
            pat = raw if field in self.keyword_fields else raw.lower()
            if len(wilds) == 1 and raw[wilds[0]] == "*" and wilds[0] == len(raw) - 1:
                prefix = _unescape(raw[:-1])
                return PrefixQuery(
                    field, prefix if field in self.keyword_fields else prefix.lower(),
                    boost)
            return WildcardQuery(field, pat, boost)
        if field in self.keyword_fields:
            return TermQuery(field, text, boost)
        toks = [t for t, _ in analyze_text(text, self.analyzer)]
        if not toks:
            return None  # fully stopped-out term: classic QP drops the clause
        if len(toks) == 1:
            return TermQuery(field, toks[0], boost)
        # multi-token analysis -> OR of terms (autoGeneratePhraseQueries=false)
        return BooleanQuery(tuple((SHOULD, TermQuery(field, t)) for t in toks), boost)

    def _make_phrase(self, field: str, body: str, slop: int, boost: float):
        toks = analyze_text(body, self.analyzer)
        toks = [(t, p) for t, p in toks]
        if not toks:
            return None
        if len(toks) == 1:
            return TermQuery(field, toks[0][0], boost)
        base = toks[0][1]
        return PhraseQuery(field, tuple((t, p - base) for t, p in toks), slop, boost)

    @staticmethod
    def _with_boost(q, boost: float):
        if boost == 1.0:
            return q
        return type(q)(**{**q.__dict__, "boost": q.boost * boost})
