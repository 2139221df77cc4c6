"""Brute-force in-memory IR oracle replicating Lucene 4.6 scoring semantics.

This is the executable spec the Spark engine is gated against (SURVEY.md §5):
dict-of-lists postings over the fixture corpus, BM25Similarity
(k1=1.2, b=0.75, 8-bit floatToByte315 norm quantization — selected by the
reference at ``Config.java:83``, applied ``IndexTask.java:57`` /
``SearchTask.java:58``) and classic TF-IDF DefaultSimilarity
(coord + queryNorm, ``Config.java:82``), with top-k ordered score desc then
docID asc (``SearchTask.java:63`` collector semantics).

Scoring formulas (public Lucene 4.6 knowledge):

* BM25: ``idf = ln(1 + (N - df + 0.5)/(df + 0.5))`` with N = maxDoc;
  ``score = boost * idf * (k1+1) * tf / (tf + k1*(1 - b + b*dl_q/avgdl))``
  where ``dl_q`` is the 8-bit-quantized doc length and
  ``avgdl = sumTotalTermFreq/maxDoc``; queryNorm = coord = 1.
* TF-IDF: ``idf = 1 + ln(N/(df+1))``; ``score_t = sqrt(tf) * idf^2 * boost *
  queryNorm * norm_d`` with ``norm_d`` the quantized ``1/sqrt(dl)``;
  ``queryNorm = 1/sqrt(sumOfSquaredWeights)``; BooleanQuery multiplies
  ``coord = overlap/maxOverlap``.
* Multi-term queries: see ``plans/rewrite.py`` (shared with the engine).
* Phrases: the matcher ``functions/phrase.py``; phrase idf = sum of term
  idfs, tf = phraseFreq.
"""

from __future__ import annotations

import dataclasses
import hashlib
import math

import numpy as np
import pandas as pd

from xltsearch_spark.analyzers import analyze_flat
from xltsearch_spark.config import IndexConfig
from xltsearch_spark.functions.norms import quantized_doc_length, decoded_tf_idf_norm
from xltsearch_spark.functions.phrase import phrase_freq
from xltsearch_spark.plans.parser import (
    BooleanQuery, DisMaxQuery, MatchAllQuery, MultiPhraseQuery, MUST,
    MUST_NOT, PhraseQuery,
    QueryParser, SHOULD, SpanFirstQuery, SpanNearQuery, SpanNotQuery,
    SpanOrQuery, TermQuery,
)
from xltsearch_spark.plans import scoring
from xltsearch_spark.plans.rewrite import ConstScoreTerms, rewrite

# single source of truth with the engine (drift between the two silently
# breaks keyword-field query parity — e.g. a `format:html` query)
from xltsearch_spark.operators.build import ANALYZED_FIELDS, KEYWORD_FIELDS


class OracleIndex:
    def __init__(self, corpus: pd.DataFrame, config: IndexConfig | None = None,
                 deleted: set[int] | None = None):
        """``corpus`` may carry an explicit dense ``doc_id`` column (segment
        history: old versions of updated docs keep their ids). ``deleted``
        doc ids are filtered from RESULTS but still count in collection
        stats — Lucene's pre-merge tombstone semantics."""
        self.config = config or IndexConfig()
        self.deleted = frozenset(deleted or ())
        if "doc_id" in corpus.columns:
            df = corpus.sort_values("doc_id").reset_index(drop=True)
            assert (df["doc_id"].to_numpy() == np.arange(len(df))).all(), \
                "explicit doc_ids must be dense 0..N-1"
            df = df.drop(columns=["doc_id"])
        else:
            df = corpus.sort_values(["repo", "path"]).reset_index(drop=True)
        df["hashsum"] = df["content"].map(
            lambda c: hashlib.sha256(str(c).encode("utf-8")).hexdigest())
        self.docs = df
        self.n_docs = len(df)
        # postings[(field, term)] = {doc_id: positions int64[]}
        self.postings: dict[tuple[str, str], dict[int, np.ndarray]] = {}
        self.dl: dict[str, np.ndarray] = {}
        self.sum_ttf: dict[str, int] = {}
        for field in ANALYZED_FIELDS:
            if field not in df.columns:
                continue
            flat = analyze_flat(df[field].fillna(""), self.config.analyzer,
                                self.config.max_token_length)
            self.sum_ttf[field] = len(flat)
            from xltsearch_spark.analyzers import doc_lengths
            self.dl[field] = doc_lengths(flat, self.n_docs)
            for (term, row), grp in flat.groupby(["term", "row"], sort=True):
                self.postings.setdefault((field, term), {})[int(row)] = \
                    np.sort(grp["pos"].to_numpy(dtype=np.int64))
        for field in KEYWORD_FIELDS:
            if field not in df.columns:
                continue
            vals = df[field].fillna("")
            self.sum_ttf[field] = int((vals != "").sum())
            self.dl[field] = (vals != "").to_numpy().astype(np.int64)
            for doc_id, v in vals.items():
                if v != "":
                    self.postings.setdefault((field, str(v)), {})[int(doc_id)] = \
                        np.zeros(1, dtype=np.int64)
        self.vocab = {}
        for (field, term) in self.postings:
            self.vocab.setdefault(field, []).append(term)
        for field in self.vocab:
            self.vocab[field].sort()
        self._qdl = {f: self._quant_dl(self.dl[f]) for f in self.dl}
        self._tfidf_norm = {f: self._tfidf_norms(self.dl[f]) for f in self.dl}

    def _quant_dl(self, dl: np.ndarray) -> np.ndarray:
        if self.config.quantize_norms:
            return quantized_doc_length(np.maximum(dl, 0))
        return dl.astype(np.float64)

    def _tfidf_norms(self, dl: np.ndarray) -> np.ndarray:
        if self.config.quantize_norms:
            return decoded_tf_idf_norm(np.maximum(dl, 0))
        with np.errstate(divide="ignore"):
            return np.where(dl > 0, 1.0 / np.sqrt(dl), 0.0)

    def _avgdl(self, field: str) -> float:
        s = self.sum_ttf.get(field, 0)
        return (s / self.n_docs) if s > 0 and self.n_docs > 0 else 1.0

    def _bm25_idf(self, df: int) -> float:
        return scoring.bm25_idf(self.n_docs, df)

    def _tfidf_idf(self, df: int) -> float:
        return scoring.tfidf_idf(self.n_docs, df)

    # ---------------------------- search ----------------------------------
    def search(self, query: str, limit: int = 100,
               parser: QueryParser | None = None, msm: int = 0) -> list[dict]:
        parser = parser or QueryParser(self.config.analyzer, keyword_fields=KEYWORD_FIELDS)
        ast = rewrite(parser.parse(query), self.vocab)
        if msm:
            if not isinstance(ast, BooleanQuery):
                raise ValueError(
                    "minimum_should_match applies to boolean queries only")
            ast = dataclasses.replace(ast, msm=int(msm))
        model = self.config.scoring_model
        if model == "bm25":
            scores = self._eval_bm25(ast, 1.0)
        else:
            ssw = self._sum_sq_weights(ast, 1.0)
            qn = 1.0 / math.sqrt(ssw) if ssw > 0 else 1.0
            scores = self._eval_tfidf(ast, 1.0, qn)
        if self.deleted:
            scores = {d: s for d, s in scores.items() if d not in self.deleted}
        ranked = sorted(scores.items(), key=lambda kv: (-kv[1], kv[0]))[:limit]
        out = []
        for rank, (doc_id, score) in enumerate(ranked, 1):
            row = self.docs.iloc[doc_id]
            out.append({"rank": rank, "doc_id": int(doc_id), "repo": row["repo"],
                        "path": row["path"], "score": float(score)})
        return out

    # ---------------------------- BM25 -------------------------------------
    def _term_bm25(self, field: str, term: str, mult: float) -> dict[int, float]:
        posting = self.postings.get((field, term), {})
        if not posting:
            return {}
        idf = self._bm25_idf(len(posting))
        avgdl = self._avgdl(field)
        k1, b = self.config.k1, self.config.b
        out = {}
        qdl = self._qdl[field]
        for d, pos in posting.items():
            # BM25Similarity's association, weight * tf / (tf + norm), as the
            # phrase and span scorers below compute it
            tf = float(pos.size)
            out[d] = mult * idf * (k1 + 1) * tf / (tf + k1 * (1 - b + b * qdl[d] / avgdl))
        return out

    def _phrase_docs(self, node: PhraseQuery) -> dict[int, float]:
        """doc -> phraseFreq for docs containing all phrase terms."""
        postings = [self.postings.get((node.field, t), {}) for t, _ in node.terms]
        if any(not p for p in postings):
            return {}
        docs = set(postings[0])
        for p in postings[1:]:
            docs &= set(p)
        offsets = [o for _, o in node.terms]
        out = {}
        for d in docs:
            pf = phrase_freq([p[d] for p in postings], offsets, node.slop)
            if pf > 0:
                out[d] = pf
        return out

    def _eval_bm25(self, node, mult: float) -> dict[int, float]:
        if isinstance(node, TermQuery):
            return self._term_bm25(node.field, node.term, mult * node.boost)
        if isinstance(node, PhraseQuery):
            pfs = self._phrase_docs(node)
            idf = sum(self._bm25_idf(len(self.postings.get((node.field, t), {})))
                      for t, _ in node.terms)
            avgdl = self._avgdl(node.field)
            k1, b = self.config.k1, self.config.b
            qdl = self._qdl[node.field]
            return {d: mult * node.boost * idf * (k1 + 1) * pf
                    / (pf + k1 * (1 - b + b * qdl[d] / avgdl))
                    for d, pf in pfs.items()}
        if isinstance(node, ConstScoreTerms):
            docs = set()
            for t in node.terms:
                docs |= set(self.postings.get((node.field, t), {}))
            return {d: mult * node.boost for d in docs}
        if isinstance(node, MatchAllQuery):
            return {d: mult * node.boost for d in range(self.n_docs)}
        if isinstance(node, BooleanQuery):
            return self._eval_boolean(node, mult, self._eval_bm25, coord=False, qn=1.0)
        if isinstance(node, DisMaxQuery):
            return self._eval_dismax(node, mult, self._eval_bm25)
        if isinstance(node, SpanFirstQuery):
            return self._span_first_scores(node, mult, tfidf_qn=None)
        if isinstance(node, SpanNearQuery):
            return self._span_near_scores(node, mult, tfidf_qn=None)
        if isinstance(node, SpanOrQuery):
            return self._span_or_scores(node, mult, tfidf_qn=None)
        if isinstance(node, SpanNotQuery):
            return self._span_not_scores(node, mult, tfidf_qn=None)
        if isinstance(node, MultiPhraseQuery):
            return self._multi_phrase_scores(node, mult, tfidf_qn=None)
        raise TypeError(type(node).__name__)

    # ---------------------------- TF-IDF -----------------------------------
    def _sum_sq_weights(self, node, mult: float) -> float:
        return scoring.tfidf_sum_sq_weights(
            node, mult,
            lambda f, t: self._tfidf_idf(len(self.postings.get((f, t), {}))))

    def _eval_tfidf(self, node, mult: float, qn: float) -> dict[int, float]:
        if isinstance(node, TermQuery):
            posting = self.postings.get((node.field, node.term), {})
            if not posting:
                return {}
            idf = self._tfidf_idf(len(posting))
            norms = self._tfidf_norm[node.field]
            return {d: math.sqrt(pos.size) * idf * idf * node.boost * mult * qn * norms[d]
                    for d, pos in posting.items()}
        if isinstance(node, PhraseQuery):
            pfs = self._phrase_docs(node)
            idf = sum(self._tfidf_idf(len(self.postings.get((node.field, t), {})))
                      for t, _ in node.terms)
            norms = self._tfidf_norm[node.field]
            return {d: math.sqrt(pf) * idf * idf * node.boost * mult * qn * norms[d]
                    for d, pf in pfs.items()}
        if isinstance(node, ConstScoreTerms):
            docs = set()
            for t in node.terms:
                docs |= set(self.postings.get((node.field, t), {}))
            return {d: mult * node.boost * qn for d in docs}
        if isinstance(node, MatchAllQuery):
            return {d: mult * node.boost * qn for d in range(self.n_docs)}
        if isinstance(node, BooleanQuery):
            return self._eval_boolean(node, mult, lambda n, m: self._eval_tfidf(n, m, qn),
                                      coord=True, qn=qn)
        if isinstance(node, DisMaxQuery):
            return self._eval_dismax(node, mult,
                                     lambda n, m: self._eval_tfidf(n, m, qn))
        if isinstance(node, SpanFirstQuery):
            return self._span_first_scores(node, mult, tfidf_qn=qn)
        if isinstance(node, SpanNearQuery):
            return self._span_near_scores(node, mult, tfidf_qn=qn)
        if isinstance(node, SpanOrQuery):
            return self._span_or_scores(node, mult, tfidf_qn=qn)
        if isinstance(node, SpanNotQuery):
            return self._span_not_scores(node, mult, tfidf_qn=qn)
        if isinstance(node, MultiPhraseQuery):
            return self._multi_phrase_scores(node, mult, tfidf_qn=qn)
        raise TypeError(type(node).__name__)

    def _span_first_scores(self, node: SpanFirstQuery, mult: float,
                           tfidf_qn: float | None) -> dict[int, float]:
        """SpanFirstQuery: frequency = count of positions < end; idf from
        the term's full doc freq (SpanWeight term statistics)."""
        posting = self.postings.get((node.field, node.term), {})
        if not posting:
            return {}
        sfs = {d: float((pos < node.end).sum()) for d, pos in posting.items()
               if (pos < node.end).any()}
        idf = (self._bm25_idf(len(posting)) if tfidf_qn is None
               else self._tfidf_idf(len(posting)))
        return self._span_sim(node.field, sfs, idf, mult, node.boost,
                              tfidf_qn)

    def search_span_first(self, term: str, end: int, field: str | None = None,
                          limit: int = 100) -> list[dict]:
        from xltsearch_spark.analyzers import analyze_text
        toks = analyze_text(term, self.config.analyzer)
        if len(toks) != 1:
            raise ValueError("span_first takes a single analyzed term")
        return self._rank_node(
            SpanFirstQuery(field or "content", toks[0][0], int(end)), limit)

    def _span_near_scores(self, node: SpanNearQuery, mult: float,
                          tfidf_qn: float | None) -> dict[int, float]:
        """Ordered two-clause SpanNear: each ``second`` occurrence pairs
        with its closest strictly-preceding ``first`` occurrence; gap <=
        slop contributes sloppyFreq = 1/(1+gap). idf = summed clause idf
        (SpanWeight builds from all clause term statistics)."""
        p1 = self.postings.get((node.field, node.first), {})
        p2 = self.postings.get((node.field, node.second), {})
        if not p1 or not p2:
            return {}
        sfs: dict[int, float] = {}
        for d in sorted(p1.keys() & p2.keys()):
            a, b2 = p1[d], p2[d]
            idx = np.searchsorted(a, b2, side="left") - 1
            ok = idx >= 0
            gap = b2[ok] - a[idx[ok]] - 1
            m = gap <= node.slop
            if m.any():
                sfs[d] = float((1.0 / (1.0 + gap[m])).sum())
        idf = (self._bm25_idf(len(p1)) + self._bm25_idf(len(p2))
               if tfidf_qn is None
               else self._tfidf_idf(len(p1)) + self._tfidf_idf(len(p2)))
        return self._span_sim(node.field, sfs, idf, mult, node.boost,
                              tfidf_qn)

    def _span_sim(self, field: str, sfs: dict[int, float], idf: float,
                  mult: float, boost: float,
                  tfidf_qn: float | None) -> dict[int, float]:
        """Shared similarity tail for the spans family (frequency given)."""
        out: dict[int, float] = {}
        if tfidf_qn is None:
            avgdl = self._avgdl(field)
            k1, b = self.config.k1, self.config.b
            qdl = self._qdl[field]
            for d, sf in sfs.items():
                out[d] = mult * boost * idf * (k1 + 1) * sf \
                    / (sf + k1 * (1 - b + b * qdl[d] / avgdl))
        else:
            norms = self._tfidf_norm[field]
            for d, sf in sfs.items():
                out[d] = math.sqrt(sf) * idf * idf * boost * mult \
                    * tfidf_qn * norms[d]
        return out

    def _span_or_scores(self, node: SpanOrQuery, mult: float,
                        tfidf_qn: float | None) -> dict[int, float]:
        """SpanOr over term clauses: frequency = summed clause tf, idf =
        summed clause idf."""
        sfs: dict[int, float] = {}
        idf = 0.0
        for t in node.terms:
            posting = self.postings.get((node.field, t), {})
            idf += (self._bm25_idf(len(posting)) if tfidf_qn is None
                    else self._tfidf_idf(len(posting)))
            for d, pos in posting.items():
                sfs[d] = sfs.get(d, 0.0) + float(len(pos))
        return self._span_sim(node.field, sfs, idf, mult, node.boost,
                              tfidf_qn)

    def _span_not_scores(self, node: SpanNotQuery, mult: float,
                         tfidf_qn: float | None) -> dict[int, float]:
        """SpanNot: include occurrences with no exclude in [p-pre, p+post];
        include-term statistics only."""
        p_inc = self.postings.get((node.field, node.include), {})
        if not p_inc:
            return {}
        p_exc = self.postings.get((node.field, node.exclude), {})
        sfs: dict[int, float] = {}
        for d, pos in p_inc.items():
            exc = p_exc.get(d)
            if exc is None or len(exc) == 0:
                sf = float(len(pos))
            else:
                lo = np.searchsorted(exc, pos - node.pre, side="left")
                hi = np.searchsorted(exc, pos + node.post, side="right")
                sf = float((hi == lo).sum())
            if sf > 0:
                sfs[d] = sf
        idf = (self._bm25_idf(len(p_inc)) if tfidf_qn is None
               else self._tfidf_idf(len(p_inc)))
        return self._span_sim(node.field, sfs, idf, mult, node.boost,
                              tfidf_qn)

    def _multi_phrase_scores(self, node: MultiPhraseQuery, mult: float,
                             tfidf_qn: float | None) -> dict[int, float]:
        """MultiPhraseQuery phrase-prefix: exact slots plus one expanded
        slot; phraseFreq counts anchors where every slot matches, duplicate
        expansion hits at one position collapse; idf sums every slot
        term's idf (MultiPhraseWeight allTermStats)."""
        slots = ([({t}, o) for t, o in node.terms]
                 + [(set(node.expansions), node.prefix_offset)])
        if not node.expansions:
            return {}
        idf = 0.0
        idf_of = self._bm25_idf if tfidf_qn is None else self._tfidf_idf
        for t, _ in node.terms:
            idf += idf_of(len(self.postings.get((node.field, t), {})))
        for t in node.expansions:
            idf += idf_of(len(self.postings.get((node.field, t), {})))
        # per-slot doc -> deduped anchor set
        slot_anchors: list[dict[int, np.ndarray]] = []
        for ts, off in slots:
            merged: dict[int, list] = {}
            for t in ts:
                for d, pos in self.postings.get((node.field, t), {}).items():
                    merged.setdefault(d, []).append(pos.astype(np.int64) - off)
            slot_anchors.append({d: (np.unique(np.concatenate(a))
                                     if len(a) > 1 else np.unique(a[0]))
                                 for d, a in merged.items()})
        docs = set(slot_anchors[0])
        for sa in slot_anchors[1:]:
            docs &= set(sa)
        sfs: dict[int, float] = {}
        for d in docs:
            base = slot_anchors[0][d]
            for sa in slot_anchors[1:]:
                base = np.intersect1d(base, sa[d], assume_unique=True)
                if base.size == 0:
                    break
            if base.size:
                sfs[d] = float(base.size)
        return self._span_sim(node.field, sfs, idf, mult, node.boost,
                              tfidf_qn)

    def search_phrase_prefix(self, phrase: str, field: str | None = None,
                             limit: int = 100,
                             max_expansions: int = 1024) -> list[dict]:
        """MultiPhraseQuery phrase-prefix: last analyzed token expands
        against the vocabulary, the rest are exact slots."""
        from xltsearch_spark.analyzers import analyze_text
        toks = analyze_text(phrase, self.config.analyzer)
        if len(toks) < 2:
            raise ValueError("phrase prefix needs at least two analyzed "
                             "tokens (exact slots + the prefix)")
        f = field or "content"
        lead, (pref, poff) = toks[:-1], toks[-1]
        exp = tuple(t for t in self.vocab.get(f, ()) if t.startswith(pref))
        if len(exp) > max_expansions:
            raise ValueError("too many expansions")
        return self._rank_node(
            MultiPhraseQuery(f, tuple(lead), pref, int(poff), exp), limit)

    def search_after(self, query: str, after_score: float,
                     after_doc_id: int, limit: int = 100) -> list[dict]:
        """IndexSearcher.searchAfter: next ``limit`` hits strictly after
        the cursor in (score desc, doc_id asc) order."""
        hits = self.search(query, limit=1 << 30)
        out = [h for h in hits
               if h["score"] < after_score
               or (h["score"] == after_score and h["doc_id"] > after_doc_id)]
        return out[:limit]

    def _rank_node(self, node, limit: int) -> list[dict]:
        """Score an API-tier AST node under the configured similarity and
        return ranked hits (the shared tail of the search_span_* APIs)."""
        if self.config.scoring_model == "bm25":
            scores = self._eval_bm25(node, 1.0)
        else:
            ssw = self._sum_sq_weights(node, 1.0)
            qn = 1.0 / math.sqrt(ssw) if ssw > 0 else 1.0
            scores = self._eval_tfidf(node, 1.0, qn)
        if self.deleted:
            scores = {d: s for d, s in scores.items() if d not in self.deleted}
        ranked = sorted(scores.items(), key=lambda kv: (-kv[1], kv[0]))[:limit]
        return [{"rank": i, "doc_id": int(d), "score": float(s)}
                for i, (d, s) in enumerate(ranked, 1)]

    def search_collapsed(self, query: str, group_field: str,
                         group_limit: int = 1,
                         limit: int = 100) -> list[dict]:
        """Field collapsing: top group_limit hits per group_field value
        (score rounded @4 desc, doc_id asc), then the global top limit."""
        if group_limit < 1:
            raise ValueError("group_limit must be >= 1")
        hits = self.search(query, limit=1 << 30)
        # group on the RAW value: the engine's Window.partitionBy keeps
        # NULL as its own partition distinct from '' — fillna('') here
        # would merge the two on corpora containing both (ADVICE r5 #1).
        # Missing values normalize to the None singleton so the group
        # dict keys behave (NaN is identity-hashed and != itself).
        col = self.docs[group_field]
        vals = col.astype(object).where(col.notna(), None)
        ranked: list[tuple] = []
        per_group: dict = {}
        rows = sorted(((round(h["score"], 4), h["doc_id"]) for h in hits),
                      key=lambda t: (-t[0], t[1]))
        for sc, d in rows:
            g = vals.iloc[d]
            r = per_group.get(g, 0) + 1
            per_group[g] = r
            if r <= group_limit:
                ranked.append((d, g, sc, r))
        return [{"doc_id": int(d), group_field: g, "score": float(sc),
                 "grp_rank": int(r)}
                for d, g, sc, r in ranked[:limit]]

    def search_span_or(self, terms, field: str | None = None,
                       limit: int = 100) -> list[dict]:
        from xltsearch_spark.analyzers import analyze_text
        toks = []
        for t in terms:
            a = analyze_text(t, self.config.analyzer)
            if len(a) != 1:
                raise ValueError("span_or clauses must each analyze to a "
                                 "single term")
            toks.append(a[0][0])
        return self._rank_node(SpanOrQuery(field or "content", tuple(toks)),
                               limit)

    def search_span_not(self, include: str, exclude: str, pre: int = 0,
                        post: int = 0, field: str | None = None,
                        limit: int = 100) -> list[dict]:
        from xltsearch_spark.analyzers import analyze_text
        toks = []
        for t in (include, exclude):
            a = analyze_text(t, self.config.analyzer)
            if len(a) != 1:
                raise ValueError("span_not clauses must each analyze to a "
                                 "single term")
            toks.append(a[0][0])
        return self._rank_node(
            SpanNotQuery(field or "content", toks[0], toks[1], int(pre),
                         int(post)), limit)

    def search_span_near(self, first: str, second: str, slop: int,
                         field: str | None = None,
                         limit: int = 100) -> list[dict]:
        from xltsearch_spark.analyzers import analyze_text
        toks = []
        for t in (first, second):
            a = analyze_text(t, self.config.analyzer)
            if len(a) != 1:
                raise ValueError("span_near clauses must each analyze to a "
                                 "single term")
            toks.append(a[0][0])
        return self._rank_node(
            SpanNearQuery(field or "content", toks[0], toks[1], int(slop)),
            limit)

    def _eval_dismax(self, node: DisMaxQuery, mult: float, ev) -> dict[int, float]:
        """max(clause) + tie * sum(other matching clauses); no coord
        (DisjunctionMaxScorer has none)."""
        maps = [ev(sub, mult * node.boost) for sub in node.clauses]
        out: dict[int, float] = {}
        for d in set().union(*[set(m) for m in maps]):
            vals = [m[d] for m in maps if d in m]
            mx = max(vals)
            out[d] = mx + node.tie_breaker * (sum(vals) - mx)
        return out

    def search_dismax(self, queries: list[str], tie_breaker: float = 0.0,
                      limit: int = 100,
                      parser: QueryParser | None = None) -> list[dict]:
        parser = parser or QueryParser(self.config.analyzer,
                                       keyword_fields=KEYWORD_FIELDS)
        node = DisMaxQuery(tuple(rewrite(parser.parse(q), self.vocab)
                                 for q in queries), float(tie_breaker))
        if self.config.scoring_model == "bm25":
            scores = self._eval_bm25(node, 1.0)
        else:
            ssw = self._sum_sq_weights(node, 1.0)
            qn = 1.0 / math.sqrt(ssw) if ssw > 0 else 1.0
            scores = self._eval_tfidf(node, 1.0, qn)
        if self.deleted:
            scores = {d: s for d, s in scores.items() if d not in self.deleted}
        ranked = sorted(scores.items(), key=lambda kv: (-kv[1], kv[0]))[:limit]
        return [{"rank": i, "doc_id": int(d), "score": float(s)}
                for i, (d, s) in enumerate(ranked, 1)]

    # ---------------------------- boolean ----------------------------------
    def _eval_boolean(self, node: BooleanQuery, mult: float, ev, coord: bool,
                      qn: float) -> dict[int, float]:
        m2 = mult * node.boost
        musts, shoulds, nots = [], [], []
        for occ, sub in node.clauses:
            scored = ev(sub, m2)
            (musts if occ == MUST else shoulds if occ == SHOULD else nots).append(scored)
        if not musts and not shoulds:
            return {}  # pure-negative boolean matches nothing (Lucene semantics)
        if musts:
            docs = set(musts[0])
            for m in musts[1:]:
                docs &= set(m)
        else:
            docs = set()
            for s in shoulds:
                docs |= set(s)
        for nmap in nots:
            docs -= set(nmap)
        if node.msm:
            if node.msm > len(shoulds):
                return {}
            docs = {d for d in docs
                    if sum(1 for s in shoulds if d in s) >= node.msm}
        scoring = musts + shoulds
        max_overlap = len(scoring)
        out = {}
        for d in docs:
            total, overlap = 0.0, 0
            for smap in scoring:
                if d in smap:
                    total += smap[d]
                    overlap += 1
            if coord and max_overlap > 0:
                total *= overlap / max_overlap
            out[d] = total
        return out
