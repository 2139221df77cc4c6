"""The one query evaluator: a rewritten AST over decoded postings -> hits.

Input is a pandas frame of decoded postings, one row per (field, term,
doc): ``doc_id``, the term's similarity ``score`` (boost excluded),
``tf``, ``dl`` and ``positions`` (int64 blobs, phrase and span nodes
only), plus one boolean :func:`member_column` per constant-score leaf,
which the JVM projects onto the scan from the leaf's ``term_cond()`` (so
Java-regex semantics are never re-implemented here), and one row with
field :data:`MATCH_ALL` per live doc when the query holds ``*:*``.

Every node maps the batch's docs to a (score, match) pair of dense arrays
in one numpy pass: per-leaf ``bincount`` sums and match flags, clause
contributions added in clause order (so a query scores to the same bits
alone, in a batch and under WAND), DefaultSimilarity's coord, dismax, and
the phrase and span frequency kernels. A doc's answer reads that doc's
rows only, so the engine runs the same function on a whole capped scan in
the driver and on each ``repartition("doc_id")`` partition on the
executors, with the same results.
"""

from __future__ import annotations

import hashlib
from collections import Counter
from functools import partial

import numpy as np
import pandas as pd

from xltsearch_spark.functions import blocks
from xltsearch_spark.plans import scoring
from xltsearch_spark.plans.parser import (MUST, MUST_NOT, SHOULD, BooleanQuery,
                                          DisMaxQuery, MatchAllQuery,
                                          MultiPhraseQuery, PhraseQuery,
                                          SpanFirstQuery, SpanNearQuery,
                                          SpanNotQuery, SpanOrQuery, TermQuery)
from xltsearch_spark.plans.rewrite import ConstScoreTerms

MATCH_ALL = "*"  # field of the live-doc rows MatchAll leaves read


def freq_scorer(config):
    """``scoring.score_freq`` under ``config``'s similarity:
    (freq, dl, idf, avgdl) -> per-doc scores."""
    return partial(scoring.score_freq, config.scoring_model, k1=config.k1,
                   b=config.b, quantize=config.quantize_norms)


def member_column(node: ConstScoreTerms) -> str:
    """Name of ``node``'s membership column; the same in every process."""
    key = repr((node.field, node.terms, node.kind, node.payload)).encode()
    return "_c" + hashlib.sha1(key).hexdigest()[:16]


def top_k(ids: np.ndarray, scores: np.ndarray, k: int):
    """The ``k`` best hits in (score desc, doc_id asc) order."""
    if 0 < k < ids.size:
        keep = scores >= np.partition(scores, ids.size - k)[ids.size - k]
        ids, scores = ids[keep], scores[keep]
    order = np.lexsort((ids, -scores))[:max(k, 0)]
    return ids[order], scores[order]


def best_hits(hits: pd.DataFrame, k: int) -> pd.DataFrame:
    """Each query's ``k`` best (query_id, doc_id, score) hits in (score
    desc, doc_id asc) order."""
    return (hits.sort_values(["query_id", "score", "doc_id"], ascending=[True, False, True])
            .groupby("query_id", sort=False).head(k))


class _Batch:
    """A decoded batch: dense doc codes and the row index of every
    (field, term)."""

    def __init__(self, pdf: pd.DataFrame):
        self.pdf = pdf
        self.codes, self.docs = pd.factorize(pdf["doc_id"].to_numpy(np.int64), sort=True)
        self.n = len(self.docs)
        self.groups = pdf.groupby(["field", "term"], sort=False).indices if len(pdf) else {}

    def rows(self, field, terms, positions=False) -> np.ndarray:
        parts = [self.groups[(field, t)] for t in dict.fromkeys(terms)
                 if (field, t) in self.groups]
        r = np.concatenate(parts) if parts else np.zeros(0, dtype=np.int64)
        if positions:  # rows whose block stores positions, doc-major
            r = r[self.pdf["positions"].to_numpy()[r] != None]  # noqa: E711
            r = r[np.argsort(self.codes[r], kind="stable")]
        return r

    def count(self, r) -> np.ndarray:
        return np.bincount(self.codes[r], minlength=self.n)

    def per_doc(self, r, values, fill=0) -> np.ndarray:
        out = np.full(self.n, fill, dtype=np.asarray(values).dtype)
        out[self.codes[r]] = values
        return out

    def column(self, name, r) -> np.ndarray:
        return self.pdf[name].to_numpy()[r]


class Evaluator:
    """Per-query-batch constants (similarity, collection stats, doc
    freqs); picklable, so the executors run it as the driver does."""

    def __init__(self, config, n_docs: int, avgdl: dict, idf_map: dict):
        self.bm25 = config.scoring_model == "bm25"
        self.model, self.n_docs, self.avgdl, self.idf_map = \
            config.scoring_model, n_docs, avgdl, idf_map
        self.score = freq_scorer(config)

    def hits(self, queries: dict, pdf: pd.DataFrame, cut: int | None = None) -> pd.DataFrame:
        """(query_id, doc_id, score) of every ``query_id: (ast, queryNorm)``;
        with ``cut``, each query's best ``cut`` hits in rank order."""
        b = _Batch(pdf)
        parts = [pd.DataFrame({"query_id": pd.Series([], dtype=object),
                               "doc_id": np.zeros(0, np.int64), "score": np.zeros(0)})]
        for qid, (ast, qn) in queries.items():
            score, match = self.node(b, ast, 1.0, 1.0 if qn is None else qn)
            ids, sc = b.docs[match], score[match]
            if cut is not None:
                ids, sc = top_k(ids, sc, cut)
            parts.append(pd.DataFrame({"query_id": qid, "doc_id": ids.astype(np.int64),
                                       "score": sc.astype(np.float64)}))
        return pd.concat(parts, ignore_index=True)

    def idf(self, field, terms) -> float:
        return sum(scoring.idf(self.model, self.n_docs, self.idf_map.get((field, t), 0))
                   for t in terms)

    def node(self, b: _Batch, node, mult: float, qn: float):
        """(score, match) arrays over the batch's docs; score is 0.0 where
        ``node`` does not match."""
        w = mult * node.boost * qn
        if isinstance(node, TermQuery):
            r = b.rows(node.field, [node.term])
            return (np.bincount(b.codes[r], weights=b.column("score", r), minlength=b.n) * w,
                    b.count(r) > 0)
        if isinstance(node, (ConstScoreTerms, MatchAllQuery)):
            r = (b.rows(MATCH_ALL, [""]) if isinstance(node, MatchAllQuery)
                 else np.flatnonzero(b.pdf[member_column(node)].to_numpy(dtype=bool)))
            match = b.count(r) > 0
            return np.where(match, w, 0.0), match
        if isinstance(node, BooleanQuery):
            return self.boolean(b, node, mult * node.boost, qn)
        if isinstance(node, DisMaxQuery):
            subs = [self.node(b, sub, mult * node.boost, qn) for sub in node.clauses]
            match = np.logical_or.reduce([m for _, m in subs])
            mx = np.where(match, np.max([np.where(m, s, -np.inf) for s, m in subs],
                                        axis=0), 0.0)
            sm = np.zeros(b.n)
            for s, _ in subs:
                sm = sm + s
            return mx + float(node.tie_breaker) * (sm - mx), match
        if isinstance(node, (PhraseQuery, MultiPhraseQuery)):
            return self.phrase(b, node, w)
        if isinstance(node, SpanOrQuery):
            # duplicate clauses each contribute their spans: tf weighs by
            # clause multiplicity
            counts = Counter(node.terms)
            r = b.rows(node.field, counts)
            mult_of = np.array([counts[t] for t in b.column("term", r)], dtype=np.float64)
            sf = np.bincount(b.codes[r], weights=b.column("tf", r) * mult_of, minlength=b.n)
            return self.scored(node, sf, b.per_doc(r, b.column("dl", r)),
                               self.idf(node.field, node.terms), w)
        if isinstance(node, (SpanFirstQuery, SpanNearQuery, SpanNotQuery)):
            return self.span(b, node, w)
        raise TypeError(type(node).__name__)

    def boolean(self, b: _Batch, node: BooleanQuery, m2: float, qn: float):
        """MUST / SHOULD / MUST_NOT, ``msm`` and DefaultSimilarity coord."""
        score, gate = np.zeros(b.n), np.ones(b.n, dtype=bool)
        overlap, should = np.zeros(b.n, dtype=np.int64), np.zeros(b.n, dtype=np.int64)
        n_must = n_scoring = n_should = 0
        for occ, sub in node.clauses:
            s, m = self.node(b, sub, m2, qn)
            if occ == MUST_NOT:
                gate &= ~m
                continue
            score = score + s
            overlap += m
            n_scoring += 1
            if occ == MUST:
                n_must += 1
                gate &= m
            elif occ == SHOULD:
                n_should += 1
                should += m
        if n_scoring == 0 or node.msm > n_should:
            return np.zeros(b.n), np.zeros(b.n, dtype=bool)  # Lucene: no hits
        if node.msm > 0:
            gate &= should >= node.msm
        if n_must == 0:
            gate &= overlap >= 1
        if not self.bm25:
            score = score * overlap / float(n_scoring)
        return np.where(gate, score, 0.0), gate

    def scored(self, node, freq, dl, idf: float, w: float):
        """A phrase or span node's (score, match) from its per-doc
        frequency: the similarity with the frequency in place of tf."""
        hit = freq > 0
        score = np.zeros(freq.size)
        score[hit] = w * self.score(freq[hit], dl[hit], idf,
                                    self.avgdl.get(node.field, 1.0) or 1.0)
        return score, hit

    def phrase(self, b: _Batch, node, w: float):
        """PhraseQuery and MultiPhraseQuery. A slot is a set of terms at a
        relative offset: one term per slot for an exact phrase, plus — in
        the phrase-prefix form — a slot at ``prefix_offset`` matched by ANY
        expansion term. idf sums every slot term's idf (MultiPhraseWeight
        allTermStats)."""
        if isinstance(node, MultiPhraseQuery):
            if not node.expansions:
                return np.zeros(b.n), np.zeros(b.n, dtype=bool)
            slots = ([((t,), o) for t, o in node.terms]
                     + [(tuple(node.expansions), node.prefix_offset)])
            slop = 0
        else:
            slots, slop = [((t,), o) for t, o in node.terms], node.slop
        tpos, tdoc, dl = {}, {}, np.zeros(b.n, dtype=np.int64)
        for t in sorted({t for ts, _ in slots for t in ts}):
            r = b.rows(node.field, [t], positions=True)
            tpos[t], cnts = blocks.blob_positions(b.column("positions", r))
            tdoc[t] = np.repeat(b.codes[r], cnts)
            dl[b.codes[r]] = b.column("dl", r)
        freq = (slot_freq(slots, tpos, tdoc, b.n) if slop == 0
                else sloppy_freq(slots, slop, tpos, tdoc, b.n))
        idf = sum(self.idf(node.field, ts) for ts, _ in slots)
        return self.scored(node, freq, dl, idf, w)

    def span(self, b: _Batch, node, w: float):
        """SpanFirst, ordered two-clause SpanNear and SpanNot: the span
        frequency of every doc holding the (include) term, over per-doc
        position blobs; idf from the clause terms (SpanWeight)."""
        first = node.term if isinstance(node, SpanFirstQuery) else (
            node.first if isinstance(node, SpanNearQuery) else node.include)
        r = b.rows(node.field, [first], positions=True)
        codes, blobs = b.codes[r], b.column("positions", r)
        if isinstance(node, SpanFirstQuery):
            pos, counts = blocks.blob_positions(blobs)
            offs = np.cumsum(counts) - counts
            freq = np.add.reduceat((pos < int(node.end)).astype(np.int64), offs) \
                if r.size else np.zeros(0)
            idf_terms = [node.term]
        else:
            other = node.second if isinstance(node, SpanNearQuery) else node.exclude
            r2 = b.rows(node.field, [other], positions=True)
            blobs2 = b.per_doc(r2, b.column("positions", r2).astype(object), None)[codes]
            if isinstance(node, SpanNearQuery):
                both = np.array([x is not None for x in blobs2], dtype=bool)
                r, codes, blobs, blobs2 = r[both], codes[both], blobs[both], blobs2[both]
                freq = near_freq(blobs, blobs2, int(node.slop))
                idf_terms = [node.first, node.second]
            else:
                freq = not_freq(blobs, blobs2, int(node.pre), int(node.post))
                idf_terms = [node.include]
        sf = np.zeros(b.n)
        sf[codes] = freq
        return self.scored(node, sf, b.per_doc(r, b.column("dl", r)),
                           self.idf(node.field, idf_terms), w)


def slot_freq(slots, tpos, tdoc, ndocs) -> np.ndarray:
    """Exact phraseFreq per doc: every slot-term position becomes a (doc,
    slot, anchor = position - offset) triple; the triples are deduped (two
    expansion terms at one position are ONE slot match: ExactPhraseScorer
    over the union postings enum counts each position once) and the
    (doc, anchor) groups holding every slot are counted."""
    parts = [(tdoc[t], np.full(tdoc[t].size, si), tpos[t] - off)
             for si, (ts, off) in enumerate(slots) for t in ts]
    gd, gs, ga = (np.concatenate(c) for c in zip(*parts))
    if gd.size == 0:  # no slot term in this batch
        return np.zeros(ndocs)
    order = np.lexsort((gs, ga, gd))
    gd, gs, ga = gd[order], gs[order], ga[order]
    fresh = np.concatenate(([True], (gd[1:] != gd[:-1]) | (ga[1:] != ga[:-1])
                            | (gs[1:] != gs[:-1])))
    gd, ga = gd[fresh], ga[fresh]
    bnd = np.flatnonzero(np.concatenate(([True], (gd[1:] != gd[:-1]) | (ga[1:] != ga[:-1]))))
    sizes = np.diff(np.concatenate((bnd, [gd.size])))
    full = sizes == len(slots)  # deduped: <= 1 entry per slot
    return np.bincount(gd[bnd[full]], minlength=ndocs).astype(np.float64)


def sloppy_freq(slots, slop, tpos, tdoc, ndocs) -> np.ndarray:
    """Sloppy phraseFreq per doc: ``functions/phrase.py:phrase_freq``'s
    anchor-distance rule applied batch-wide (nearest-position searchsorted
    on a (doc, position) composite key)."""
    terms = [ts[0] for ts, _ in slots]
    offsets = [o for _, o in slots]
    a_doc = tdoc[terms[0]]
    a_pos = tpos[terms[0]] - offsets[0]
    total = np.zeros(a_doc.size, dtype=np.float64)
    for i in range(1, len(terms)):
        fp, fd = tpos[terms[i]], tdoc[terms[i]]
        expected = a_pos + offsets[i]
        if fp.size == 0 or a_doc.size == 0:
            total[:] = np.inf
            break
        lo = min(int(fp.min()), int(expected.min()))
        span = max(int(fp.max()), int(expected.max())) - lo + 2
        comp = fd * span + (fp - lo)
        j = np.searchsorted(comp, a_doc * span + (expected - lo))
        jr = np.minimum(j, comp.size - 1)
        ok_r = (j < comp.size) & (fd[jr] == a_doc)
        dist = np.where(ok_r, np.abs(fp[jr] - expected), np.inf)
        jl = np.maximum(j - 1, 0)
        ok_l = (j > 0) & (fd[jl] == a_doc)
        dist = np.minimum(dist, np.where(ok_l, np.abs(fp[jl] - expected), np.inf))
        total += dist
    ok = total <= slop
    return np.bincount(a_doc[ok], weights=1.0 / (1.0 + total[ok]), minlength=ndocs)


def near_freq(blobs_a, blobs_b, slop: int) -> np.ndarray:
    """Ordered SpanNear frequency per doc: each ``second`` occurrence pairs
    with its closest preceding ``first`` occurrence (strictly before: equal
    positions of posIncr=0 subtokens are not predecessors); gap <= slop
    contributes sloppyFreq 1/(1+gap). Every doc shares one global
    searchsorted via per-doc offset lifting (doc_i * 2^32 added to both
    position streams)."""
    pa, cnt_a = blocks.blob_positions(blobs_a)
    pb, cnt_b = blocks.blob_positions(blobs_b)
    n = len(cnt_a)
    if n == 0:
        return np.zeros(0)
    base = np.arange(n, dtype=np.int64) << 32  # positions < 2^32
    pa_adj = pa + np.repeat(base, cnt_a)
    pb_adj = pb + np.repeat(base, cnt_b)
    starts_a = np.cumsum(cnt_a) - cnt_a
    starts_b = np.cumsum(cnt_b) - cnt_b
    row_of_b = np.repeat(np.arange(n, dtype=np.int64), cnt_b)
    idx = np.searchsorted(pa_adj, pb_adj, side="left") - 1
    valid = idx >= starts_a[row_of_b]  # predecessor in SAME doc
    gap = np.where(valid, pb_adj - pa_adj[np.maximum(idx, 0)] - 1, np.int64(slop) + 1)
    contrib = np.where(gap <= slop, 1.0 / (1.0 + gap), 0.0)
    return np.add.reduceat(contrib, starts_b)


def not_freq(blobs_i, blobs_e, pre: int, post: int) -> np.ndarray:
    """SpanNot frequency per doc: include occurrences with no exclude
    occurrence in [p - pre, p + post] (a doc without the exclude term
    keeps every span), by the same offset-lifted searchsorted."""
    pi, cnt_i = blocks.blob_positions(blobs_i)
    pe, cnt_e = blocks.blob_positions(blobs_e)
    if len(cnt_i) == 0:
        return np.zeros(0)
    base = np.arange(len(cnt_i), dtype=np.int64) << 32
    pi_adj = pi + np.repeat(base, cnt_i)
    pe_adj = pe + np.repeat(base, cnt_e)
    # pre/post < 2^31 (validated in search_span_not) so the window never
    # crosses a doc's block
    lo = np.searchsorted(pe_adj, pi_adj - pre, side="left")
    hi = np.searchsorted(pe_adj, pi_adj + post, side="right")
    survive = (hi == lo).astype(np.float64)
    return np.add.reduceat(survive, np.cumsum(cnt_i) - cnt_i)
