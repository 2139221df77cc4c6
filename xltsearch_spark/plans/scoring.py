"""Scoring math shared by the Spark engine and the pure-Python oracle.

Keeping the Lucene-4.6 formulas in ONE place guarantees the engine and the
oracle cannot drift apart (SURVEY.md Q14/Q15 semantics; similarity selected
at ``Config.java:80-84``, applied ``IndexTask.java:57``/``SearchTask.java:58``).
"""

from __future__ import annotations

import math

import numpy as np

from xltsearch_spark.functions.norms import decoded_tf_idf_norm, quantized_doc_length
from xltsearch_spark.plans.parser import (BooleanQuery, DisMaxQuery, MatchAllQuery, MUST_NOT,
                                          MultiPhraseQuery,
                                          PhraseQuery, SpanFirstQuery,
                                          SpanNearQuery, SpanNotQuery,
                                          SpanOrQuery, TermQuery)
from xltsearch_spark.plans.rewrite import ConstScoreTerms


def bm25_idf(n_docs: int, df: int) -> float:
    """BM25Similarity.idf: ln(1 + (N - df + 0.5)/(df + 0.5)), N = maxDoc."""
    return math.log(1 + (n_docs - df + 0.5) / (df + 0.5))


def tfidf_idf(n_docs: int, df: int) -> float:
    """DefaultSimilarity idf: 1 + ln(N/(df+1))."""
    return 1 + math.log(n_docs / (df + 1))


def idf(model: str, n_docs: int, df: int) -> float:
    """The configured similarity's idf: BM25's or DefaultSimilarity's."""
    return bm25_idf(n_docs, df) if model == "bm25" else tfidf_idf(n_docs, df)


def bm25_tf_norm(tf, dl_q, avgdl: float, k1: float, b: float):
    """tf/(tf + k1*(1-b+b*dl_q/avgdl)) — numpy-broadcastable."""
    tf = np.asarray(tf, dtype=np.float64)
    return tf / (tf + k1 * (1 - b + b * np.asarray(dl_q, dtype=np.float64) / avgdl))


def score_freq(model: str, freq, dl, idf, avgdl, k1: float, b: float,
               quantize: bool):
    """The one freq -> score expression: a term's tf (or a phrase/span
    frequency) in a doc of raw field length ``dl`` under the configured
    similarity. BM25 in BM25Similarity's own association, weight * freq /
    (freq + k1*(1-b+b*dl/avgdl)) with weight = idf*(k1+1) — the order the
    pyoracle's phrase and span scorers use, so a sloppy frequency that is
    an ulp off a neighbour's ranks as the oracle ranks it; DefaultSimilarity:
    sqrt(freq) * idf * idf * norm(dl). ``quantize`` routes dl through
    Lucene's 8-bit norm. numpy-broadcastable: ``idf``/``avgdl`` may be
    scalars or per-posting arrays with the same result bits, which keeps
    the build's stored block bounds equal to the scores the engine
    decodes."""
    dl = np.asarray(dl, dtype=np.int64)
    freq = np.asarray(freq, dtype=np.float64)
    if model == "bm25":
        dlq = quantized_doc_length(dl) if quantize else dl.astype(np.float64)
        return idf * (k1 + 1) * freq / (freq + k1 * (1 - b + b * dlq / avgdl))
    nrm = (decoded_tf_idf_norm(dl) if quantize
           else np.where(dl > 0, 1.0 / np.sqrt(np.maximum(dl, 1)), 0.0))
    return np.sqrt(freq) * idf * idf * nrm


def tfidf_sum_sq_weights(node, mult: float, idf_of) -> float:
    """Lucene Weight.getValueForNormalization recursion for DefaultSimilarity.

    ``idf_of(field, term) -> float`` supplies per-term idf. Prohibited
    (MUST_NOT) clauses are excluded, exactly as BooleanWeight does.
    """
    if isinstance(node, TermQuery):
        return (idf_of(node.field, node.term) * node.boost * mult) ** 2
    if isinstance(node, PhraseQuery):
        idf = sum(idf_of(node.field, t) for t, _ in node.terms)
        return (idf * node.boost * mult) ** 2
    if isinstance(node, MultiPhraseQuery):
        # MultiPhraseWeight: SimWeight over allTermStats — every exact-slot
        # term plus every expanded term contributes its idf
        idf = (sum(idf_of(node.field, t) for t, _ in node.terms)
               + sum(idf_of(node.field, t) for t in node.expansions))
        return (idf * node.boost * mult) ** 2
    if isinstance(node, (ConstScoreTerms, MatchAllQuery)):
        return (node.boost * mult) ** 2
    if isinstance(node, BooleanQuery):
        return sum(tfidf_sum_sq_weights(sub, mult * node.boost, idf_of)
                   for occ, sub in node.clauses if occ != MUST_NOT)
    if isinstance(node, DisMaxQuery):
        # DisjunctionMaxWeight.getValueForNormalization sums sub norms
        return sum(tfidf_sum_sq_weights(sub, mult * node.boost, idf_of)
                   for sub in node.clauses)
    if isinstance(node, SpanFirstQuery):
        # SpanWeight normalizes on the wrapped term's statistics
        return (idf_of(node.field, node.term) * node.boost * mult) ** 2
    if isinstance(node, SpanNearQuery):
        # SpanWeight sums the clause terms' idfs (like a phrase)
        idf = idf_of(node.field, node.first) + idf_of(node.field, node.second)
        return (idf * node.boost * mult) ** 2
    if isinstance(node, SpanOrQuery):
        idf = sum(idf_of(node.field, t) for t in node.terms)
        return (idf * node.boost * mult) ** 2
    if isinstance(node, SpanNotQuery):
        # exclusion filters spans; only the include term carries weight
        return (idf_of(node.field, node.include) * node.boost * mult) ** 2
    raise TypeError(type(node).__name__)


def query_norm(sum_sq: float) -> float:
    return 1.0 / math.sqrt(sum_sq) if sum_sq > 0 else 1.0
