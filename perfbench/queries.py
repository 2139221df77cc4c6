"""Seeded query stream drawn from the generated corpus.

Eight classes, each a different path through the query engine:

* ``term_hot``  one word in about half the docs (``common_token``: 90%)
* ``term_rare`` one ``needle_<i>`` term, in exactly one doc
* ``and`` / ``or`` / ``not``  two hot words joined by AND / OR / NOT
* ``phrase``    two adjacent words copied from a random doc, quoted
* ``prefix``    the first 3-4 letters of a hot word, then ``*``
* ``fuzzy``     a hot word of 5+ letters with one letter replaced, then ``~1``

A round of the ``query`` workload is one query of every class plus a
``search_many`` batch of ``BATCH`` queries, two of every class, so each
class weighs 1/8 in both; a round of ``update`` has the single queries.
The repo has no query log or class frequencies to take weights from, so
this equal mix is an assumption.
"""

from __future__ import annotations

import collections
import re

import numpy as np
import pandas as pd

CLASSES = ("term_hot", "term_rare", "and", "or", "not", "phrase", "prefix", "fuzzy")
BATCH = 16

# Lucene's English stop set: the analyzer drops these, so they make poor queries
STOP = frozenset("a an and are as at be but by for if in into is it no not of on or "
                 "such that the their then there these they this to was will with".split())
_WORD = re.compile(r"[a-z][a-z_]*\Z")


class QueryPool:
    def __init__(self, corpus: pd.DataFrame, seed: int):
        self.rng = np.random.default_rng([seed, 7])
        self.docs = [str(c).split() for c in corpus["content"]]
        df = collections.Counter()
        for toks in self.docs:
            df.update({t for t in toks if _WORD.match(t) and t not in STOP})
        self.hot = sorted(t for t, n in df.items() if n >= 0.2 * len(self.docs))
        self.hot_set = frozenset(self.hot)
        self.vocab = sorted(df)
        self.needles = [t for toks in self.docs for t in toks if t.startswith("needle_")]

    def _hot(self) -> str:
        return self.hot[self.rng.integers(len(self.hot))]

    def _two_hot(self) -> tuple[str, str]:
        i, j = self.rng.choice(len(self.hot), size=2, replace=False)
        return self.hot[i], self.hot[j]

    def _phrase(self) -> str:
        while True:
            toks = self.docs[self.rng.integers(len(self.docs))]
            pairs = [(a, b) for a, b in zip(toks, toks[1:])
                     if a in self.hot_set and b in self.hot_set and a != b]
            if pairs:
                a, b = pairs[self.rng.integers(len(pairs))]
                return f'"{a} {b}"'

    def _prefix(self) -> str:
        # a prefix shared by a handful of words, not by every needle_<i>
        while True:
            word = self._hot()
            stem = word[:3 + int(self.rng.integers(2))]
            lo = np.searchsorted(self.vocab, stem)
            hi = np.searchsorted(self.vocab, stem + "\uffff")
            if len(word) > len(stem) and hi - lo <= 8:
                return stem + "*"

    def _fuzzy(self) -> str:
        while True:
            word = self._hot()
            if len(word) >= 5 and "_" not in word:
                break
        i = 1 + int(self.rng.integers(len(word) - 1))
        letters = [c for c in "abcdefghijklmnopqrstuvwxyz" if c != word[i]]
        return word[:i] + letters[self.rng.integers(len(letters))] + word[i + 1:] + "~1"

    def query(self, cls: str) -> str:
        if cls == "term_hot":
            return self._hot()
        if cls == "term_rare":
            return self.needles[self.rng.integers(len(self.needles))]
        if cls in ("and", "or", "not"):
            a, b = self._two_hot()
            return f"{a} {cls.upper()} {b}"
        if cls == "phrase":
            return self._phrase()
        if cls == "prefix":
            return self._prefix()
        if cls == "fuzzy":
            return self._fuzzy()
        raise ValueError(cls)

    def singles(self) -> list[tuple[str, str]]:
        """One query of every class, as (class, text)."""
        return [(cls, self.query(cls)) for cls in CLASSES]

    def batch(self, size: int = BATCH) -> dict[str, str]:
        """``size`` queries, the same number of every class, in random
        order, as {query_id: text}."""
        classes = [c for c in CLASSES for _ in range(size // len(CLASSES))]
        order = self.rng.permutation(len(classes))
        return {f"b{i:02d}_{classes[j]}": self.query(classes[j])
                for i, j in enumerate(order)}
