"""Answer checker: every output of a benchmark run is compared with the
pyoracle (``xltsearch_spark/oracle/pyoracle.py``), the repo's independent
spec, or with a property the benchmark derives from the inputs itself.
Nothing here compares the program with a stored copy of its own output.

Each ``*_mismatch`` function returns ``None`` when the output is right and a
one-line reason when it is wrong.
"""

from __future__ import annotations

import glob
import hashlib
import math
import os
import pickle

import numpy as np
import pandas as pd

REL_TOL = 1e-6   # the rank-identity rule of tests/test_engine.py
ABS_TOL = 1e-9


def _score_ok(got: float, exp: float) -> bool:
    return math.isclose(got, exp, rel_tol=REL_TOL, abs_tol=ABS_TOL)


def sha256_hex(text: str) -> str:
    return hashlib.sha256(str(text).encode("utf-8")).hexdigest()


# ------------------------------- queries -----------------------------------
def rank_mismatch(got: list[tuple[int, float]],
                  exp: list[tuple[int, float]]) -> str | None:
    """Rank identity: the same doc id at every rank, scores within 1e-6
    relative. Both sides order ties by doc id ascending."""
    if len(got) != len(exp):
        return f"{len(got)} hits, oracle has {len(exp)}"
    for rank, ((gd, gs), (ed, es)) in enumerate(zip(got, exp), 1):
        if gd != ed:
            return f"rank {rank}: doc {gd}, oracle doc {ed}"
        if not _score_ok(gs, es):
            return f"rank {rank}: score {gs!r}, oracle {es!r}"
    return None


def keyed_mismatch(got: list[tuple[object, float]],
                   exp_scores: dict[object, float], limit: int) -> str | None:
    """Top-k by key (e.g. (repo, path)) when doc ids are not comparable.

    ``exp_scores`` holds the oracle's score of EVERY matching doc. The
    answer is right when it has min(limit, matches) hits, each scored as the
    oracle scores that doc, in non-increasing order, and no doc left out
    scores above the last one returned (ties at the cut may differ)."""
    want = min(limit, len(exp_scores))
    if len(got) != want:
        return f"{len(got)} hits, oracle has {want}"
    if len({k for k, _ in got}) != len(got):
        return "a doc is returned twice"
    for rank, (key, score) in enumerate(got, 1):
        if key not in exp_scores:
            return f"rank {rank}: {key} does not match the query"
        if not _score_ok(score, exp_scores[key]):
            return f"rank {rank}: {key} score {score!r}, oracle {exp_scores[key]!r}"
        if rank > 1 and score > got[rank - 2][1] * (1 + REL_TOL) + ABS_TOL:
            return f"rank {rank}: score rises"
    if got:
        kth = sorted(exp_scores.values(), reverse=True)[want - 1]
        if not _score_ok(got[-1][1], kth) and got[-1][1] < kth:
            return f"last hit scores {got[-1][1]!r}, oracle's k-th {kth!r}"
    return None


# -------------------------------- builds -----------------------------------
def docs_mismatch(docs: pd.DataFrame, corpus: pd.DataFrame) -> str | None:
    """Row invariant of a full build: ``hashsum`` is the sha256 of the row's
    content, and doc ids are dense from 0 in (repo, path) order.
    ``docs`` holds the index's (doc_id, repo, path, hashsum)."""
    exp = corpus.sort_values(["repo", "path"]).reset_index(drop=True)
    got = docs.sort_values("doc_id").reset_index(drop=True)
    if len(got) != len(exp):
        return f"{len(got)} docs indexed, corpus has {len(exp)}"
    if not (got["doc_id"].to_numpy() == np.arange(len(exp))).all():
        return "doc ids are not dense"
    keys_ok = ((got["repo"].to_numpy() == exp["repo"].to_numpy())
               & (got["path"].to_numpy() == exp["path"].to_numpy()))
    if not keys_ok.all():
        bad = int(np.argmin(keys_ok))
        return f"doc {bad} is {got['repo'][bad]}/{got['path'][bad]}, " \
               f"(repo, path) order puts {exp['repo'][bad]}/{exp['path'][bad]} there"
    sha = exp["content"].map(sha256_hex).to_numpy()
    hash_ok = got["hashsum"].to_numpy() == sha
    if not hash_ok.all():
        bad = int(np.argmin(hash_ok))
        return f"doc {bad}: hashsum is not sha256(content)"
    return None


def dictionary_mismatch(dictionary: pd.DataFrame, oracle) -> str | None:
    """Every (field, term) of the index has the oracle's document frequency
    and total term frequency, and no term is missing or extra."""
    exp = {k: (len(p), int(sum(v.size for v in p.values())))
           for k, p in oracle.postings.items()}
    got = {(r.field, r.term): (int(r.doc_freq), int(r.total_term_freq))
           for r in dictionary.itertuples(index=False)}
    if got.keys() != exp.keys():
        extra = sorted(got.keys() - exp.keys())[:3]
        missing = sorted(exp.keys() - got.keys())[:3]
        return f"terms differ: extra {extra}, missing {missing}"
    for key, freqs in exp.items():
        if got[key] != freqs:
            return f"{key}: (df, ttf) {got[key]}, oracle {freqs}"
    return None


# -------------------------------- updates ----------------------------------
def _key_hashes(df: pd.DataFrame) -> dict[tuple[str, str], str]:
    return {(r.repo, r.path): sha256_hex(r.content)
            for r in df.itertuples(index=False)}


def expected_diff(v1: pd.DataFrame, v2: pd.DataFrame) -> dict[str, int]:
    """Change counts derived from the two corpora on (repo, path) and
    sha256, independently of ``operators.incremental``."""
    h1, h2 = _key_hashes(v1), _key_hashes(v2)
    return {"insert": sum(1 for k in h2 if k not in h1),
            "update": sum(1 for k, h in h2.items() if k in h1 and h1[k] != h),
            "unchanged": sum(1 for k, h in h2.items() if h1.get(k) == h),
            "delete": sum(1 for k in h1 if k not in h2)}


def diff_mismatch(summary: dict, v1: pd.DataFrame, v2: pd.DataFrame) -> str | None:
    exp = expected_diff(v1, v2)
    got = {k: int(summary.get(k, -1)) for k in exp}
    return None if got == exp else f"diff counts {got}, expected {exp}"


def segment_history(v1: pd.DataFrame, v2: pd.DataFrame):
    """Lucene updateDocument semantics in pandas: v1 docs keep ids 0..N-1;
    changed and new v2 rows get fresh ids after them in (repo, path) order;
    old versions of changed rows and deleted rows are tombstones. Returns
    (history corpus with doc_id, tombstoned doc ids)."""
    old = v1.sort_values(["repo", "path"]).reset_index(drop=True).copy()
    old["doc_id"] = np.arange(len(old))
    h1, h2 = _key_hashes(v1), _key_hashes(v2)
    changed = {k for k, h in h2.items() if h1.get(k) != h}
    dead = {k for k in h1 if h2.get(k) != h1[k]}
    keys = list(zip(old["repo"], old["path"]))
    deleted = {int(i) for i, k in zip(old["doc_id"], keys) if k in dead}
    new_keys = pd.Series(list(zip(v2["repo"], v2["path"])), index=v2.index)
    seg = (v2[new_keys.isin(changed)].sort_values(["repo", "path"])
           .reset_index(drop=True).copy())
    seg["doc_id"] = np.arange(len(old), len(old) + len(seg))
    return pd.concat([old, seg], ignore_index=True), deleted


# ----------------------------- oracle cache --------------------------------
def source_digest(root: str) -> str:
    """Digest of every source file of the package: a superset of the files
    the oracle imports, so any change to them invalidates cached oracles."""
    h = hashlib.sha256()
    for path in sorted(glob.glob(os.path.join(root, "xltsearch_spark", "**", "*.py"),
                                 recursive=True)):
        h.update(os.path.relpath(path, root).encode())
        with open(path, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    return h.hexdigest()


def corpus_digest(corpus: pd.DataFrame, deleted=()) -> str:
    h = hashlib.sha256()
    cols = [c for c in ("doc_id", "repo", "path", "lang", "content", "title")
            if c in corpus.columns]
    for row in corpus[cols].itertuples(index=False):
        h.update(repr(tuple(row)).encode("utf-8"))
    h.update(repr(sorted(deleted)).encode())
    return h.hexdigest()


class OracleCache:
    """Pickled ``OracleIndex`` objects under ``<root>/.perfbench_cache``,
    keyed on the corpus rows, the tombstones and the package sources. The
    pickles are written only by this class."""

    def __init__(self, root: str):
        self.dir = os.path.join(root, ".perfbench_cache")
        self.sources = source_digest(root)

    def key(self, corpus: pd.DataFrame, deleted=(), tag: str = "oracle") -> str:
        """Cache key of what is derived from ``corpus`` by this version of
        the package."""
        return hashlib.sha256((tag + self.sources + corpus_digest(corpus, deleted))
                              .encode()).hexdigest()[:32]

    def get(self, corpus: pd.DataFrame, deleted=()):
        from xltsearch_spark.oracle.pyoracle import OracleIndex
        path = os.path.join(self.dir, f"oracle-{self.key(corpus, deleted)}.pickle")
        if os.path.exists(path):
            with open(path, "rb") as f:
                return pickle.load(f)
        oracle = OracleIndex(corpus, deleted=set(deleted))
        os.makedirs(self.dir, exist_ok=True)
        tmp = f"{path}.{os.getpid()}.tmp"
        with open(tmp, "wb") as f:
            pickle.dump(oracle, f, protocol=pickle.HIGHEST_PROTOCOL)
        os.replace(tmp, path)
        return oracle


def oracle_topk(oracle, query: str, limit: int) -> list[tuple[int, float]]:
    return [(h["doc_id"], h["score"]) for h in oracle.search(query, limit)]


def oracle_scores_by_key(oracle, query: str) -> dict[tuple[str, str], float]:
    return {(h["repo"], h["path"]): h["score"]
            for h in oracle.search(query, oracle.n_docs)}


# ------------------------------- self-test ---------------------------------
def self_test() -> list[str]:
    """Feed the checkers right and wrong answers built from the oracle on a
    tiny corpus. Returns the failures (empty when every checker accepts the
    right answer and rejects each wrong one)."""
    from xltsearch_spark.oracle.pyoracle import OracleIndex
    from xltsearch_spark.sources.corpus import generate_corpus
    v1, v2 = generate_corpus(64, 1, 1), generate_corpus(64, 1, 2)
    oracle = OracleIndex(v1)
    right = oracle_topk(oracle, "common_token OR graded", 10)
    swapped = list(right)
    swapped[2], swapped[3] = swapped[3], swapped[2]
    off = list(right)
    off[4] = (off[4][0], off[4][1] * (1 + 1e-4))
    failures = []

    def expect(name, result, wrong):
        if (result is not None) != wrong:
            failures.append(f"{name}: {'accepted' if wrong else 'rejected'} "
                            f"({result})")

    expect("rank: right answer", rank_mismatch(right, right), False)
    expect("rank: two ranks swapped", rank_mismatch(swapped, right), True)
    expect("rank: score off 1e-4", rank_mismatch(off, right), True)
    expect("rank: row missing", rank_mismatch(right[:-1], right), True)

    scores = oracle_scores_by_key(oracle, "common_token OR graded")
    keyed = [((oracle.docs["repo"][d], oracle.docs["path"][d]), s) for d, s in right]
    expect("keyed: right answer", keyed_mismatch(keyed, scores, 10), False)
    k_swap = list(keyed)
    k_swap[0], k_swap[-1] = k_swap[-1], k_swap[0]
    expect("keyed: first and last swapped", keyed_mismatch(k_swap, scores, 10), True)
    k_off = list(keyed)
    k_off[4] = (k_off[4][0], k_off[4][1] * (1 + 1e-4))
    expect("keyed: score off 1e-4", keyed_mismatch(k_off, scores, 10), True)
    expect("keyed: row missing", keyed_mismatch(keyed[:-1], scores, 10), True)

    docs = oracle.docs.reset_index().rename(columns={"index": "doc_id"})[
        ["doc_id", "repo", "path", "hashsum"]]
    expect("docs: right", docs_mismatch(docs, v1), False)
    bad_hash = docs.copy()
    bad_hash.loc[5, "hashsum"] = sha256_hex("tampered")
    expect("docs: wrong sha256", docs_mismatch(bad_hash, v1), True)
    expect("docs: row missing", docs_mismatch(docs.iloc[:-1], v1), True)
    swapped_ids = docs.copy()
    swapped_ids.loc[[1, 2], "doc_id"] = [2, 1]
    expect("docs: ids out of order", docs_mismatch(swapped_ids, v1), True)

    exp = expected_diff(v1, v2)
    expect("diff: right", diff_mismatch(exp, v1, v2), False)
    expect("diff: one update missed",
           diff_mismatch({**exp, "update": exp["update"] - 1}, v1, v2), True)
    return failures
