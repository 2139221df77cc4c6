"""Training-pipeline operator tests: dedup, similarity, text stats."""

import numpy as np
import pandas as pd
import pytest

from xltsearch_spark.operators import dedup, similarity, textstats


@pytest.fixture(scope="module")
def docs_df(spark):
    rows = [
        (0, "the quick brown fox jumps over the lazy dog near the river bank today"),
        (1, "the quick brown fox jumps over the lazy dog near the river bank today"),  # exact dup of 0
        (2, "the quick brown fox jumps over the lazy dog near the river bend today"),  # near dup of 0
        (3, "der schnelle braune fuchs springt und das ist ein test mit der sache"),
        (4, "completely different content about spark inverted index engines here now"),
        (5, "el zorro marron salta sobre el perro y es una prueba de la cosa"),
    ]
    return spark.createDataFrame(rows, ["doc_id", "text"])


def test_exact_dedup(docs_df):
    groups = dedup.exact_dedup_groups(docs_df).collect()
    assert len(groups) == 1
    assert groups[0]["n_dups"] == 2 and groups[0]["keep_doc_id"] == 0


def test_minhash_lsh_finds_near_dups(docs_df):
    sigs = dedup.minhash_signatures(docs_df, num_hashes=64, shingle_n=3)
    pairs = {(r["a"], r["b"]): r["est_jaccard"]
             for r in dedup.minhash_lsh_pairs(sigs, bands=16, rows_per_band=4,
                                              threshold=0.5).collect()}
    assert (0, 1) in pairs and pairs[(0, 1)] == 1.0  # identical text
    assert (0, 2) in pairs or (1, 2) in pairs        # near dup caught
    assert all(4 not in p for p in pairs)            # distinct doc never pairs


def test_minhash_estimates_jaccard(spark):
    # 38 trigrams each, 19 shared -> true jaccard = 19/57 = 1/3
    base = [f"tok{i}" for i in range(40)]
    a = " ".join(base)
    b = " ".join(base[:21] + [f"other{i}" for i in range(19)])
    df = spark.createDataFrame([(0, a), (1, b)], ["doc_id", "text"])
    sigs = dedup.minhash_signatures(df, num_hashes=128, shingle_n=3)
    # 64 bands x 2 rows: collision prob per band (1/3)^2 -> pair found w.h.p.
    pairs = dedup.minhash_lsh_pairs(sigs, bands=64, rows_per_band=2,
                                    threshold=0.15).collect()
    est = [p["est_jaccard"] for p in pairs if {p["a"], p["b"]} == {0, 1}]
    assert est and 0.15 < est[0] < 0.55


def test_simhash_near_pairs(docs_df):
    fps = dedup.simhash_fingerprints(docs_df)
    rows = {r["doc_id"]: r["simhash"] for r in fps.collect()}
    assert rows[0] == rows[1]  # identical docs -> identical simhash
    pairs = dedup.simhash_near_pairs(fps, max_hamming=16, bands=4).collect()
    got = {(r["a"], r["b"]) for r in pairs}
    assert (0, 1) in got
    assert (0, 2) in got  # one-word change -> small hamming distance


def test_ngram_jaccard_exact_value(docs_df):
    pairs = {(r["a"], r["b"]): r["jaccard"]
             for r in dedup.ngram_jaccard_pairs(docs_df, n=3, threshold=0.1).collect()}
    assert pairs[(0, 1)] == pytest.approx(1.0)
    # doc 0 vs 2: 14 tokens -> 12 trigrams each; the word at index 12 differs,
    # breaking the 2 trigrams containing it: |inter|=10, |union|=14
    assert pairs[(0, 2)] == pytest.approx(10 / 14)


def test_cosine_topk_bruteforce_matches_numpy(spark):
    rng = np.random.default_rng(7)
    mat = rng.standard_normal((50, 8))
    df = spark.createDataFrame(
        [(i, mat[i].tolist()) for i in range(50)], ["vec_id", "embedding"])
    q = mat[3].tolist()
    got = similarity.cosine_topk_bruteforce(df, q, k=5).collect()
    sims = mat @ mat[3] / (np.linalg.norm(mat, axis=1) * np.linalg.norm(mat[3]))
    exp = np.argsort(-sims)[:5]
    assert [r["vec_id"] for r in got] == exp.tolist()
    assert got[0]["vec_id"] == 3 and got[0]["cosine"] == pytest.approx(1.0)


def test_cosine_topk_batch_matches_bruteforce(spark):
    rng = np.random.default_rng(9)
    mat = rng.standard_normal((60, 8))
    df = spark.createDataFrame(
        [(i, mat[i].tolist()) for i in range(60)], ["vec_id", "embedding"])
    queries = mat[[0, 10, 20]]
    batch = similarity.cosine_topk_batch(df, queries, k=4).collect()
    for qi, qvec in enumerate(queries):
        exp = [r["vec_id"] for r in
               similarity.cosine_topk_bruteforce(df, qvec.tolist(), k=4).collect()]
        got = [r["vec_id"] for r in sorted(
            (r for r in batch if r["query_id"] == qi), key=lambda r: r["rank"])]
        assert got == exp


def test_cosine_lsh_recalls_identical_vector(spark):
    rng = np.random.default_rng(11)
    mat = rng.standard_normal((80, 16))
    df = spark.createDataFrame(
        [(i, mat[i].tolist()) for i in range(80)], ["vec_id", "embedding"])
    got = similarity.cosine_topk_lsh(df, mat[7].tolist(), k=3, n_planes=8).collect()
    assert got and got[0]["vec_id"] == 7 and got[0]["cosine"] == pytest.approx(1.0)


def test_token_count(spark):
    df = spark.createDataFrame([(0, "Hello, world! foo_bar baz"), (1, "")],
                               ["doc_id", "text"])
    rows = {r["doc_id"]: (r["n_tokens"], r["n_ws_tokens"])
            for r in textstats.token_count(df).collect()}
    assert rows[0] == (4, 4)
    assert rows[1] == (0, 0)


def test_quality_scores(docs_df):
    rows = {r["doc_id"]: r for r in textstats.quality_scores(docs_df).collect()}
    assert 0 < rows[0]["quality"] <= 1
    assert rows[0]["stopword_ratio"] > 0.2  # English prose has stopwords
    assert rows[0]["alpha_ratio"] > 0.7


def test_language_id(docs_df):
    rows = {r["doc_id"]: r["pred_lang"] for r in textstats.language_id(docs_df).collect()}
    assert rows[0] == "en" and rows[3] == "de" and rows[5] == "es"


def test_fingerprint_whitespace_insensitive(spark):
    df = spark.createDataFrame(
        [(0, "Foo  bar\tbaz"), (1, "foo bar baz"), (2, "foo bar qux")],
        ["doc_id", "text"])
    rows = {r["doc_id"]: r["fingerprint"] for r in textstats.fingerprints(df).collect()}
    assert rows[0] == rows[1]
    assert rows[0] != rows[2]


def test_ngram_jaccard_hot_shingle_capped(spark):
    # one boilerplate trigram shared by ALL docs must not create candidate
    # pairs on its own: with max_shingle_df below the corpus size, the hot
    # shingle is dropped before the self-join and only genuinely-overlapping
    # pairs survive (scale guard: k docs sharing a shingle emit k^2 rows).
    boiler = "all rights reserved"
    rows = [(i, f"unique{i} token{i} salt{i} {boiler}") for i in range(20)]
    rows.append((100, "real duplicate body with shared content here " + boiler))
    rows.append((101, "real duplicate body with shared content here " + boiler))
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    pairs = dedup.ngram_jaccard_pairs(df, n=3, threshold=0.5,
                                      max_shingle_df=5).collect()
    assert {(r["a"], r["b"]) for r in pairs} == {(100, 101)}
    # the boilerplate-only docs pair with nobody despite the shared shingle
    got = dedup.ngram_jaccard_pairs(df, n=3, threshold=0.01,
                                    max_shingle_df=5).collect()
    assert all({r["a"], r["b"]} == {100, 101} for r in got)


def test_simhash_block_combination_scheme(docs_df):
    # default blocks=6 (C(6,3)=20 tables, ~32-bit keys): exact dups are found
    # at hamming 0 and the candidate keys are wider than the naive 16-bit split
    fps = dedup.simhash_fingerprints(docs_df)
    pairs = {(r["a"], r["b"]): r["hamming"]
             for r in dedup.simhash_near_pairs(fps, max_hamming=3).collect()}
    assert pairs[(0, 1)] == 0
    # guarantee: any pair with hamming <= max_hamming shares >= r intact
    # blocks -> found. Verify against a brute-force hamming computation.
    rows = {r["doc_id"]: r["simhash"] for r in fps.collect()}
    ids = sorted(rows)
    expect = {(a, b) for i, a in enumerate(ids) for b in ids[i + 1:]
              if bin((rows[a] ^ rows[b]) & ((1 << 64) - 1)).count("1") <= 3}
    assert set(pairs) == expect


def test_pair_exact_jaccard_matches_full(spark, docs_df):
    from pyspark.sql import functions as F
    full = {(r["a"], r["b"]): r["jaccard"]
            for r in dedup.ngram_jaccard_pairs(docs_df, n=3, threshold=0.01,
                                               max_shingle_df=None).collect()}
    cand = spark.createDataFrame([(a, b) for a, b in full], ["a", "b"])
    got = {(r["a"], r["b"]): r["jaccard"]
           for r in dedup.pair_exact_jaccard(docs_df, cand, n=3).collect()}
    assert got == pytest.approx(full)


def test_cosine_topk_ivf_full_probe_equals_brute(spark):
    rng = np.random.default_rng(11)
    mat = rng.standard_normal((80, 8))
    df = spark.createDataFrame(
        [(i, mat[i].tolist()) for i in range(80)], ["vec_id", "embedding"])
    qv = mat[5].tolist()
    brute = [(r["vec_id"], round(r["cosine"], 9)) for r in
             similarity.cosine_topk_bruteforce(df, qv, k=7).collect()]
    # probing EVERY list is exhaustive -> identical to brute force
    full = [(r["vec_id"], round(r["cosine"], 9)) for r in
            similarity.cosine_topk_ivf(df, qv, k=7, n_centroids=8,
                                       nprobe=8).collect()]
    assert full == brute
    # narrow probe: a subset of the corpus, exact cosines, self found
    # (the query IS vector 5, its own list is always the nearest probe)
    narrow = similarity.cosine_topk_ivf(df, qv, k=7, n_centroids=8, nprobe=2)
    rows = narrow.collect()
    assert rows[0]["vec_id"] == 5 and rows[0]["cosine"] == pytest.approx(1.0)
    sims = mat @ mat[5] / (np.linalg.norm(mat, axis=1) * np.linalg.norm(mat[5]))
    for r in rows:
        assert r["cosine"] == pytest.approx(float(sims[r["vec_id"]]), rel=1e-9)


def test_ivf_assignment_tie_breaks_to_lowest_centroid(spark):
    """A vector equidistant from two centroids must take the LOWEST centroid
    id (matching the SQL oracle's ORDER BY s DESC, cid)."""
    c0 = [1.0, 0.0, 0.0, 0.0]
    c1 = [0.0, 1.0, 0.0, 0.0]
    mid = [1.0, 1.0, 0.0, 0.0]  # cosine 1/sqrt(2) to both
    df = spark.createDataFrame([(0, c0), (1, c1), (2, mid)],
                               ["vec_id", "embedding"])
    asg = {r["vec_id"]: r["centroid_id"] for r in
           similarity.ivf_assignments(df, np.array([c0, c1])).collect()}
    assert asg[0] == 0 and asg[1] == 1
    assert asg[2] == 0  # tie -> lowest centroid id


def test_connected_components_chain_and_islands(spark):
    """Min-label propagation: a 5-node chain (needs multiple rounds), a
    separate pair, and a triangle all resolve to min-id components."""
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (4, 5),        # chain
         (10, 11),                               # island pair
         (20, 21), (21, 22), (20, 22)],          # triangle
        ["a", "b"])
    comp = {r["doc_id"]: r["component"]
            for r in dedup.connected_components(pairs).collect()}
    assert {k: comp[k] for k in (1, 2, 3, 4, 5)} == {i: 1 for i in (1, 2, 3, 4, 5)}
    assert comp[10] == comp[11] == 10
    assert comp[20] == comp[21] == comp[22] == 20


def test_no_broadcast_hint_on_per_doc_tables(docs_df):
    """Scale regression guard: ngram_jaccard_pairs and dedup_groups must not
    carry broadcast HINTS on their per-doc/per-component size tables (multi-GB
    at 10^9 docs). AQE may still choose a broadcast join when the table truly
    fits — the assertion is on the declared plan, not the runtime strategy."""
    for df in (dedup.ngram_jaccard_pairs(docs_df, threshold=0.1),
               dedup.dedup_groups(docs_df, n=3, threshold=0.6)):
        plan = df._jdf.queryExecution().analyzed().toString()
        assert "ResolvedHint" not in plan, plan[:2000]


def test_connected_components_long_path_olog_rounds(spark):
    """A 200-node path graph must converge in O(log n) large/small-star
    rounds (~8 for n=200) — the one-hop propagation this replaced needed
    O(diameter) = 199 rounds."""
    pairs = spark.createDataFrame([(i, i + 1) for i in range(199)], ["a", "b"])
    comp = {r["doc_id"]: r["component"]
            for r in dedup.connected_components(pairs).collect()}
    assert len(comp) == 200 and set(comp.values()) == {0}
    assert dedup.connected_components.last_rounds <= 10


def test_dedup_groups_end_to_end(docs_df):
    """docs 0/1 exact dups + 2 near-dup -> one component {0,1,2} rep 0."""
    out = {r["doc_id"]: (r["component"], r["group_size"])
           for r in dedup.dedup_groups(docs_df, n=3, threshold=0.6).collect()}
    assert out[0] == (0, 3) and out[1] == (0, 3) and out[2] == (0, 3)
    assert all(v[0] == 0 for v in out.values())  # unrelated docs share no shingles


# ---- Gopher repetition signals + benchmark decontamination (r4) ----

def test_repetition_scores_hand_computed(spark):
    from xltsearch_spark.operators import textstats
    df = spark.createDataFrame(
        [(0, "a b\na b\nc d c d"), (1, "unique line only"), (2, ""), (3, "x")],
        "doc_id long, text string")
    rows = {r["doc_id"]: r for r in
            textstats.repetition_scores(df).orderBy("doc_id").collect()}
    r0 = rows[0]
    assert r0["n_lines"] == 3
    assert abs(r0["dup_line_frac"] - 1 / 3) < 1e-9       # 'a b' repeats
    assert abs(r0["dup_line_char_frac"] - 6 / 13) < 1e-9  # 2x3 of 13 chars
    # tie 'a b' vs 'c d' (both x2) -> lexicographically smallest wins
    assert r0["top_2gram"] == "a b"
    assert abs(r0["top_2gram_char_frac"] - 4 / 15) < 1e-9  # 2 occ x 2 chars
    r1 = rows[1]
    assert r1["n_lines"] == 1 and r1["dup_line_frac"] == 0.0
    assert r1["top_2gram"] == "line only" or r1["top_2gram"] == "unique line"
    assert rows[2]["n_lines"] == 0 and rows[2]["top_2gram"] is None
    assert rows[3]["top_2gram"] is None  # single token: no 2-grams


def test_ngram_contamination_hand_computed(spark):
    from xltsearch_spark.operators.contamination import ngram_contamination
    docs = spark.createDataFrame(
        [(0, "the quick brown fox jumps high"),
         (1, "totally different text here now"),
         (2, "quick brown fox jumps over it and quick brown fox jumps too")],
        "doc_id long, text string")
    bench = spark.createDataFrame(
        [(0, "quick brown fox jumps over lazy dogs")],
        "bid long, text string")
    rows = {r["doc_id"]: r for r in
            ngram_contamination(docs, bench, n=4).collect()}
    # doc0 shares 'quick brown fox jumps' (1 distinct shingle)
    assert (rows[0]["n_hit_shingles"], rows[0]["contaminated"]) == (1, True)
    assert (rows[1]["n_hit_shingles"], rows[1]["contaminated"]) == (0, False)
    # doc2 shares exactly 'quick brown fox jumps' + 'brown fox jumps over';
    # the doc's repeated occurrence counts once (grams are distinct per doc)
    assert rows[2]["contaminated"] and rows[2]["n_hit_shingles"] == 2


def test_contamination_plan_is_jvm_broadcast(spark):
    """Corpus shingles must meet the benchmark via a BroadcastHashJoin with
    no Python eval nodes — the corpus side never shuffles its shingles."""
    from xltsearch_spark.operators.contamination import ngram_contamination
    docs = spark.createDataFrame([(0, "a b c d e")], "doc_id long, text string")
    bench = spark.createDataFrame([(0, "a b c d")], "bid long, text string")
    plan = ngram_contamination(docs, bench, n=4)._jdf.queryExecution() \
        .executedPlan().toString()
    assert "EvalPython" not in plan
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan


def test_kmeans_fit_matches_numpy_lloyd(spark):
    # one Lloyd iteration vs a numpy reference on clustered data
    rng = np.random.default_rng(3)
    centers = rng.standard_normal((4, 8)) * 5
    mat = np.concatenate([centers[i] + rng.standard_normal((20, 8))
                          for i in range(4)])
    df = spark.createDataFrame(
        [(i, mat[i].tolist()) for i in range(len(mat))],
        ["vec_id", "embedding"])
    got = similarity.kmeans_fit(df, n_centroids=4, n_iter=1)

    seed = mat[:4]
    vn = np.linalg.norm(mat, axis=1)
    cn = np.linalg.norm(seed, axis=1)
    asg = np.argmax((mat @ seed.T) / (vn[:, None] * cn[None, :]), axis=1)
    want = np.stack([mat[asg == c].mean(axis=0) if (asg == c).any()
                     else seed[c] for c in range(4)])
    assert np.allclose(got, want, rtol=1e-9)
    # deterministic: a second run is bit-stable at comparison precision
    again = similarity.kmeans_fit(df, n_centroids=4, n_iter=1)
    assert np.allclose(got, again, rtol=0, atol=1e-12)


def test_kmeans_improves_clustering_objective(spark):
    # within-cluster cosine (the spherical k-means objective) must not
    # decrease from seed centroids to trained ones
    rng = np.random.default_rng(9)
    centers = rng.standard_normal((3, 8)) * 4
    mat = np.concatenate([centers[i] + rng.standard_normal((30, 8))
                          for i in range(3)])
    df = spark.createDataFrame(
        [(i, mat[i].tolist()) for i in range(len(mat))],
        ["vec_id", "embedding"])

    def objective(cm):
        vn = np.linalg.norm(mat, axis=1)
        cn = np.linalg.norm(cm, axis=1)
        sims = (mat @ cm.T) / (vn[:, None] * cn[None, :])
        return sims.max(axis=1).mean()

    seed = mat[:3]
    trained = similarity.kmeans_fit(df, n_centroids=3, n_iter=4)
    assert objective(trained) >= objective(seed) - 1e-12


def test_kmeans_empty_cluster_keeps_seed(spark):
    # two far clusters, 3 centroids seeded inside them: at least one seed
    # captures nothing and must survive verbatim
    a = np.tile([10.0, 0, 0, 0], (5, 1)) + 0.01 * np.arange(5)[:, None]
    b = np.tile([0, 10.0, 0, 0], (5, 1)) + 0.01 * np.arange(5)[:, None]
    mat = np.concatenate([a, b])
    df = spark.createDataFrame(
        [(i, mat[i].tolist()) for i in range(len(mat))],
        ["vec_id", "embedding"])
    cm = similarity.kmeans_fit(df, n_centroids=3, n_iter=1)
    # seeds 0-2 all sit in cluster A's direction; every vector assigns to
    # exactly one of them (first-max tie-break), the others keep seeds
    seeds = mat[:3]
    unchanged = [c for c in range(3) if np.allclose(cm[c], seeds[c])]
    assert len(unchanged) >= 1


def test_unigram_lm_hand_computed(spark):
    """vocab top-2 of {a:3, b:1, c:1} with term tie-break -> {a, b};
    Laplace denom = total 5 + alpha*(V+1) 3 = 8; d1's 'c' is OOV."""
    import math
    docs = spark.createDataFrame(
        [(0, "a a b"), (1, "a c"), (2, "!!!")], "doc_id long, text string")
    vocab, oov_logp = textstats.unigram_lm(docs, vocab_size=2, alpha=1.0)
    got = {r["term"]: r["logp"] for r in vocab.collect()}
    assert set(got) == {"a", "b"}
    assert got["a"] == pytest.approx(math.log(4 / 8))
    assert got["b"] == pytest.approx(math.log(2 / 8))
    assert oov_logp == pytest.approx(math.log(1 / 8))

    rows = {r["doc_id"]: r for r in
            textstats.lm_quality_scores(docs, vocab_size=2).collect()}
    assert rows[0]["n_tokens"] == 3 and rows[0]["oov_frac"] == 0.0
    assert rows[0]["avg_nll"] == pytest.approx(
        -(2 * math.log(4 / 8) + math.log(2 / 8)) / 3)
    assert rows[1]["oov_frac"] == pytest.approx(0.5)
    assert rows[1]["avg_nll"] == pytest.approx(
        -(math.log(4 / 8) + math.log(1 / 8)) / 2)
    # zero-token doc present with NULL scores (curation gates on them)
    assert rows[2]["n_tokens"] == 0
    assert rows[2]["oov_frac"] is None and rows[2]["avg_nll"] is None


def test_unigram_lm_reference_corpus_scoring(spark):
    """The CCNet setup: LM fitted on a trusted reference, applied to a
    different corpus — natural text scores lower avg_nll than junk."""
    ref = spark.createDataFrame(
        [(i, "the quick brown fox jumps over the lazy dog") for i in range(8)],
        "doc_id long, text string")
    lm = textstats.unigram_lm(ref, vocab_size=16)
    crawl = spark.createDataFrame(
        [(0, "the quick brown fox"), (1, "zxqj vvkpp qqrr zz")],
        "doc_id long, text string")
    rows = {r["doc_id"]: r for r in
            textstats.lm_quality_scores(crawl, lm=lm).collect()}
    assert rows[0]["avg_nll"] < rows[1]["avg_nll"]
    assert rows[0]["oov_frac"] == 0.0 and rows[1]["oov_frac"] == 1.0


def test_semantic_dedup_matches_brute_force_rule(spark):
    rng = np.random.default_rng(21)
    mat = rng.standard_normal((60, 8))
    # plant near-duplicates: 40 := ~30, 41 := ~30, 50 := ~12
    mat[40] = mat[30] + 0.01 * rng.standard_normal(8)
    mat[41] = mat[30] + 0.01 * rng.standard_normal(8)
    mat[50] = mat[12] + 0.01 * rng.standard_normal(8)
    df = spark.createDataFrame(
        [(i, mat[i].tolist()) for i in range(60)], ["vec_id", "embedding"])
    out = {r["vec_id"]: r for r in
           similarity.semantic_dedup(df, threshold=0.98, n_centroids=4,
                                     n_iter=1).collect()}
    assert len(out) == 60
    # reproduce the rule in numpy against the SAME assignments
    asg = {r["vec_id"]: r["centroid_id"] for r in out.values()}
    unit = mat / np.linalg.norm(mat, axis=1)[:, None]
    for i in range(60):
        mates = [j for j in range(i) if asg[j] == asg[i]
                 and round(float(unit[j] @ unit[i]), 6) >= 0.98]
        if mates:
            assert out[i]["keep"] == 0 and out[i]["dup_of"] == min(mates)
        else:
            assert out[i]["keep"] == 1 and out[i]["dup_of"] is None
    # the planted dups were caught and point at their lowest-id witness
    assert out[40]["keep"] == 0 and out[40]["dup_of"] == 30
    assert out[41]["keep"] == 0 and out[41]["dup_of"] == 30
    assert out[50]["keep"] == 0 and out[50]["dup_of"] == 12


def test_semantic_dedup_chunking_invariant(spark):
    rng = np.random.default_rng(22)
    base = rng.standard_normal((10, 8))
    # every vector is a jittered copy of one of 10 bases -> dense dup sets
    mat = np.vstack([base[i % 10] + 0.005 * rng.standard_normal(8)
                     for i in range(50)])
    df = spark.createDataFrame(
        [(i, mat[i].tolist()) for i in range(50)], ["vec_id", "embedding"])
    big = similarity.semantic_dedup(df, threshold=0.99, n_centroids=4,
                                    n_iter=1, chunk_rows=1024).collect()
    tiny = similarity.semantic_dedup(df, threshold=0.99, n_centroids=4,
                                     n_iter=1, chunk_rows=3).collect()
    key = lambda rows: sorted((r["vec_id"], r["centroid_id"], r["keep"],
                               r["dup_of"]) for r in rows)
    assert key(big) == key(tiny)
    assert sum(1 - r["keep"] for r in big) >= 30  # dense dups were dropped


def test_gopher_quality_rules(spark):
    long_good = ("The quick brown fox jumps over the lazy dog and then "
                 "runs to be with the other foxes that have found food. ") * 5
    bullets = "\n".join(f"- item {i}" for i in range(10))
    symbols = "## " * 60
    df = spark.createDataFrame(
        [(0, long_good), (1, "short text"), (2, bullets), (3, symbols),
         (4, None)],
        ["doc_id", "text"])
    out = {r["doc_id"]: r for r in textstats.gopher_quality(df).collect()}
    g = out[0]
    assert g["words_ok"] == 1 and g["stop_ok"] == 1 and g["alpha_ok"] == 1
    assert g["gopher_pass"] == 1
    assert out[1]["words_ok"] == 0 and out[1]["gopher_pass"] == 0
    # every line is a bullet -> bullet_line_frac 1.0 > 0.9
    assert out[2]["bullet_line_frac"] == pytest.approx(1.0)
    assert out[2]["bullet_ok"] == 0
    # '##' spam -> symbol ratio 2.0 > 0.1
    assert out[3]["symbol_ratio"] == pytest.approx(2.0)
    assert out[3]["symbol_ok"] == 0
    # NULL text gates to '' (fails words_ok, no NULL flags)
    assert out[4]["n_words"] == 0 and out[4]["gopher_pass"] == 0


def test_gopher_ellipsis_and_mean_len(spark):
    ellip = "\n".join("we trailed off..." for _ in range(4))
    longwords = " ".join("supercalifragilistic" for _ in range(60))
    df = spark.createDataFrame(
        [(0, ellip), (1, longwords)], ["doc_id", "text"])
    out = {r["doc_id"]: r for r in textstats.gopher_quality(df).collect()}
    assert out[0]["ellipsis_line_frac"] == pytest.approx(1.0)
    assert out[0]["ellipsis_ok"] == 0
    assert out[1]["mean_word_len"] == pytest.approx(20.0)
    assert out[1]["mean_len_ok"] == 0 and out[1]["stop_ok"] == 0


def test_vocab_stats_counts(spark):
    df = spark.createDataFrame(
        [(0, "alpha beta alpha"), (1, "beta gamma"), (2, "beta")],
        ["doc_id", "text"])
    rows = textstats.vocab_stats(df, top_n=10).collect()
    assert [(r["term"], r["df"], r["tf"]) for r in rows] == [
        ("beta", 3, 3), ("alpha", 1, 2), ("gamma", 1, 1)]
    top1 = textstats.vocab_stats(df, top_n=1).collect()
    assert [(r["term"], r["df"], r["tf"]) for r in top1] == [("beta", 3, 3)]


def test_rrf_fuse_arithmetic(spark):
    from xltsearch_spark.operators import fusion
    a = spark.createDataFrame([(1, 1), (2, 2), (3, 3)], ["doc_id", "rank"])
    b = spark.createDataFrame([(3, 1), (1, 2), (4, 3)], ["doc_id", "rank"])
    out = {r["doc_id"]: r for r in fusion.rrf_fuse([a, b]).collect()}
    assert out[1]["rrf_score"] == pytest.approx(1 / 61 + 1 / 62)
    assert out[3]["rrf_score"] == pytest.approx(1 / 63 + 1 / 61)
    assert out[2]["rrf_score"] == pytest.approx(1 / 62)
    assert out[1]["n_lists"] == 2 and out[2]["n_lists"] == 1
    # doc in both lists outranks a same-best-rank doc in one list
    order = [r["doc_id"] for r in fusion.rrf_fuse([a, b], topk=4).collect()]
    assert order[0] in (1, 3) and set(order) == {1, 2, 3, 4}


def test_topk_ranked_cut_and_ties(spark):
    from xltsearch_spark.operators import fusion
    df = spark.createDataFrame(
        [(10, 2.0), (11, 2.0), (12, 1.0), (13, 3.0)], ["doc_id", "score"])
    got = {r["doc_id"]: r["rank"]
           for r in fusion.topk_ranked(df, "score", "doc_id", 3).collect()}
    # ties break id-ascending; the k-cut drops doc 12
    assert got == {13: 1, 10: 2, 11: 3}


def test_mmr_diversify_greedy_rule(spark):
    from xltsearch_spark.operators import fusion
    rng = np.random.default_rng(33)
    mat = rng.standard_normal((12, 8))
    mat[1] = mat[0] + 0.001 * rng.standard_normal(8)  # redundant with 0
    rel = np.linspace(1.0, 0.5, 12)  # doc 0 most relevant, 1 second
    df = spark.createDataFrame(
        [(0, i, float(rel[i]), mat[i].tolist()) for i in range(12)],
        ["query_id", "doc_id", "rel", "embedding"])
    out = sorted(fusion.mmr_diversify(df, k=4, lambda_=0.7).collect(),
                 key=lambda r: r["mmr_rank"])
    picked = [r["doc_id"] for r in out]
    assert picked[0] == 0                    # pure relevance first
    assert 1 not in picked[:3]               # near-dup of 0 suppressed
    # replay the greedy rule in numpy
    unit = mat / np.linalg.norm(mat, axis=1)[:, None]
    sims = np.round(unit @ unit.T, 6)
    r6 = np.round(rel, 6)
    sel, rem = [], set(range(12))
    for _ in range(4):
        if not sel:
            obj = r6.copy()
        else:
            obj = 0.7 * r6 - (1.0 - 0.7) * sims[:, sel].max(axis=1)
        best = min(rem, key=lambda i: (-obj[i], i))
        sel.append(best)
        rem.remove(best)
    assert picked == sel
    assert all(out[i]["mmr_score"] >= out[i + 1]["mmr_score"] - 1e-9
               for i in range(2))  # ranks 2..4 non-increasing


def test_mmr_diversify_multiquery_and_short_groups(spark):
    from xltsearch_spark.operators import fusion
    rng = np.random.default_rng(34)
    rows = []
    for qid in (0, 1):
        mat = rng.standard_normal((3, 4))
        for i in range(3):
            rows.append((qid, qid * 10 + i, 1.0 - 0.1 * i, mat[i].tolist()))
    df = spark.createDataFrame(rows, ["query_id", "doc_id", "rel", "embedding"])
    out = fusion.mmr_diversify(df, k=5).collect()  # k > group size: all kept
    per_q = {}
    for r in out:
        per_q.setdefault(r["query_id"], []).append(r)
    assert {len(v) for v in per_q.values()} == {3}
    for v in per_q.values():
        assert sorted(r["mmr_rank"] for r in v) == [1, 2, 3]


def test_pq_encode_seeds_get_their_own_code(spark):
    rng = np.random.default_rng(41)
    mat = rng.standard_normal((40, 16))
    df = spark.createDataFrame(
        [(i, mat[i].tolist()) for i in range(40)], ["vec_id", "embedding"])
    cb = similarity.pq_train(df, m=4, k=8, n_iter=0, dim=16)
    assert cb.shape == (4, 8, 4)
    codes = {r["vec_id"]: list(r["codes"])
             for r in similarity.pq_encode(df, cb).collect()}
    # the k seed vectors are exactly reconstructible: code i in EVERY subspace
    for i in range(8):
        assert codes[i] == [i, i, i, i]


def test_pq_topk_recalls_query_vector(spark):
    rng = np.random.default_rng(42)
    mat = rng.standard_normal((100, 16))
    df = spark.createDataFrame(
        [(i, mat[i].tolist()) for i in range(100)], ["vec_id", "embedding"])
    cb = similarity.pq_train(df, m=4, k=16, n_iter=1, dim=16)
    got = similarity.cosine_topk_pq(df, mat[7].tolist(), k=5, codebooks=cb,
                                    adc_candidates=30).collect()
    assert got[0]["vec_id"] == 7 and got[0]["cosine"] == pytest.approx(1.0)
    # rerank is exact cosine, so order within the candidate set matches brute
    brute = [r["vec_id"] for r in similarity.cosine_topk_bruteforce(
        df, mat[7].tolist(), k=5).collect()]
    assert got[0]["vec_id"] == brute[0]


def test_pq_train_one_iteration_matches_numpy(spark):
    rng = np.random.default_rng(43)
    mat = rng.standard_normal((30, 8))
    df = spark.createDataFrame(
        [(i, mat[i].tolist()) for i in range(30)], ["vec_id", "embedding"])
    got = similarity.pq_train(df, m=2, k=4, n_iter=1, dim=8)
    # numpy reference: seeds = first 4 vectors' sub-slices, one L2 Lloyd step
    for j in range(2):
        x = mat[:, j * 4:(j + 1) * 4]
        c = mat[:4, j * 4:(j + 1) * 4].copy()
        d2 = (x ** 2).sum(1)[:, None] - 2.0 * (x @ c.T) + (c ** 2).sum(1)[None, :]
        best = np.argmin(np.round(d2, 6), axis=1)
        exp = c.copy()
        for code in range(4):
            sel = x[best == code]
            if len(sel):
                exp[code] = sel.mean(axis=0)
        assert np.allclose(got[j], exp, atol=1e-9)


def test_ppl_buckets_moment_cutoffs(spark):
    """head/middle/tail assignment reproduces the documented mean ± σ/4
    rule computed sequentially; zero-token docs keep a NULL bucket."""
    import math
    docs = spark.createDataFrame(
        [(0, "a a a a"), (1, "a a a b"), (2, "a b c d"),
         (3, "x y z w"), (4, "")], "doc_id long, text string")
    out = {r["doc_id"]: r for r in
           textstats.ppl_buckets(docs, vocab_size=4).collect()}
    nlls = {k: r["avg_nll"] for k, r in out.items() if r["avg_nll"] is not None}
    n = len(nlls)
    mean = sum(nlls.values()) / n
    var = sum(v * v for v in nlls.values()) / n - mean * mean
    std = math.sqrt(max(var, 0.0))
    for k, v in nlls.items():
        want = ("head" if v <= mean - 0.25 * std
                else "tail" if v > mean + 0.25 * std else "middle")
        assert out[k]["bucket"] == want, k
    assert out[4]["bucket"] is None
    # the all-common-token doc is the head, the all-rare one the tail
    assert out[0]["bucket"] == "head" and out[3]["bucket"] == "tail"


def test_ppl_buckets_empty_corpus(spark):
    docs = spark.createDataFrame([(0, "")], "doc_id long, text string")
    rows = textstats.ppl_buckets(docs, vocab_size=4).collect()
    assert len(rows) == 1 and rows[0]["bucket"] is None


def test_stupid_backoff_matches_hand_lm(spark):
    """Stupid Backoff bigram scores == a sequential recomputation of the
    ref counts and the two-branch formula."""
    import math
    from xltsearch_spark.operators.textstats import stupid_backoff_scores
    rows = [(0, "a b a b c"), (1, "a a b"), (2, "x y"), (3, "a"), (4, "")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    ref = df.filter("doc_id < 2")
    got = {r["doc_id"]: (r["n_bigrams"],
                         None if r["sb_score"] is None
                         else round(r["sb_score"], 9))
           for r in stupid_backoff_scores(df, ref).collect()}
    # hand model: c1 = {a:4, b:3, c:1}, T=8, V=3
    c1 = {"a": 4, "b": 3, "c": 1}
    c2 = {("a", "b"): 3, ("b", "a"): 1, ("b", "c"): 1, ("a", "a"): 1}
    T, V = 8, 3

    def s(w1, w2):
        if (w1, w2) in c2:
            return c2[(w1, w2)] / c1[w1]
        return 0.4 * (c1.get(w2, 0) + 1) / (T + V + 1)

    def doc_score(text):
        toks = text.split()
        pairs = list(zip(toks, toks[1:]))
        if not pairs:
            return 0, None
        return len(pairs), round(
            sum(math.log(s(a, b)) for a, b in pairs) / len(pairs), 9)

    exp = {i: doc_score(t) for i, t in rows}
    assert got == exp
    # every doc present, including empty/one-token ones
    assert got[3] == (0, None) and got[4] == (0, None)


def test_cross_corpus_near_dups_matches_bruteforce(spark):
    """Incremental dedup verdicts == brute-force cross jaccard (the new
    side never pairs against itself, the ref never against itself)."""
    base = "the quick brown fox jumps over the lazy dog again and again"
    rows = [
        (0, base),                                   # new: dup of ref 10
        (1, base + " extra tail words here"),        # new: near ref 10
        (2, "completely different content nothing alike at all yes"),
        (10, base),                                  # ref
        (11, "another unrelated reference document entirely separate"),
        (12, base + " extra tail words here"),       # ref near-dup of new 1
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    new, ref = df.filter("doc_id < 10"), df.filter("doc_id >= 10")
    from xltsearch_spark.operators.dedup import cross_corpus_near_dups
    got = {r["doc_id"]: (r["is_dup"], r["best_ref"], r["best_jaccard"])
           for r in cross_corpus_near_dups(new, ref, threshold=0.5,
                                           shingle_n=3).collect()}

    def shingles(t):
        toks = t.split()
        return {" ".join(toks[i:i + 3]) for i in range(len(toks) - 2)}

    import itertools
    exp = {}
    for nid, ntext in rows[:3]:
        best = None
        for rid, rtext in rows[3:]:
            a, b = shingles(ntext), shingles(rtext)
            j = round(len(a & b) / len(a | b), 6)
            if j >= 0.5 and (best is None or (j, -rid) > (best[1], -best[0])):
                best = (rid, j)
        exp[nid] = (1, best[0], best[1]) if best else (0, None, None)
    assert got == exp
    assert got[0][0] == 1 and got[2][0] == 0  # sanity: dup found, clean kept
    # new docs never flagged against each other: doc 1's best is a REF id
    assert got[1][1] >= 10


def test_canonical_docs_quality_priority(spark):
    """Keep-best selection: the richest (longest) member survives even when
    a lower id exists; exact-dup quality ties fall back to min doc_id."""
    base = ("the quick brown fox jumps over the lazy dog near the river "
            "bank today")
    rows = [
        (10, " ".join(base.split()[:12])),  # truncated variant, lowest id
        (11, base),                          # richest member, larger id
        (12, base),                          # exact dup of 11 (quality tie)
        (20, "completely different content about spark inverted index "
             "engines here now"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = {r["doc_id"]: (r["component"], r["canonical_id"], r["keep"])
           for r in dedup.canonical_docs(df, threshold=0.6).collect()}
    assert set(out) == {10, 11, 12}          # singleton 20 not returned
    assert all(v[0] == 10 for v in out.values())  # component label = min id
    assert all(v[1] == 11 for v in out.values())  # longest wins, tie -> min id
    assert (out[10][2], out[11][2], out[12][2]) == (0, 1, 0)


def test_jaccard_contamination_hand_computed(spark):
    """Exact max-Jaccard decontamination: verbatim copy -> 1.0; partial
    overlap -> hand-computed fraction; disjoint -> 0 with NULL match;
    ties pick the smallest benchmark id."""
    from xltsearch_spark.operators.contamination import jaccard_contamination
    b0 = "what is the capital of france paris is the capital"
    docs = spark.createDataFrame([
        (0, b0),                                        # verbatim benchmark item
        (1, b0 + " according to the atlas of europe"),  # superset: j = 8/14
        (2, "completely unrelated words about spark engines and parquet files"),
    ], ["doc_id", "text"])
    bench = spark.createDataFrame([(100, b0), (101, b0)], ["doc_id", "text"])
    out = {r["doc_id"]: r for r in
           jaccard_contamination(docs, bench, n=3, threshold=0.5).collect()}
    assert out[0]["max_jaccard"] == 1.0 and out[0]["contaminated"]
    assert out[0]["matched_benchmark"] == 100      # tie -> min bench id
    # doc 1: 16 tokens -> 13 DISTINCT 3-grams ('is the capital' repeats);
    # bench has 7 distinct, all shared -> j = 7 / (13 + 7 - 7)
    assert out[1]["max_jaccard"] == pytest.approx(7 / 13)
    assert out[1]["contaminated"]
    assert out[2]["max_jaccard"] == 0.0 and not out[2]["contaminated"]
    assert out[2]["matched_benchmark"] is None
