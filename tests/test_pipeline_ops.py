"""Tests for the training-data pipeline operators: text analysis,
dedup (exact / Jaccard / MinHash / SimHash), similarity search.

Oracles are hand computations or literal Python re-implementations of
the same published algorithms (never Spark re-runs).
"""

from __future__ import annotations

import hashlib

import pytest
from pyspark.sql import functions as F

from pagerankproject_spark.dedup.exact import dedup_exact
from pagerankproject_spark.dedup.jaccard import jaccard_pairs
from pagerankproject_spark.dedup.minhash import (
    HASH_COEFFS,
    minhash_lsh_pairs,
    minhash_signatures,
)
from pagerankproject_spark.dedup.shingles import shingles_expr
from pagerankproject_spark.dedup.simhash import (
    SIMHASH_BITS,
    simhash_fingerprints,
    simhash_pairs,
)
from pagerankproject_spark.similarity.cosine import cosine_similar_pairs, cosine_topk
from pagerankproject_spark.similarity.lsh import ann_lsh_pairs, hyperplane_buckets
from pagerankproject_spark.text.analysis import (
    HASH_PRIME,
    analyze_documents,
    hash60_expr,
)


def py_hash60(s: str) -> int:
    """Literal Python twin of the portable 60-bit md5 hash."""
    return int(hashlib.md5(s.encode()).hexdigest()[:15], 16)


def docs_df(spark, texts: list[str]):
    return spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )


# ---------------------------------------------------------------------------
# text analysis
# ---------------------------------------------------------------------------

def test_text_analysis_counts(spark):
    rows = {
        r["doc_id"]: r
        for r in analyze_documents(
            docs_df(spark, ["the cat, and a dog!", "", "   ", "solo"])
        ).collect()
    }
    assert rows[0]["n_tokens"] == 5
    # word tokens: the cat , and a dog !  -> 7
    assert rows[0]["n_word_tokens"] == 7
    assert rows[0]["n_punct"] == 2
    # stopwords among [the, cat,, and, a, dog!]: the, and, a  (punct glued
    # tokens don't match) -> 3
    assert rows[0]["n_stopwords"] == 3
    assert rows[1]["n_tokens"] == 0 and rows[2]["n_tokens"] == 0
    assert rows[3]["n_tokens"] == 1
    for r in rows.values():
        assert 0.0 <= r["quality"] <= 1.0


def test_lang_id_markers_and_tiebreak(spark):
    rows = {
        r["doc_id"]: r["lang_pred"]
        for r in analyze_documents(
            docs_df(
                spark,
                [
                    "der hund und die katze ist nicht hier",
                    "the cat and the dog is here",
                    "el gato es un animal que corre",
                    "xyzzy qwerty plugh",  # no markers anywhere
                    "le chat est une bete que",  # fr
                ],
            )
        ).collect()
    }
    assert rows[0] == "de"
    assert rows[1] == "en"
    assert rows[2] == "es"
    assert rows[3] == "und"
    assert rows[4] == "fr"


def test_fingerprint_matches_hashlib(spark):
    out = analyze_documents(docs_df(spark, ["  Hello World  "])).collect()[0]
    assert out["fingerprint"] == hashlib.md5(b"hello world").hexdigest()


def test_hash60_portable(spark):
    df = spark.range(1).select(hash60_expr(F.lit("abc")).alias("h"))
    assert df.collect()[0]["h"] == py_hash60("abc")
    assert 0 <= py_hash60("abc") < 2**60


# ---------------------------------------------------------------------------
# dedup
# ---------------------------------------------------------------------------

def test_dedup_exact_survivor_min_id(spark):
    out = {
        r["fingerprint"]: r
        for r in dedup_exact(
            docs_df(spark, ["same text", "other", "Same   Text".lower(), "same text"])
        ).collect()
    }
    fp = hashlib.md5(b"same text").hexdigest()
    assert out[fp]["survivor_id"] == 0
    assert out[fp]["n_dupes"] == 2  # ids 0 and 3 ("Same   Text" differs: spacing)
    assert len(out) == 3


def test_shingles(spark):
    df = docs_df(spark, ["a b c d", "a b", ""]).select(
        "doc_id", shingles_expr(F.col("text"), 3).alias("sh")
    )
    rows = {r["doc_id"]: r["sh"] for r in df.collect()}
    assert rows[0] == ["a b c", "b c d"]
    assert rows[1] == ["a b"]
    assert rows[2] == []


def py_jaccard(t1: str, t2: str, n: int) -> float:
    def sh(t):
        toks = t.lower().split()
        if len(toks) >= n:
            return {" ".join(toks[i : i + n]) for i in range(len(toks) - n + 1)}
        return {" ".join(toks)} if toks else set()

    a, b = sh(t1), sh(t2)
    return len(a & b) / len(a | b)


def test_jaccard_pairs_matches_python_oracle(spark):
    texts = [
        "the quick brown fox jumps over the lazy dog",
        "the quick brown fox jumps over the lazy cat",
        "completely different words entirely here now",
        "the quick brown fox jumps over the lazy dog",  # exact dup of 0
    ]
    out = {
        (r["a"], r["b"]): r["jaccard"]
        for r in jaccard_pairs(docs_df(spark, texts), threshold=0.3, n=3).collect()
    }
    expect = {}
    for i in range(len(texts)):
        for j in range(i + 1, len(texts)):
            jac = py_jaccard(texts[i], texts[j], 3)
            if round(jac, 6) >= 0.3:
                expect[(i, j)] = round(jac, 6)
    assert out == pytest.approx(expect)


def test_minhash_identical_docs_identical_sigs(spark):
    texts = ["alpha beta gamma delta epsilon", "alpha beta gamma delta epsilon",
             "zeta eta theta iota kappa"]
    sigs = {r["doc"]: r for r in minhash_signatures(docs_df(spark, texts), n=2).collect()}
    for k in range(len(HASH_COEFFS)):
        assert sigs[0][f"h{k}"] == sigs[1][f"h{k}"]
    assert any(
        sigs[0][f"h{k}"] != sigs[2][f"h{k}"] for k in range(len(HASH_COEFFS))
    )


def test_minhash_signature_python_oracle(spark):
    text = "one two three four five"
    sig = minhash_signatures(docs_df(spark, [text]), n=2).collect()[0]
    toks = text.split()
    shingles = {" ".join(toks[i : i + 2]) for i in range(len(toks) - 1)}
    xs = [py_hash60(s) % HASH_PRIME for s in shingles]
    for k, (a, b) in enumerate(HASH_COEFFS):
        assert sig[f"h{k}"] == min((a * x + b) % HASH_PRIME for x in xs)


def test_minhash_lsh_finds_exact_dups(spark):
    texts = ["w1 w2 w3 w4 w5 w6", "w1 w2 w3 w4 w5 w6", "u1 u2 u3 u4 u5 u6"]
    pairs = {(r["a"], r["b"]) for r in minhash_lsh_pairs(docs_df(spark, texts), n=2).collect()}
    assert (0, 1) in pairs
    assert (0, 2) not in pairs and (1, 2) not in pairs


def py_simhash(text: str) -> int:
    sums = [0] * SIMHASH_BITS
    for t in text.lower().split():
        x = py_hash60(t)
        for i in range(SIMHASH_BITS):
            sums[i] += 1 if (x >> i) & 1 else -1
    return sum(1 << i for i in range(SIMHASH_BITS) if sums[i] > 0)


def test_simhash_python_oracle(spark):
    texts = ["the quick brown fox", "lorem ipsum dolor sit amet"]
    out = {r["doc"]: r["simhash"] for r in simhash_fingerprints(docs_df(spark, texts)).collect()}
    assert out[0] == py_simhash(texts[0])
    assert out[1] == py_simhash(texts[1])


def test_simhash_pairs_identical_and_near(spark):
    texts = [
        "a b c d e f g h i j",
        "a b c d e f g h i j",  # identical -> hamming 0
        "q r s t u v w x y z",
    ]
    pairs = {(r["a"], r["b"]): r["hamming"] for r in simhash_pairs(docs_df(spark, texts)).collect()}
    assert pairs.get((0, 1)) == 0
    assert (0, 2) not in pairs


# ---------------------------------------------------------------------------
# similarity search
# ---------------------------------------------------------------------------

def emb_df(spark, vecs):
    return spark.createDataFrame(
        [(i, v) for i, v in enumerate(vecs)], "vec_id long, embedding array<double>"
    )


def test_cosine_pairs_hand_computed(spark):
    vecs = [[1.0, 0.0], [0.0, 1.0], [2.0, 0.0], [1.0, 1.0]]
    out = {(r["a"], r["b"]): r["sim"] for r in cosine_similar_pairs(emb_df(spark, vecs), 0.5).collect()}
    assert out[(0, 2)] == 1.0
    assert out[(0, 3)] == pytest.approx(round(2**-0.5, 6))
    assert out[(1, 3)] == pytest.approx(round(2**-0.5, 6))
    assert (0, 1) not in out


def test_cosine_topk_rank_order(spark):
    vecs = [[1.0, 0.0], [0.9, 0.1], [0.0, 1.0]]
    out = cosine_topk(emb_df(spark, vecs), k=2).collect()
    by_q = {}
    for r in out:
        by_q.setdefault(r["query_id"], []).append((r["rank"], r["neighbor_id"]))
    assert sorted(by_q[0]) == [(1, 1), (2, 2)]  # 0 is closest to 1


def test_ann_lsh_subset_of_brute_force(spark):
    import random

    rng = random.Random(7)
    base = [rng.uniform(-1, 1) for _ in range(16)]
    vecs = [base, [x + rng.uniform(-0.01, 0.01) for x in base]]
    vecs += [[rng.uniform(-1, 1) for _ in range(16)] for _ in range(20)]
    df = emb_df(spark, vecs)
    exact = {(r["a"], r["b"]) for r in cosine_similar_pairs(df, 0.9).collect()}
    approx = {(r["a"], r["b"]) for r in ann_lsh_pairs(df, 0.9, dim=16).collect()}
    assert approx <= exact
    assert (0, 1) in approx  # near-identical vectors share every plane side


def test_hyperplane_buckets_deterministic(spark):
    vecs = [[1.0] * 16, [1.0] * 16]
    b = hyperplane_buckets(emb_df(spark, vecs), dim=16).collect()
    assert b[0]["bucket"] == b[1]["bucket"]


def test_near_dup_pairs_recall_and_exact_sims(spark):
    """The default bucket-first near-dup path: subset of brute force,
    exact similarities on every emitted pair, and high recall on
    planted >=0.95-sim near-duplicate twins (multi-table OR-construction)."""
    import random

    from pagerankproject_spark.similarity.lsh import near_dup_pairs

    rng = random.Random(11)
    vecs = []
    planted = []
    for i in range(20):
        base = [rng.uniform(-1, 1) for _ in range(16)]
        twin = [x + rng.uniform(-0.02, 0.02) for x in base]
        planted.append((len(vecs), len(vecs) + 1))
        vecs += [base, twin]
    vecs += [[rng.uniform(-1, 1) for _ in range(16)] for _ in range(30)]
    df = emb_df(spark, vecs)

    exact = {
        (r["a"], r["b"]): r["sim"]
        for r in cosine_similar_pairs(df, 0.95).collect()
    }
    approx = {
        (r["a"], r["b"]): r["sim"]
        for r in near_dup_pairs(df, 0.95, dim=16).collect()
    }
    # candidates are rescored exactly: subset with identical sims
    for pair, sim in approx.items():
        assert pair in exact and sim == exact[pair]
    # recall over the planted twins (all have sim >= ~0.998)
    found = sum(1 for p in planted if p in approx)
    assert found / len(planted) >= 0.8


def test_jaccard_df_cap_bounds_boilerplate_pairs(spark):
    """Hot-shingle skew bound: a boilerplate shingle shared by every doc
    would alone generate C(n,2) candidate pairs; the df-cap excludes it
    from the inverted index, leaving only content-overlap pairs. Capped
    semantics (sizes over the capped universe) match a python oracle."""
    from itertools import combinations

    from pagerankproject_spark.dedup.jaccard import jaccard_pairs

    def py_shingles(text, n):
        toks = text.lower().split()
        if len(toks) >= n:
            return [" ".join(toks[i : i + n]) for i in range(len(toks) - n + 1)]
        return [" ".join(toks)] if toks else []

    boiler = "all rights reserved terms of service apply here"
    texts = [f"unique content {i} alpha beta {boiler}" for i in range(12)]
    texts[5] = texts[4]  # one real duplicate pair
    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )

    uncapped = jaccard_pairs(docs, threshold=0.01, n=3).collect()
    capped = jaccard_pairs(docs, threshold=0.01, n=3, max_shingle_freq=3).collect()
    # boilerplate makes every pair a candidate; the cap kills the blowup
    assert len(uncapped) == 12 * 11 // 2
    assert 0 < len(capped) < len(uncapped)
    assert {(r["a"], r["b"]) for r in capped} >= {(4, 5)}

    # python oracle on the capped shingle universe
    sets = [set(py_shingles(t, 3)) for t in texts]
    from collections import Counter

    df_counts = Counter(s for st in sets for s in st)
    capped_sets = [
        {s for s in st if df_counts[s] <= 3} for st in sets
    ]
    expected = {}
    for a, b in combinations(range(12), 2):
        inter = len(capped_sets[a] & capped_sets[b])
        union = len(capped_sets[a] | capped_sets[b])
        if union and round(inter / union, 6) >= 0.01:
            expected[(a, b)] = round(inter / union, 6)
    got = {(r["a"], r["b"]): r["jaccard"] for r in capped}
    assert got == expected


def test_minhash_verified_pairs_recipe(spark):
    from pagerankproject_spark.dedup.minhash import minhash_verified_pairs

    texts = [
        "the quick brown fox jumps over the lazy dog tonight",
        "the quick brown fox jumps over the lazy dog today",
        "entirely different content with no overlap at all here",
        "the quick brown fox jumps over the lazy dog tonight",  # dup of 0
    ]
    out = {
        (r["a"], r["b"]): r["jaccard"]
        for r in minhash_verified_pairs(docs_df(spark, texts), threshold=0.5, n=3).collect()
    }
    assert out[(0, 3)] == 1.0
    assert (0, 1) in out  # near-dup: all but the last shingle shared
    assert out[(0, 1)] == pytest.approx(round(py_jaccard(texts[0], texts[1], 3), 6))
    assert all(a != 2 and b != 2 for a, b in out)  # verified: no false positives


# ---------------------------------------------------------------------------
# web-corpus pipeline ops (text/pipeline.py)
# ---------------------------------------------------------------------------

def test_normalize_url_and_domain(spark):
    from pagerankproject_spark.text.pipeline import domain_expr, normalize_url_expr

    cases = [
        ("https://www.Example.COM/Path/Item/?utm=x#frag", "example.com/path/item"),
        ("http://ex.com/p1", "ex.com/p1"),
        ("ex.com/p1//", "ex.com/p1"),
        ("HTTPS://sub.ex.com/a?q=1", "sub.ex.com/a"),
        ("ftp://files.ex.com/x", "files.ex.com/x"),
        ("www.only-host.com", "only-host.com"),
    ]
    df = spark.createDataFrame([(u,) for u, _ in cases], "url string")
    out = df.select(
        "url",
        normalize_url_expr(F.col("url")).alias("norm"),
        domain_expr(F.col("url")).alias("dom"),
    ).collect()
    want = dict(cases)
    for r in out:
        assert r["norm"] == want[r["url"]], r
        assert r["dom"] == want[r["url"]].split("/")[0]


def test_repetition_ratio(spark):
    from pagerankproject_spark.text.pipeline import (
        bigram_repetition_expr,
        repetition_ratio_expr,
    )

    df = spark.createDataFrame(
        [("a a a a",), ("a b c d",), ("",), ("a b a b a b",)], "text string"
    )
    out = df.select(
        "text",
        repetition_ratio_expr(F.col("text")).alias("uni"),
        bigram_repetition_expr(F.col("text")).alias("bi"),
    ).collect()
    got = {r["text"]: (r["uni"], r["bi"]) for r in out}
    assert got["a a a a"] == (0.75, pytest.approx(2 / 3, abs=1e-6))
    assert got["a b c d"] == (0.0, 0.0)
    assert got[""] == (0.0, 0.0)
    # bigrams of "a b a b a b": [ab, ba, ab, ba, ab] -> 2 distinct of 5
    assert got["a b a b a b"] == (pytest.approx(1 - 2 / 6, abs=1e-6), 0.6)


def test_pii_counts(spark):
    from pagerankproject_spark.text.pipeline import pii_count_exprs

    df = spark.createDataFrame(
        [
            ("mail me at a.b@x.io or c@y.co.uk thanks",),
            ("server 10.0.0.1 and 192.168.1.255",),
            ("call +1 555 123 4567 now",),
            ("nothing here",),
        ],
        "text string",
    )
    cols = pii_count_exprs(F.col("text"))
    out = df.select("text", *(c.alias(n) for n, c in cols.items())).collect()
    got = {r["text"]: (r["n_emails"], r["n_ipv4s"], r["n_phones"]) for r in out}
    assert got["mail me at a.b@x.io or c@y.co.uk thanks"][0] == 2
    assert got["server 10.0.0.1 and 192.168.1.255"][1] == 2
    assert got["call +1 555 123 4567 now"][2] == 1
    assert got["nothing here"] == (0, 0, 0)


def test_stratified_sample_deterministic_and_rated(spark):
    from pagerankproject_spark.text.pipeline import (
        SAMPLE_RATES_PERMILLE,
        stratified_keep_expr,
    )

    rows = [(i, "en" if i % 2 == 0 else "fr") for i in range(2000)]
    df = spark.createDataFrame(rows, "doc_id long, lang string")
    kept = df.filter(stratified_keep_expr(F.col("doc_id"), F.col("lang")))
    a = sorted(r["doc_id"] for r in kept.collect())
    b = sorted(r["doc_id"] for r in kept.collect())
    assert a == b  # deterministic across runs
    n_en = sum(1 for i in a if i % 2 == 0)
    n_fr = len(a) - n_en
    # 1000 docs per stratum; keep-rates 500/1000 (en) and default 100/1000
    assert abs(n_en - 500 * 1000 // 1000) < 60
    assert abs(n_fr - 100 * 1000 // 1000) < 40
    assert SAMPLE_RATES_PERMILLE["en"] == 500


def test_ngram_topk_deterministic_ties(spark):
    from pagerankproject_spark.text.pipeline import ngram_topk

    df = docs_df(spark, ["x y x y", "x y z w", "z w q r"])
    out = [(r["ngram"], r["cnt"]) for r in ngram_topk(df, n=2, k=3).collect()]
    assert out[0] == ("x y", 3)
    assert out[1] == ("z w", 2)  # ties below broken by ngram asc
    assert out[2][1] <= 2


# ---------------------------------------------------------------------------
# IVF ANN (similarity/ivf.py)
# ---------------------------------------------------------------------------

def _clustered_vecs(n_per=12, dim=16, n_clusters=4, seed=3):
    import random

    rng = random.Random(seed)
    centers = [[rng.uniform(-1, 1) for _ in range(dim)] for _ in range(n_clusters)]
    vecs = []
    for c in centers:
        for _ in range(n_per):
            vecs.append([x + rng.uniform(-0.05, 0.05) for x in c])
    return vecs


def test_ivf_full_probe_equals_brute_force(spark):
    from pagerankproject_spark.similarity.ivf import ivf_topk

    vecs = _clustered_vecs()
    df = emb_df(spark, vecs)
    nlist = 4
    approx = {
        (r["a"], r["rank"]): (r["b"], r["sim"])
        for r in ivf_topk(df, k=3, nlist=nlist, nprobe=nlist, seed=7).collect()
    }
    exact = {
        (r["query_id"], r["rank"]): (r["neighbor_id"], r["sim"])
        for r in cosine_topk(df, k=3).collect()
    }
    assert approx == exact  # probing every cell == exhaustive search


def test_ivf_low_probe_recall_and_determinism(spark):
    from pagerankproject_spark.similarity.ivf import ivf_topk

    vecs = _clustered_vecs()
    df = emb_df(spark, vecs)
    run = lambda: {
        (r["a"], r["rank"]): r["b"]
        for r in ivf_topk(df, k=3, nlist=4, nprobe=1, seed=7).collect()
    }
    got1, got2 = run(), run()
    assert got1 == got2  # seeded k-means + deterministic ties
    exact = {
        (r["query_id"], r["rank"]): r["neighbor_id"]
        for r in cosine_topk(df, k=3).collect()
    }
    hits = sum(1 for key, b in got1.items() if exact.get(key) == b)
    # tight clusters: nearest neighbors live in the query's own cell
    assert hits / len(exact) > 0.9


# ---------------------------------------------------------------------------
# near-dup clustering (dedup/clusters.py)
# ---------------------------------------------------------------------------

def test_dedup_clusters_transitive(spark):
    from pagerankproject_spark.dedup.clusters import dedup_clusters

    # A~B, B~C (A,C never paired) + isolated pair D~E
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11)], "a long, b long"
    )
    out = {
        r["doc_id"]: (r["cluster_id"], r["is_survivor"])
        for r in dedup_clusters(spark, pairs).collect()
    }
    assert out == {
        1: (1, True), 2: (1, False), 3: (1, False),
        10: (10, True), 11: (10, False),
    }


def test_dedup_clusters_end_to_end_with_minhash(spark):
    """Pair generation -> clustering: transitively-linked near-dups end
    in one cluster with the min-id survivor (python union-find oracle)."""
    from pagerankproject_spark.dedup.clusters import dedup_clusters
    from pagerankproject_spark.dedup.minhash import minhash_verified_pairs

    texts = [
        "the quick brown fox jumps over the lazy dog tonight again",  # 0
        "the quick brown fox jumps over the lazy dog tonight too",    # 1 ~0
        "a quick brown fox jumps over the lazy dog tonight too ok",   # 2 ~1
        "completely unrelated text about spark dataframes and joins", # 3
        "the quick brown fox jumps over the lazy dog tonight again",  # 4 ==0
    ]
    docs = docs_df(spark, texts)
    pairs = minhash_verified_pairs(docs, threshold=0.5, n=3)

    # python union-find over the same pairs
    parent = {}
    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x
    collected = [(r["a"], r["b"]) for r in pairs.collect()]
    for a, b in collected:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    want = {x: find(x) for x in parent}

    got = {
        r["doc_id"]: r["cluster_id"]
        for r in dedup_clusters(spark, pairs).collect()
    }
    assert got == want
    assert got[4] == 0 and got[1] == 0  # exact dup + near-dup share cluster 0


def _union_find_roots(pairs) -> dict[int, int]:
    """Each endpoint -> the minimum id of its connected component."""
    parent: dict[int, int] = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {x: find(x) for x in parent}


def test_dedup_clusters_chain_longer_than_the_cap_raises(spark):
    """A near-dup chain settles one link per min-label round: 60 pairs
    need 61 rounds, so a 50-round cap raises instead of returning the
    chain split into wrong clusters; the default cap settles it."""
    from pagerankproject_spark.dedup.clusters import dedup_clusters

    chain = [(i, i + 1) for i in range(60)]
    pairs = spark.createDataFrame(chain, "a long, b long")
    with pytest.raises(RuntimeError, match="dedup_clusters.*max_iterations=50"):
        dedup_clusters(spark, pairs, max_iterations=50)
    got = {
        r["doc_id"]: r["cluster_id"]
        for r in dedup_clusters(spark, pairs).collect()
    }
    assert got == _union_find_roots(chain)


# ---------------------------------------------------------------------------
# decontamination + sequence packing (training-data prep additions)
# ---------------------------------------------------------------------------


def test_decontaminate_overlap_hand_fixture(spark):
    from pagerankproject_spark.text.decontaminate import decontaminate_overlap

    train = docs_df(
        spark,
        [
            "alpha beta gamma delta epsilon zeta",        # 0: 3 shared 4-grams w/ eval0
            "nothing in common with the benchmark rows",  # 1: clean
            "alpha beta gamma delta unrelated tail here", # 2: 1 shared 4-gram
        ],
    )
    evals = docs_df(
        spark,
        [
            "alpha beta gamma delta epsilon zeta",  # eval 0
            "delta epsilon zeta eta theta",         # eval 1: shares w/ train0 too? no 4-gram
        ],
    )
    out = {
        r["doc_id"]: (r["overlap_ngrams"], r["eval_docs_hit"])
        for r in decontaminate_overlap(train, evals, n=4).collect()
    }
    # train0 == eval0: all 3 of its 4-grams shared; 'delta epsilon zeta' is
    # only a 3-gram so eval1 contributes nothing at n=4
    assert out == {0: (3, 1), 2: (1, 1)}


def test_decontaminate_broadcast_plan(spark):
    """The eval side must broadcast: the training-corpus scan never
    shuffles for the probe (the 100 TB shape)."""
    from pagerankproject_spark.text.decontaminate import decontaminate_overlap

    train = docs_df(spark, ["a b c d e", "f g h i j"])
    evals = docs_df(spark, ["a b c d x"])
    plan = decontaminate_overlap(train, evals, n=4)._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan, plan


def test_pack_offsets_matches_serial_cumsum(spark):
    from pagerankproject_spark.text.packing import pack_offsets

    texts = ["one two three", "", "four five", "six", "seven eight nine ten", "x " * 600]
    docs = docs_df(spark, texts)
    got = {
        r["doc_id"]: (r["n_tokens"], r["token_offset"], r["first_chunk"], r["last_chunk"])
        for r in pack_offsets(docs, context_len=4, num_partitions=3).collect()
    }
    counts = [len(t.split()) for t in texts]
    off, want = 0, {}
    for i, c in enumerate(counts):
        want[i] = (c, off, off // 4, (off + max(c, 1) - 1) // 4)
        off += c
    assert got == want
    # a long doc spans many chunks
    assert got[5][3] - got[5][2] >= 100


def test_pack_offsets_partition_invariance(spark):
    from pagerankproject_spark.text.packing import pack_offsets

    texts = [f"w{i} " * (i % 17 + 1) for i in range(200)]
    docs = docs_df(spark, texts)
    a = sorted(map(tuple, pack_offsets(docs, context_len=64, num_partitions=2).collect()))
    b = sorted(map(tuple, pack_offsets(docs, context_len=64, num_partitions=13).collect()))
    assert a == b


def test_tfidf_topterms_hand_oracle(spark):
    import math

    from pagerankproject_spark.text.tfidf import tfidf_topterms

    texts = [
        "apple apple banana cherry",
        "banana banana banana date",
        "apple cherry cherry cherry date",
    ]
    docs = docs_df(spark, texts)
    got = {
        (r["doc_id"], r["pos"]): (r["term"], r["tf"], r["score"])
        for r in tfidf_topterms(docs, k=2).collect()
    }

    # python oracle
    tf: dict[tuple[int, str], int] = {}
    for i, t in enumerate(texts):
        for w in t.lower().split():
            tf[(i, w)] = tf.get((i, w), 0) + 1
    df: dict[str, int] = {}
    for (_, w) in tf:
        df[w] = df.get(w, 0) + 1
    n = len(texts)
    want = {}
    for i in range(n):
        scored = sorted(
            (
                (-round(c * (math.log((n + 1) / (df[w] + 1)) + 1), 6), w, c)
                for (d, w), c in tf.items()
                if d == i
            )
        )
        for pos, (neg, w, c) in enumerate(scored[:2], start=1):
            want[(i, pos)] = (w, c, -neg)
    assert got == want


def test_embedding_centroids_exact_means(spark):
    from pagerankproject_spark.similarity.centroids import (
        embedding_centroids,
        embedding_centroids_long,
    )

    rows = [
        (0, [1.0, 2.0, 3.0], "a"),
        (1, [3.0, 0.0, 3.0], "a"),
        (2, [10.0, 10.0, 10.0], "b"),
    ]
    vecs = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label string"
    )
    got = {
        r["label"]: (r["n_vectors"], r["centroid"])
        for r in embedding_centroids(vecs).collect()
    }
    assert got == {"a": (2, [2.0, 1.0, 3.0]), "b": (1, [10.0, 10.0, 10.0])}

    long = {
        (r["label"], r["pos"]): (r["m"], r["c"])
        for r in embedding_centroids_long(vecs).collect()
    }
    assert long[("a", 0)] == (2.0, 2) and long[("a", 1)] == (1.0, 2)
    assert long[("b", 2)] == (10.0, 1)


def test_doc_chunks_sliding_windows(spark):
    from pagerankproject_spark.text.packing import doc_chunks

    texts = ["w " * 10, "", "x " * 3, "y " * 25]
    docs = docs_df(spark, texts)
    got = sorted(
        (r["doc_id"], r["chunk_id"], r["start_token"], r["chunk_tokens"])
        for r in doc_chunks(docs, chunk_len=8, stride=6).collect()
    )
    want = []
    for i, t in enumerate(texts):
        n = len(t.split())
        j = 0
        while j * 6 < n:
            want.append((i, j, j * 6, min(8, n - j * 6)))
            j += 1
    assert got == sorted(want)
    # doc 3 (25 tokens): chunks at 0,6,12,18,24 — last is a 1-token tail
    assert (3, 4, 24, 1) in got
    # empty doc emits nothing
    assert not any(d == 1 for d, *_ in got)


def test_approx_corpus_stats_within_tolerance_of_exact(spark):
    """The sketch path (HLL++ distinct, GK quantiles) must land within
    its documented error of the exact twins — the production gate for
    switching a 100 TB pipeline from exact to sketch aggregates."""
    from pagerankproject_spark.text.approx import approx_corpus_stats

    docs = spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
    got = {
        r["lang"]: r for r in approx_corpus_stats(docs, rsd=0.02).collect()
    }
    exact = {
        r["lang"]: r
        for r in docs.groupBy("lang")
        .agg(
            F.count_distinct(F.md5(F.lower(F.trim(F.col("text"))))).alias("d"),
            F.expr("percentile(n_chars, 0.5)").alias("p50"),
        )
        .collect()
    }
    assert set(got) == set(exact)
    for lang, r in got.items():
        e = exact[lang]
        # HLL++ rsd=0.02: allow 5 sigma
        assert abs(r["approx_distinct_docs"] - e["d"]) <= max(3, 0.10 * e["d"]), (
            lang, r["approx_distinct_docs"], e["d"],
        )
        # GK sketch at accuracy 10k on ~100-row groups is near-exact
        assert abs(r["p50"] - e["p50"]) <= 0.05 * e["p50"] + 1, (lang, r, e)


def test_host_graph_contraction(spark):
    from pagerankproject_spark.text.pipeline import host_graph

    edges = spark.createDataFrame(
        [
            ("http://a.com/1", "http://b.com/x"),
            ("a.com/2", "b.com/y"),            # same host pair, no scheme
            ("a.com/3", "a.com/4"),            # intra-host: dropped
            ("b.com/z", "c.com/w"),
        ],
        "src string, dst string",
    )
    got = {
        (r["src_host"], r["dst_host"]): r["n_links"]
        for r in host_graph(edges).collect()
    }
    assert got == {("a.com", "b.com"): 2, ("b.com", "c.com"): 1}


def test_duplicate_span_stats_hand_oracle(spark):
    """Planted k=3 spans: doc0 and doc1 share 'a b c' (cross-doc dup);
    doc2 repeats 'x y z' twice internally (within-doc dup); doc3 is all
    unique; doc4 is shorter than k (zero windows)."""
    from pagerankproject_spark.text.spans import duplicate_span_stats

    docs = docs_df(
        spark,
        [
            "a b c d e",          # windows: abc bcd cde -> abc dup
            "q a b c r",          # windows: qab abc bcr -> abc dup
            "x y z w x y z",      # windows: xyz yzw zwx wxy xyz -> xyz*2 dup
            "m n o p",            # all unique
            "t u",                # < k tokens
        ],
    )
    got = {
        r["doc_id"]: (r["n_windows"], r["n_dup_windows"], r["dup_fraction"])
        for r in duplicate_span_stats(docs, k=3).collect()
    }
    assert got == {
        0: (3, 1, round(1 / 3, 6)),
        1: (3, 1, round(1 / 3, 6)),
        2: (5, 2, 0.4),
        3: (2, 0, 0.0),
        4: (0, 0, 0.0),
    }


def test_duplicate_span_stats_matches_duckdb_twin(spark):
    """Engine vs sql_duplicate_span_stats on real sf0.001 documents —
    the same comparison check_contract runs, asserted in-suite."""
    import duckdb

    from pagerankproject_spark.text.spans import (
        duplicate_span_stats,
        sql_duplicate_span_stats,
    )

    sf = "/root/testdata/sf0.001"
    docs = spark.read.parquet(f"{sf}/documents.parquet")
    got = {
        r["doc_id"]: (r["n_windows"], r["n_dup_windows"], r["dup_fraction"])
        for r in duplicate_span_stats(docs, k=8).collect()
    }
    con = duckdb.connect()
    con.execute(
        f"create view documents as select * from read_parquet('{sf}/documents.parquet')"
    )
    want = {
        d: (w, n, f)
        for d, w, n, f in con.execute(
            "with " + sql_duplicate_span_stats(k=8)
        ).fetchall()
    }
    assert got == want
    assert any(n > 0 for _, n, _ in got.values())  # signal is non-trivial


# ---------------------------------------------------------------------------
# containment_pairs (dedup/jaccard.py) — asymmetric near-dup
# ---------------------------------------------------------------------------


def test_containment_pairs_matches_python_oracle(spark):
    from pagerankproject_spark.dedup.jaccard import containment_pairs

    texts = [
        "the quick brown fox jumps over the lazy dog",
        # doc 0 embedded verbatim in a much longer doc:
        "intro words here the quick brown fox jumps over the lazy dog "
        "and then many more trailing words follow in this long document",
        "completely different words entirely here now",
        "the quick brown fox jumps over the lazy dog",  # exact dup of 0
    ]

    def sh(t, n):
        toks = t.lower().split()
        if len(toks) >= n:
            return {" ".join(toks[i : i + n]) for i in range(len(toks) - n + 1)}
        return {" ".join(toks)} if toks else set()

    out = {
        (r["a"], r["b"]): r["containment"]
        for r in containment_pairs(
            docs_df(spark, texts), threshold=0.3, n=3
        ).collect()
    }
    expect = {}
    for i in range(len(texts)):
        for j in range(len(texts)):
            if i == j:
                continue
            a, b = sh(texts[i], 3), sh(texts[j], 3)
            if not a or not (a & b):
                continue
            c = round(len(a & b) / len(a), 6)
            if c >= 0.3:
                expect[(i, j)] = c
    assert out == pytest.approx(expect)
    # the asymmetry this operator exists for: 0 fully inside 1,
    # while 1 is mostly NOT contained in 0
    assert out[(0, 1)] == 1.0
    assert out[(1, 0)] < 0.5


def test_paragraph_dedup_matches_python_replay(spark):
    """Hand corpus: shared paragraphs across docs, within-doc repeats,
    empty segments (consume positions but emit nothing), case/space
    normalization folding."""
    from pagerankproject_spark.text.paragraphs import (
        paragraph_dedup,
        paragraph_dedup_stats,
    )

    rows = [
        (1, "hello world\nfooter text\nunique one"),
        (2, "FOOTER TEXT  \nhello world\nsecond only"),
        (3, "footer text\n\nfooter text"),   # empty middle + self-repeat
        (4, "   \n\n"),                      # only empties: no rows at all
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")

    def fp(p):
        return hashlib.md5(p.strip().lower().encode()).hexdigest()

    occ = []
    for doc_id, text in rows:
        for pos, para in enumerate(text.split("\n")):
            if para.strip():
                occ.append((doc_id, pos, fp(para)))
    by_fp = {}
    for doc_id, pos, f in occ:
        by_fp.setdefault(f, []).append((doc_id, pos))
    expect = {
        (d, p): (f, len(by_fp[f]), (d, p) == min(by_fp[f]))
        for d, p, f in occ
    }
    got = {
        (r["doc_id"], r["pos"]): (r["fp"], r["n_occurrences"], r["keep"])
        for r in paragraph_dedup(df).collect()
    }
    assert got == expect
    assert not any(k[0] == 4 for k in got)  # all-empty doc emits nothing
    # "footer text" appears 4x, survivor is (1, 1)
    assert got[(1, 1)] == (fp("footer text"), 4, True)
    assert got[(2, 0)][2] is False and got[(3, 0)][2] is False

    stats = {
        r["doc_id"]: (r["n_paragraphs"], r["n_kept"], r["kept_ratio"])
        for r in paragraph_dedup_stats(df).collect()
    }
    assert stats == {1: (3, 3, 1.0), 2: (3, 1, 1 / 3), 3: (2, 0, 0.0)}


def test_boilerplate_lines_doc_freq_within_group(spark):
    from pagerankproject_spark.text.paragraphs import boilerplate_lines

    rows = [
        (1, "s1", "nav bar\ncontent a\nnav bar"),   # repeat within ONE doc: df 1
        (2, "s1", "nav bar\ncontent b"),
        (3, "s1", "nav bar\ncontent c"),
        (4, "s2", "nav bar\nother"),                # same line, other group
    ]
    df = spark.createDataFrame(rows, "doc_id long, source string, text string")
    got = {
        (r["group"], r["fp"]): r["doc_freq"]
        for r in boilerplate_lines(df, "source", min_doc_freq=3).collect()
    }
    nav = hashlib.md5(b"nav bar").hexdigest()
    # 3 distinct s1 docs contain it (doc 1's repeat counts once); s2 has 1 < 3
    assert got == {("s1", nav): 3}


def test_paragraph_dedup_matches_duckdb_twin(spark):
    """Engine vs sql twins on real sf0.001 documents with the derived
    multi-line text (the same comparison check_contract runs)."""
    import duckdb

    from pagerankproject_spark.text.paragraphs import (
        boilerplate_lines,
        paragraph_dedup_stats,
        sql_boilerplate_lines,
        sql_paragraph_dedup_stats,
    )

    sf = "/root/testdata/sf0.001"
    docs = spark.read.parquet(f"{sf}/documents.parquet")
    lined = F.replace(
        F.replace(
            F.replace(F.col("text"), F.lit("batch"), F.lit("\n")),
            F.lit("scan"), F.lit("\n"),
        ),
        F.lit("join"), F.lit("\n"),
    )
    got = {
        r["doc_id"]: (r["n_paragraphs"], r["n_kept"], r["kept_ratio"])
        for r in paragraph_dedup_stats(docs, text=lined).collect()
    }
    con = duckdb.connect()
    con.execute(
        f"create view documents as select * from read_parquet('{sf}/documents.parquet')"
    )
    _lined_sql = (
        "replace(replace(replace(text, 'batch', chr(10)), 'scan', chr(10)),"
        " 'join', chr(10))"
    )
    sql = sql_paragraph_dedup_stats("documents", "doc_id", _lined_sql)
    want = {r[0]: (r[1], r[2], r[3]) for r in con.execute(sql).fetchall()}
    assert got == want and len(got) > 0

    got_b = {
        (r["group"], r["fp"]): r["doc_freq"]
        for r in boilerplate_lines(
            docs, "source", min_doc_freq=3, text=lined
        ).collect()
    }
    sql_b = sql_boilerplate_lines("documents", "source", 3, "doc_id", _lined_sql)
    want_b = {(r[0], r[1]): r[2] for r in con.execute(sql_b).fetchall()}
    assert got_b == want_b and len(got_b) > 0


def test_vocab_coverage_matches_python_replay(spark):
    from collections import Counter

    from pagerankproject_spark.text.pipeline import vocab_coverage

    rows = [(1, "a b a c"), (2, "a b  b"), (3, "  "), (4, "c a d")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    c = Counter()
    for _, t in rows:
        c.update(t.split())
    total = sum(c.values())
    ordered = sorted(c.items(), key=lambda kv: (-kv[1], kv[0]))[:3]
    cum = 0
    expect = []
    for i, (tok, cnt) in enumerate(ordered, 1):
        cum += cnt
        expect.append((i, tok, cnt, cum, cum / total))
    got = [
        (r["rank"], r["token"], r["cnt"], r["cum_cnt"], r["coverage"])
        for r in vocab_coverage(df, k=3).orderBy("rank").collect()
    ]
    assert got == expect
    assert got[-1][4] < 1.0  # k=3 doesn't cover everything here

    import pytest as _pytest

    empty = spark.createDataFrame([(1, "  ")], "doc_id long, text string")
    with _pytest.raises(ValueError, match="no tokens"):
        vocab_coverage(empty)


def test_winnow_fingerprints_matches_python_replay(spark):
    from pagerankproject_spark.text.spans import winnow_fingerprints

    k, w = 2, 3
    rows = [
        (1, "a b a b a b c d"),   # repeated grams force hash ties
        (2, "a b"),               # exactly one gram: one all-gram window
        (3, "a"),                 # shorter than k: nothing
        (4, "x y z x y z x y"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")

    def h(gram: str) -> int:
        return int(hashlib.md5(gram.encode()).hexdigest()[:15], 16)

    expect = set()
    for doc_id, text in rows:
        toks = text.split()
        grams = [
            (i, h(" ".join(toks[i : i + k])))
            for i in range(len(toks) - k + 1)
        ]
        m = len(grams)
        if m == 0:
            continue
        n_wins = max(m - w, 0) + 1
        for s in range(n_wins):
            window = grams[s : s + w]
            mn = min(fp for _, fp in window)
            pos = max(i for i, fp in window if fp == mn)  # rightmost min
            expect.add((doc_id, pos, mn))
    got = {
        (r["doc_id"], r["pos"], r["fp"])
        for r in winnow_fingerprints(df, k=k, w=w).collect()
    }
    assert got == expect
    assert not any(d == 3 for d, _, _ in got)
    assert sum(1 for d, _, _ in got if d == 2) == 1
    # winnowing guarantee: consecutive selected positions within a doc
    # are at most w apart
    for doc_id in (1, 4):
        ps = sorted(p for d, p, _ in got if d == doc_id)
        assert all(b - a <= w for a, b in zip(ps, ps[1:]))


def test_winnow_fingerprints_matches_duckdb_twin(spark):
    import duckdb

    from pagerankproject_spark.text.spans import (
        sql_winnow_fingerprints,
        winnow_fingerprints,
    )

    sf = "/root/testdata/sf0.001"
    docs = spark.read.parquet(f"{sf}/documents.parquet")
    got = {
        (r["doc_id"], r["pos"], r["fp"])
        for r in winnow_fingerprints(docs, k=4, w=4).collect()
    }
    con = duckdb.connect()
    con.execute(
        f"create view documents as select * from read_parquet('{sf}/documents.parquet')"
    )
    want = {tuple(r) for r in con.execute(sql_winnow_fingerprints()).fetchall()}
    assert got == want and len(got) > 0


def test_unigram_logloss_matches_python_replay(spark):
    import math
    from collections import Counter

    from pagerankproject_spark.text.pipeline import unigram_logloss

    rows = [(1, "a a b"), (2, "b c"), (3, "   "), (4, "a")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    c = Counter()
    for _, t in rows:
        c.update(t.split())
    total = sum(c.values())
    expect = {}
    for doc_id, t in rows:
        toks = t.split()
        if not toks:
            continue
        nll = sum(-math.log(c[tok] / total) for tok in toks) / len(toks)
        expect[doc_id] = (len(toks), round(nll, 6))
    got = {
        r["doc_id"]: (r["n_tokens"], r["logloss"])
        for r in unigram_logloss(df).collect()
    }
    assert got == pytest.approx(expect)
    assert 3 not in got  # blank doc omitted
    # the most typical doc (all high-frequency tokens) scores lowest
    assert got[4][1] <= got[2][1]


# ---------------------------------------------------------------------------
# Product quantization (similarity/pq.py)
# ---------------------------------------------------------------------------

def _np_pq(qvs, books):
    """Numpy replay of encode + ADC over already-quantized vectors."""
    import numpy as np

    qvs = {i: np.asarray(v) for i, v in qvs.items()}
    m_sub, dsub = len(books), len(books[0][0])
    codes, qerrs, recon = {}, {}, {}
    for i, v in qvs.items():
        code, err, rec = [], 0, []
        for sp in range(m_sub):
            sub = v[sp * dsub:(sp + 1) * dsub]
            d = [float(((sub - np.asarray(c)) ** 2).sum()) for c in books[sp]]
            cid = min(range(len(d)), key=lambda j: (d[j], j))
            code.append(cid)
            err += d[cid]
            rec.extend(books[sp][cid])
        codes[i], qerrs[i], recon[i] = code, int(err), np.asarray(rec)
    return codes, qerrs, recon


def test_pq_encode_rule_codebooks_exact(spark):
    from pagerankproject_spark.similarity.pq import pq_encode, rule_codebooks

    vecs = _clustered_vecs(n_per=10, dim=16, n_clusters=4, seed=5)
    df = emb_df(spark, vecs)
    books = rule_codebooks(df, m_sub=4, ksub=8)
    enc = pq_encode(df, books)
    rows = {r["id"]: r for r in enc.collect()}
    qvs = {i: list(r["qv"]) for i, r in rows.items()}
    codes, qerrs, _ = _np_pq(qvs, books)
    assert {i: list(r["code"]) for i, r in rows.items()} == codes
    assert {i: r["qerr"] for i, r in rows.items()} == qerrs
    # the ksub anchor vectors ARE codebook entries: zero error, own id
    for i in range(8):
        assert rows[i]["qerr"] == 0
        assert list(rows[i]["code"]) == [i] * 4


def test_pq_adc_full_codebook_equals_quantized_l2(spark):
    """With rule codebooks covering EVERY vector's subvectors, the
    reconstruction is exact, so ADC top-k == brute quantized-L2
    top-k."""
    import numpy as np

    from pagerankproject_spark.similarity.pq import (
        adc_topk, pq_encode, rule_codebooks,
    )

    vecs = _clustered_vecs(n_per=3, dim=16, n_clusters=4, seed=7)  # n=12
    df = emb_df(spark, vecs)
    books = rule_codebooks(df, m_sub=4, ksub=12)
    qvs = {
        r["id"]: np.asarray(list(r["qv"]))
        for r in pq_encode(df, books).collect()
    }
    want = {}
    for a, va in qvs.items():
        d = sorted(
            (int(((va - vb) ** 2).sum()), b)
            for b, vb in qvs.items() if b != a
        )
        for rank, (dist, b) in enumerate(d[:3], start=1):
            want[(a, rank)] = (b, dist)
    got = {
        (r["a"], r["rank"]): (r["b"], r["adc_dist"])
        for r in adc_topk(df, books, k=3).collect()
    }
    assert got == want


def test_pq_trained_codebooks_recall_and_determinism(spark):
    from pagerankproject_spark.similarity.pq import adc_topk, train_codebooks

    vecs = _clustered_vecs(n_per=12, dim=16, n_clusters=4, seed=3)
    df = emb_df(spark, vecs)
    books = train_codebooks(df, m_sub=4, ksub=8, seed=11)
    run = lambda: {
        (r["a"], r["rank"]): r["b"]
        for r in adc_topk(df, books, k=3).collect()
    }
    got1, got2 = run(), run()
    assert got1 == got2  # seeded k-means + deterministic ties
    # within a tight cluster every vector shares a code, so ADC cannot
    # rank cluster-mates (distances tie); the meaningful recall is
    # cluster-level: neighbors come from the query's own cluster
    # (_clustered_vecs lays ids out in blocks of n_per=12)
    cluster = lambda i: i // 12
    hits = sum(1 for (a, _), b in got1.items() if cluster(a) == cluster(b))
    assert hits / len(got1) > 0.9


def test_ivfpq_full_probe_full_codebook_equals_brute(spark):
    import numpy as np

    from pagerankproject_spark.similarity.pq import (
        ivfpq_topk, pq_encode, rule_codebooks,
    )

    vecs = _clustered_vecs(n_per=4, dim=16, n_clusters=4, seed=9)  # n=16
    df = emb_df(spark, vecs)
    books = rule_codebooks(df, m_sub=4, ksub=16)
    qvs = {
        r["id"]: np.asarray(list(r["qv"]))
        for r in pq_encode(df, books).collect()
    }
    want = {}
    for a, va in qvs.items():
        d = sorted(
            (int(((va - vb) ** 2).sum()), b)
            for b, vb in qvs.items() if b != a
        )
        for rank, (dist, b) in enumerate(d[:3], start=1):
            want[(a, rank)] = (b, dist)
    got = {
        (r["a"], r["rank"]): (r["b"], r["adc_dist"])
        for r in ivfpq_topk(
            df, k=3, nlist=4, nprobe=4, codebooks=books, seed=13
        ).collect()
    }
    assert got == want


def test_bigram_logloss_matches_replay_and_orders_salad(spark):
    import math
    from collections import Counter

    from pagerankproject_spark.text.pipeline import bigram_logloss

    rows = [
        (1, "the cat sat on the mat"),
        (2, "the cat sat on the mat again"),
        (3, "mat the on sat cat the"),  # shuffled: same unigrams
        (4, "one"),                      # <2 tokens: omitted
        (5, ""),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    bcnt, ctx = Counter(), Counter()
    for _, t in rows:
        toks = t.split()
        for a, b in zip(toks, toks[1:]):
            bcnt[(a, b)] += 1
            ctx[a] += 1
    expect = {}
    for doc_id, t in rows:
        toks = t.split()
        bgs = list(zip(toks, toks[1:]))
        if not bgs:
            continue
        nll = sum(-math.log(bcnt[g] / ctx[g[0]]) for g in bgs) / len(bgs)
        expect[doc_id] = (len(bgs), round(nll, 6))
    got = {
        r["doc_id"]: (r["n_bigrams"], r["logloss"])
        for r in bigram_logloss(df).collect()
    }
    assert got == pytest.approx(expect)
    assert 4 not in got and 5 not in got
    # the shuffled doc keeps its unigram profile but its bigram loss
    # is strictly worse than the fluent docs'
    assert got[3][1] > got[1][1] and got[3][1] > got[2][1]


# ---------------------------------------------------------------------------
# BM25 ranked retrieval (text/bm25.py)
# ---------------------------------------------------------------------------

def _py_bm25(rows, terms, k1=1.2, b=0.75):
    """Literal python replay of the Robertson-Zaragoza 2009 formula."""
    import math

    toks = {d: t.lower().split() for d, t in rows}
    toks = {d: t for d, t in toks.items()}
    dl = {d: len(t) for d, t in toks.items() if t}
    n, sumdl = len(dl), sum(dl.values())
    out = {}
    for d, t in toks.items():
        if not t:
            continue
        score, matched = 0.0, 0
        for q in terms:
            tf = t.count(q)
            if tf == 0:
                continue
            matched += 1
            df = sum(1 for tt in toks.values() if q in tt)
            idf = math.log((n - df + 0.5) / (df + 0.5) + 1.0)
            score += idf * (tf * (k1 + 1.0)) / (
                tf + k1 * (1.0 - b + b * (dl[d] * n / sumdl))
            )
        if matched:
            out[d] = (matched, round(score, 6))
    return out


def test_bm25_matches_python_replay(spark):
    from pagerankproject_spark.text.bm25 import bm25_scores

    rows = [
        (1, "spark shuffle spark JOIN"),      # tf(spark)=2, case-folded join
        (2, "join join join filter"),          # high tf, longer doc
        (3, "window sort merge"),              # no query term
        (4, "spark"),                          # shortest doc
        (5, "   "),                            # blank: no tokens at all
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    terms = ["spark", "join"]
    got = {
        r["doc_id"]: (r["matched"], r["score"])
        for r in bm25_scores(df, terms).collect()
    }
    expect = _py_bm25(rows, terms)
    assert set(got) == set(expect) == {1, 2, 4}
    for d in got:
        assert got[d][0] == expect[d][0]
        assert got[d][1] == pytest.approx(expect[d][1], abs=2e-6)
    # rarer term (spark: df=2) outscores the commoner at equal tf; the
    # short doc with one hit of the rare term beats the long tf-3 doc
    # of the common term only if idf dominates -- just assert ordering
    # agrees with the replay end-to-end
    assert sorted(got, key=lambda d: got[d][1]) == sorted(
        expect, key=lambda d: expect[d][1]
    )

    # top_k is a (score desc, doc_id asc) total order
    top = bm25_scores(df, terms, top_k=2).collect()
    want_order = sorted(expect.items(), key=lambda kv: (-kv[1][1], kv[0]))[:2]
    assert [r["doc_id"] for r in top] == [d for d, _ in want_order]

    # validation fail-fast
    for bad in ([], ["dup", "dup"], ["Upper"], ["two words"]):
        with pytest.raises(ValueError):
            bm25_scores(df, bad)


def test_bm25_sql_twin_matches_engine(spark):
    import duckdb

    from pagerankproject_spark.text.bm25 import bm25_scores, sql_bm25

    sf = "/root/testdata/sf0.001"
    docs = spark.read.parquet(f"{sf}/documents.parquet")
    terms = ["spark", "window", "merge"]
    got = {
        (r["doc_id"], r["matched"], r["score"])
        for r in bm25_scores(docs, terms).collect()
    }
    con = duckdb.connect()
    con.execute(
        f"create view documents as select * from read_parquet('{sf}/documents.parquet')"
    )
    want = {tuple(r) for r in con.execute(sql_bm25("documents", terms)).fetchall()}
    assert got == want and len(got) > 0


# ---------------------------------------------------------------------------
# Dirichlet query likelihood (text/bm25.py)
# ---------------------------------------------------------------------------

def test_ql_dirichlet_matches_python_replay(spark):
    import math

    from pagerankproject_spark.text.bm25 import ql_dirichlet_scores

    rows = [
        (1, "spark shuffle spark JOIN"),
        (2, "join join join filter"),
        (3, "window sort merge"),        # no query term -> excluded
        (4, "spark"),
        (5, "   "),                      # blank: no tokens
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    terms, mu = ["spark", "join"], 10.0
    toks = {d: t.lower().split() for d, t in rows}
    ctot = sum(len(t) for t in toks.values())
    cf = {q: sum(t.count(q) for t in toks.values()) for q in terms}
    expect = {}
    for d, t in toks.items():
        if not any(q in t for q in terms):
            continue
        score = sum(
            math.log((t.count(q) + mu * cf[q] / ctot) / (len(t) + mu))
            for q in terms
        )
        expect[d] = (sum(1 for q in terms if q in t), round(score, 6))
    got = {
        r["doc_id"]: (r["matched"], r["score"])
        for r in ql_dirichlet_scores(df, terms, mu=mu).collect()
    }
    assert set(got) == set(expect) == {1, 2, 4}
    for d in got:
        assert got[d][0] == expect[d][0]
        assert got[d][1] == pytest.approx(expect[d][1], abs=2e-6)

    # top_k is a (score desc, doc_id asc) total order
    top = ql_dirichlet_scores(df, terms, mu=mu, top_k=2).collect()
    want_order = sorted(expect.items(), key=lambda kv: (-kv[1][1], kv[0]))[:2]
    assert [r["doc_id"] for r in top] == [d for d, _ in want_order]

    # fail-fast: bad terms, bad mu, zero-cf term
    for bad in ([], ["dup", "dup"], ["Upper"]):
        with pytest.raises(ValueError):
            ql_dirichlet_scores(df, bad)
    with pytest.raises(ValueError):
        ql_dirichlet_scores(df, terms, mu=0.0)
    with pytest.raises(ValueError, match="absent from the corpus"):
        ql_dirichlet_scores(df, ["spark", "absentterm"]).collect()


def test_ql_dirichlet_sql_twin_matches_engine(spark):
    import duckdb

    from pagerankproject_spark.text.bm25 import (
        ql_dirichlet_scores,
        sql_ql_dirichlet,
    )

    sf = "/root/testdata/sf0.001"
    docs = spark.read.parquet(f"{sf}/documents.parquet")
    terms = ["spark", "window", "merge"]
    got = {
        (r["doc_id"], r["matched"], r["score"])
        for r in ql_dirichlet_scores(docs, terms).collect()
    }
    con = duckdb.connect()
    con.execute(
        f"create view documents as select * from read_parquet('{sf}/documents.parquet')"
    )
    want = {
        tuple(r)
        for r in con.execute(sql_ql_dirichlet("documents", terms)).fetchall()
    }
    assert got == want and len(got) > 0


# ---------------------------------------------------------------------------
# Mirror-host detection (dedup/mirrors.py)
# ---------------------------------------------------------------------------

def test_mirror_host_pairs_matches_python_replay(spark):
    from pagerankproject_spark.dedup.mirrors import mirror_host_pairs

    rows = [
        # host A and B share most content (mirrors); C is unrelated.
        ("a.com", 1, "the quick brown fox jumps over the lazy dog"),
        ("a.com", 2, "pack my box with five dozen liquor jugs"),
        ("b.com", 3, "the quick brown fox jumps over the lazy dog"),
        ("b.com", 4, "pack my box with five dozen jugs"),
        ("c.com", 5, "completely different text about spark shuffles"),
        ("c.com", 6, ""),  # blank doc contributes nothing
    ]
    df = spark.createDataFrame(rows, "host string, doc_id long, text string")

    def sh3(t):
        w = t.lower().split()
        if not w:
            return set()
        if len(w) < 3:
            return {" ".join(w)}
        return {" ".join(w[i:i + 3]) for i in range(len(w) - 2)}

    sets: dict[str, set] = {}
    for h, _, t in rows:
        sets.setdefault(h, set()).update(sh3(t))
    import itertools
    expect = {}
    for ha, hb in itertools.combinations(sorted(sets), 2):
        c = len(sets[ha] & sets[hb])
        if not c:
            continue
        r = round(c / (len(sets[ha]) + len(sets[hb]) - c), 6)
        if r >= 0.1:
            expect[(ha, hb)] = r

    got = {
        (r["host_a"], r["host_b"]): r["resemblance"]
        for r in mirror_host_pairs(
            df, F.col("host"), threshold=0.1, n=3
        ).collect()
    }
    assert got == pytest.approx(expect)
    assert ("a.com", "b.com") in got          # the mirror pair survives
    assert all("c.com" not in k for k in got)  # unrelated host does not

    # df-cap: capping at 1 host removes every shared shingle -> empty
    capped = mirror_host_pairs(
        df, F.col("host"), threshold=0.0, n=3, max_host_freq=1
    )
    assert capped.count() == 0


# ---------------------------------------------------------------------------
# Heavy hitters (text/heavyhitters.py)
# ---------------------------------------------------------------------------

def test_heavy_hitters_exact_under_adversarial_partitioning(spark):
    from collections import Counter

    from pagerankproject_spark.text.heavyhitters import heavy_hitters

    # one dominant token, a mid token, and a long tail of rare tokens
    # that must NOT survive (they flood the MG counters but get pruned)
    rows = (
        [(i, "spark spark shuffle") for i in range(30)]
        + [(100 + i, f"rare{i} other{i} misc{i}") for i in range(60)]
        + [(500, ""), (501, "   ")]
    )
    df = spark.createDataFrame(rows, "doc_id long, text string")
    denom = 10

    c = Counter()
    for _, t in rows:
        c.update(t.lower().split())
    n = sum(c.values())
    expect = {
        (tok, cnt, n) for tok, cnt in c.items() if cnt * denom > n
    }
    assert expect  # sanity: the fixture does have heavy hitters

    for parts in (1, 7):  # adversarial repartition must not change output
        got = {
            (r["token"], r["cnt"], r["n_total"])
            for r in heavy_hitters(df.repartition(parts), denom=denom).collect()
        }
        assert got == expect, f"parts={parts}"

    import pytest as _pytest
    with _pytest.raises(ValueError):
        heavy_hitters(df, denom=1)


# ---------------------------------------------------------------------------
# Weighted / temperature sampling (text/sampling.py)
# ---------------------------------------------------------------------------

def _h60(key, salt="weighted-v1:"):
    import hashlib

    return int(hashlib.md5((salt + str(key)).encode()).hexdigest()[:15], 16)


def test_weighted_sample_matches_python_replay(spark):
    import math

    from pagerankproject_spark.text.sampling import weighted_sample

    rows = [
        (i, "g1" if i % 3 else "g2", (i * 7) % 50 + 1) for i in range(1, 61)
    ] + [(100, "g1", 0), (101, "g2", None)]  # excluded: w <= 0 / NULL
    df = spark.createDataFrame(rows, "doc_id long, grp string, w long")
    got = {
        (r["doc_id"], r["grp"], r["sample_rank"])
        for r in weighted_sample(
            df, k=5, weight_col="w", key_col="doc_id", group_col="grp"
        ).collect()
    }
    expect = set()
    bygrp: dict[str, list] = {}
    for i, g, w in rows:
        if w is None or w <= 0:
            continue
        r = math.log((_h60(i) + 1) / 2.0**60) / w
        bygrp.setdefault(g, []).append((-r, i))
    for g, lst in bygrp.items():
        for rank, (_, i) in enumerate(sorted(lst)[:5], start=1):
            expect.add((i, g, rank))
    assert got == expect and len(got) == 10

    # global mode (no group): one top-k
    assert (
        weighted_sample(df, k=7, weight_col="w", key_col="doc_id").count() == 7
    )
    # heavier rows win more often: weight-1000 row beats weight-1 rows
    # with overwhelming probability under A-ES; check a crafted case
    heavy = spark.createDataFrame(
        [(i, 1) for i in range(200)] + [(999, 100000)],
        "doc_id long, w long",
    )
    top = weighted_sample(heavy, k=1, weight_col="w", key_col="doc_id")
    assert top.collect()[0]["doc_id"] == 999

    import pytest

    with pytest.raises(ValueError):
        weighted_sample(df, k=0, weight_col="w", key_col="doc_id")
    with pytest.raises(ValueError, match="missing column"):
        weighted_sample(df, k=1, weight_col="nope", key_col="doc_id")


def test_temperature_sample_quotas_and_picks(spark):
    import math

    from pagerankproject_spark.text.sampling import temperature_sample

    # group sizes 36 / 9 / 4 with tau=0.5 -> weights 6 / 3 / 2, total
    # 22 -> raw quotas 12 / 6 / 4: exact, no remainder distribution.
    rows = (
        [(i, "a") for i in range(36)]
        + [(100 + i, "b") for i in range(9)]
        + [(200 + i, "c") for i in range(4)]
    )
    df = spark.createDataFrame(rows, "doc_id long, grp string")
    out = temperature_sample(
        df, total=22, tau=0.5, group_col="grp", key_col="doc_id"
    ).collect()
    sizes = {}
    for r in out:
        sizes[r["grp"]] = sizes.get(r["grp"], 0) + 1
    assert sizes == {"a": 12, "b": 6, "c": 4}
    # picks are the hash-smallest keys per group
    picked_a = sorted(r["doc_id"] for r in out if r["grp"] == "a")
    want_a = sorted(sorted(range(36), key=lambda i: (_h60(i), i))[:12])
    assert picked_a == want_a

    # remainder distribution: sizes 4/4 tau=1 total=5 -> raw 2.5/2.5,
    # base 2/2, leftover 1 goes to the lexicographically first group
    df2 = spark.createDataFrame(
        [(i, "x") for i in range(4)] + [(10 + i, "y") for i in range(4)],
        "doc_id long, grp string",
    )
    out2 = temperature_sample(
        df2, total=5, tau=1.0, group_col="grp", key_col="doc_id"
    ).collect()
    sizes2 = {}
    for r in out2:
        sizes2[r["grp"]] = sizes2.get(r["grp"], 0) + 1
    assert sizes2 == {"x": 3, "y": 2}

    # cap binds: a 2-row group asked for more keeps only 2 (undershoot)
    df3 = spark.createDataFrame(
        [(1, "x"), (2, "x"), (3, "y")] , "doc_id long, grp string"
    )
    out3 = temperature_sample(
        df3, total=3, tau=0.5, group_col="grp", key_col="doc_id"
    )
    assert out3.count() == 3 or out3.count() == 2  # quota math below
    # tau=0.5: w = sqrt(2), 1; raw = 3*.586/ .. -> x:2.07->2, y:0.93->0
    # leftover 1 -> y (largest rem) -> y:1 => total 3, no cap binding
    assert out3.count() == 3

    import pytest

    with pytest.raises(ValueError):
        temperature_sample(df3, total=0, tau=0.5, group_col="grp", key_col="doc_id")
    with pytest.raises(ValueError):
        temperature_sample(df3, total=3, tau=1.5, group_col="grp", key_col="doc_id")
    assert math.isfinite(1.0)  # keep math import used


def test_sampling_sql_twins_match_engine(spark):
    import duckdb

    from pagerankproject_spark.text.sampling import (
        sql_temperature_sample,
        sql_weighted_sample,
        temperature_sample,
        weighted_sample,
    )

    sf = "/root/testdata/sf0.001"
    docs = spark.read.parquet(f"{sf}/documents.parquet").select(
        "doc_id", "lang", "n_chars"
    )
    con = duckdb.connect()
    con.execute(
        "create view documents_p as select doc_id, lang, n_chars "
        f"from read_parquet('{sf}/documents.parquet')"
    )
    cols = ["doc_id", "lang", "n_chars"]

    got_w = {
        tuple(r)
        for r in weighted_sample(
            docs, k=10, weight_col="n_chars", key_col="doc_id", group_col="lang"
        )
        .select(*cols, "sample_rank")
        .collect()
    }
    want_w = {
        tuple(r)
        for r in con.execute(
            sql_weighted_sample(
                "documents_p", k=10, weight_col="n_chars",
                key_col="doc_id", cols=cols, group_col="lang",
            )
        ).fetchall()
    }
    assert got_w == want_w and len(got_w) > 0

    got_t = {
        tuple(r)
        for r in temperature_sample(
            docs, total=60, tau=0.5, group_col="lang", key_col="doc_id"
        )
        .select(*cols, "pick_rank")
        .collect()
    }
    # the SQL twin emits the group column last; reorder by name
    want_df = con.execute(
        sql_temperature_sample(
            "documents_p", total=60, tau=0.5,
            group_col="lang", key_col="doc_id", cols=cols,
        )
    ).df()[cols + ["pick_rank"]]
    want_t = {tuple(r) for r in want_df.itertuples(index=False)}
    assert got_t == want_t and len(got_t) == 60


# ---------------------------------------------------------------------------
# Portable HyperLogLog (text/approx.py)
# ---------------------------------------------------------------------------

def test_hll_distinct_tokens_replay_and_accuracy(spark):
    """Registers replayed exactly in python from the md5 spec; the
    estimate lands within the m=16 error envelope on a known-cardinality
    corpus; partitioning invariance (sketch merge = max)."""
    import hashlib
    import math

    from pagerankproject_spark.text.approx import hll_distinct_tokens

    def h60(tok):
        return int(hashlib.md5(("hll-v1:" + tok).encode()).hexdigest()[:15], 16)

    # 400 distinct tokens in one group, heavy duplication
    toks = [f"tok{i}" for i in range(400)]
    rows = [
        (i, " ".join(toks[(7 * i + j) % 400] for j in range(40)), "en", "s", 1)
        for i in range(200)
    ]
    schema = "doc_id long, text string, lang string, source string, n_chars long"
    df = spark.createDataFrame(rows, schema)
    out = hll_distinct_tokens(df).collect()
    assert len(out) == 1
    got = out[0]

    # python replay of registers + estimator
    regs = [0] * 16
    seen = set()
    for _, text, *_ in rows:
        for t in text.split():
            seen.add(t)
            h = h60(t)
            j, rem = h & 15, h >> 4
            rho = 57 if rem == 0 else 57 - rem.bit_length()
            regs[j] = max(regs[j], rho)
    s = sum(2.0 ** -r for r in regs)
    v = sum(1 for r in regs if r == 0)
    e0 = 0.673 * 256 / s
    est = 16.0 * math.log(16.0 / v) if (e0 <= 40.0 and v > 0) else e0
    assert got["v_zero"] == v
    assert got["est_distinct"] == pytest.approx(round(est, 6), abs=2e-6)
    # accuracy envelope: 3 sigma of 1.04/sqrt(16)
    assert abs(est - len(seen)) / len(seen) < 3 * 1.04 / 4.0

    # partitioning invariance (mergeability): same output at 1 and 13
    # partitions
    one = hll_distinct_tokens(df.coalesce(1)).collect()[0]
    many = hll_distinct_tokens(df.repartition(13)).collect()[0]
    assert (one["v_zero"], one["est_distinct"]) == (
        many["v_zero"],
        many["est_distinct"],
    )


def test_hll_sql_twin_matches_engine(spark):
    import duckdb

    from pagerankproject_spark.text.approx import (
        hll_distinct_tokens,
        sql_hll_distinct_tokens,
    )

    sf = "/root/testdata/sf0.001"
    docs = spark.read.parquet(f"{sf}/documents.parquet")
    got = {
        (r["lang"], r["v_zero"], r["est_distinct"])
        for r in hll_distinct_tokens(docs).collect()
    }
    con = duckdb.connect()
    con.execute(
        f"create view documents as select * from read_parquet('{sf}/documents.parquet')"
    )
    want = {
        tuple(r)
        for r in con.execute(sql_hll_distinct_tokens("documents")).fetchall()
    }
    assert got == want and len(got) == 5


def test_cm_token_counts_replay_and_bounds(spark):
    """Sketch replayed exactly in python; never undercounts; exact for
    the dominant token when no collision lands in one of its rows."""
    import collections

    from pagerankproject_spark.text.approx import (
        CM_D,
        CM_W,
        _cm_bucket_py,
        cm_token_counts,
    )

    rows = [
        (i, " ".join(["spark"] * 5 + [f"filler{(i * 13 + j) % 97}" for j in range(10)]), "en", "s", 1)
        for i in range(60)
    ]
    schema = "doc_id long, text string, lang string, source string, n_chars long"
    df = spark.createDataFrame(rows, schema)
    terms = ["spark", "filler0", "absentterm"]
    got = {
        r["token"]: (r["est_cnt"], r["n_total"])
        for r in cm_token_counts(df, terms).collect()
    }

    cnt = collections.Counter(t for _, text, *_ in rows for t in text.split())
    n = sum(cnt.values())
    # python replay of the full sketch
    sketch = collections.Counter()
    for t, c in cnt.items():
        for i in range(CM_D):
            sketch[(i, _cm_bucket_py(t, i))] += c
    for t in terms:
        est = min(sketch.get((i, _cm_bucket_py(t, i)), 0) for i in range(CM_D))
        assert got[t] == (est, n), t
        assert est >= cnt.get(t, 0)  # never undercounts

    # validation fail-fast
    import pytest

    with pytest.raises(ValueError):
        cm_token_counts(df, [])
    with pytest.raises(ValueError):
        cm_token_counts(df, ["a", "a"])


def test_cm_sql_twin_matches_engine(spark):
    import duckdb

    from pagerankproject_spark.text.approx import (
        cm_token_counts,
        sql_cm_token_counts,
    )

    sf = "/root/testdata/sf0.001"
    docs = spark.read.parquet(f"{sf}/documents.parquet")
    terms = ["spark", "window", "merge"]
    got = {
        tuple(r) for r in cm_token_counts(docs, terms).collect()
    }
    con = duckdb.connect()
    con.execute(
        f"create view documents as select * from read_parquet('{sf}/documents.parquet')"
    )
    want = {
        tuple(r)
        for r in con.execute(sql_cm_token_counts("documents", terms)).fetchall()
    }
    assert got == want and len(got) == 3


def test_bloom_decontaminate_superset_and_replay(spark):
    """Never false-negative: every doc decontaminate_overlap flags is
    flagged with flagged_ngrams >= overlap_ngrams; full python replay
    of the filter and probes."""
    from pagerankproject_spark.text.decontaminate import (
        BLOOM_K,
        BLOOM_M_BITS,
        BLOOM_WORD_BITS,
        bloom_decontaminate,
        decontaminate_overlap,
    )

    def grams(text, n=3):
        t = text.lower().split()
        return {" ".join(t[i : i + n]) for i in range(len(t) - n + 1)}

    train = [
        (1, "the quick brown fox jumps over the lazy dog"),
        (2, "totally unrelated content about spark shuffles here"),
        (3, "pack my box with five dozen liquor jugs"),
    ]
    evald = [
        (100, "quick brown fox jumps high"),
        (101, "five dozen liquor jugs arrived"),
    ]
    tr = spark.createDataFrame(train, "doc_id long, text string")
    ev = spark.createDataFrame(evald, "doc_id long, text string")
    got = {
        r["doc_id"]: r["flagged_ngrams"]
        for r in bloom_decontaminate(tr, ev, n=3).collect()
    }
    exact = {
        r["doc_id"]: r["overlap_ngrams"]
        for r in decontaminate_overlap(tr, ev, n=3).collect()
    }
    for d, k in exact.items():
        assert d in got and got[d] >= k, (d, k, got)

    # python replay: identical filter + probes
    import hashlib

    def probes(shingle):
        out = []
        for i in range(BLOOM_K):
            h = int(
                hashlib.md5(f"bloom-v1:{i}:{shingle}".encode()).hexdigest()[:15],
                16,
            )
            bit = h % BLOOM_M_BITS
            out.append((bit // BLOOM_WORD_BITS, 1 << (bit % BLOOM_WORD_BITS)))
        return out

    filt: dict[int, int] = {}
    for _, text in evald:
        for s in grams(text):
            for w, m in probes(s):
                filt[w] = filt.get(w, 0) | m
    expect = {}
    for d, text in train:
        flagged = sum(
            1
            for s in grams(text)
            if all(filt.get(w, 0) & m for w, m in probes(s))
        )
        if flagged:
            expect[d] = flagged
    assert got == expect


def test_bloom_sql_twin_matches_engine(spark):
    import duckdb

    from pagerankproject_spark.text.decontaminate import (
        bloom_decontaminate,
        sql_bloom_decontaminate,
    )

    sf = "/root/testdata/sf0.001"
    docs = spark.read.parquet(f"{sf}/documents.parquet")
    got = {
        tuple(r)
        for r in bloom_decontaminate(
            docs.filter("doc_id % 19 <> 0"), docs.filter("doc_id % 19 = 0"), n=4
        ).collect()
    }
    con = duckdb.connect()
    con.execute(
        f"create view documents as select * from read_parquet('{sf}/documents.parquet')"
    )
    want = {
        tuple(r)
        for r in con.execute(
            sql_bloom_decontaminate(
                "(select * from documents where doc_id % 19 <> 0)",
                "(select * from documents where doc_id % 19 = 0)",
                n=4,
            )
        ).fetchall()
    }
    assert got == want and len(got) > 0


def test_winnow_match_pairs_planted_overlap(spark):
    """MOSS match detection: two docs sharing a long run MUST share
    winnowed fingerprints (the guarantee property), unrelated docs
    share none, and the df-cap drops boilerplate fingerprints that
    would otherwise pair everything with everything."""
    from pagerankproject_spark.text.spans import winnow_match_pairs

    plagiarized = "the quick brown fox jumps over the lazy dog again and again"
    rows = [
        (1, plagiarized + " alpha beta gamma delta"),
        (2, "intro words first " + plagiarized),
        (3, "completely different content about graphs and spark engines"),
        (4, "another unrelated document mentioning nothing shared at all"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        (r["a"], r["b"]): (r["shared"], r["score"])
        for r in winnow_match_pairs(df, k=4, w=4, min_shared=2).collect()
    }
    assert (1, 2) in got
    shared, score = got[(1, 2)]
    assert shared >= 2 and 0 < score <= 1.0
    assert all(p == (1, 2) for p in got)

    # boilerplate cap: a fingerprint in EVERY doc is dropped before the
    # join — with df_cap=1 nothing can pair
    boiler = [(i, plagiarized) for i in range(1, 5)]
    bdf = spark.createDataFrame(boiler, "doc_id long, text string")
    none = winnow_match_pairs(bdf, k=4, w=4, min_shared=1, df_cap=1).count()
    assert none == 0

    import pytest as _pytest

    with _pytest.raises(ValueError, match="min_shared"):
        winnow_match_pairs(df, min_shared=0)


def test_crawl_schedule_slots_are_conflict_free(spark):
    """Politeness slots: hosts sharing a link never share a slot
    (proper coloring of the host graph), every host gets one."""
    from pagerankproject_spark.graph.coloring import coloring_auto
    from pagerankproject_spark.text.pipeline import host_graph

    edges = [
        ("a.com/1", "b.com/1"), ("b.com/2", "c.com/1"),
        ("c.com/2", "a.com/2"), ("a.com/3", "d.com/1"),
        ("d.com/2", "b.com/3"),
    ]
    e = spark.createDataFrame(edges, "src string, dst string")
    hg = host_graph(e).select(
        F.col("src_host").alias("src"), F.col("dst_host").alias("dst")
    )
    colors = {
        r["url"]: r["color"]
        for r in coloring_auto(spark, hg).colors.collect()
    }
    hosts = {h for p in edges for h in (p[0].split("/")[0], p[1].split("/")[0])}
    assert set(colors) == hosts
    for s, t in edges:
        assert colors[s.split("/")[0]] != colors[t.split("/")[0]]


def test_bpe_fertility_bounds(spark):
    """Fertility >= 1 (a word is at least one token) and
    chars_per_token > 0; with zero merges every word is fully split,
    so fertility equals chars + 1 marker per occurrence."""
    from pagerankproject_spark.text.bpe import bpe_encode, bpe_merges

    docs = spark.createDataFrame(
        [(1, "aa bb aa"), (2, "aa cc")], "doc_id long, text string"
    )
    seg = bpe_encode(
        docs,
        [
            (r["left"], r["right"])
            for r in bpe_merges(docs, num_merges=2, min_count=1)
            .orderBy("rank")
            .collect()
        ],
    )
    rows = seg.collect()
    assert all(1 <= len(r["subwords"]) <= len(r["word"]) + 1 for r in rows)


def test_dedup_report_planted_duplicates(spark, tmp_path):
    """dedup_report over a planted fixture: exact twins are removed by
    the exact AND minhash AND simhash methods (overlap rows agree), a
    near-identical text lands in the minhash cluster, identical
    embeddings drive one embedding removal, and a half-boilerplate doc
    trips the paragraph rule. Matrix invariants: 15 ordered rows,
    diagonal restates the removed count, overlap <= min(removed)."""
    import __spark_entry__ as entrymod

    base = (
        "the quick brown fox jumps over the lazy dog while spark "
        "shuffles partitions across the cluster ring"
    )
    near = base.replace("ring", "rack")
    # paragraph rule: _lined_text_expr splits on the literal words
    # batch/scan/join — give doc 5 two identical paragraphs
    para = "same line here batch same line here batch tail"
    docs = [
        (1, base, "en", "s1", len(base)),
        (2, base, "en", "s1", len(base)),          # exact twin of 1
        (3, near, "en", "s1", len(near)),           # near-dup of 1
        (4, "completely different content about databases and trees",
         "en", "s2", 54),
        (5, para, "en", "s2", len(para)),           # paragraph-dup doc
    ]
    spark.createDataFrame(
        docs, "doc_id long, text string, lang string, source string, "
        "n_chars long"
    ).coalesce(1).write.parquet(str(tmp_path / "documents.parquet"))
    vec_a = [1.0] + [0.0] * 15
    vec_b = [0.0, 1.0] + [0.0] * 14
    embs = [
        (1, vec_a, 0),
        (2, vec_a, 0),   # identical embedding -> removed
        (3, vec_b, 1),
        (4, [0.0, 0.0, 1.0] + [0.0] * 13, 2),
        (5, [0.0] * 3 + [1.0] + [0.0] * 12, 3),
    ]
    spark.createDataFrame(
        embs, "vec_id long, embedding array<float>, label int"
    ).coalesce(1).write.parquet(str(tmp_path / "embeddings.parquet"))

    rows = entrymod.q_dedup_report(spark, str(tmp_path)).collect()
    assert len(rows) == 15
    mat = {(r["method_a"], r["method_b"]): r for r in rows}
    removed = {m: mat[(m, m)]["removed_a"] for m in
               ("embedding", "exact", "minhash", "paragraph", "simhash")}
    # planted recovery
    assert removed["exact"] == 1          # doc 2
    assert removed["minhash"] == 2        # docs 2 and 3 cluster with 1
    assert removed["simhash"] >= 1        # at least the exact twin
    assert removed["embedding"] == 1      # vec 2
    assert removed["paragraph"] >= 1      # doc 5 keeps 2 of 3 paras
    # matrix invariants
    for (a, b), r in mat.items():
        assert r["removed_a"] == removed[a] and r["removed_b"] == removed[b]
        assert r["overlap"] <= min(removed[a], removed[b])
        if a == b:
            assert r["overlap"] == removed[a]
    # the exact twin (doc 2) is inside every text-cluster method's
    # removed set, so those overlaps are at least 1
    assert mat[("exact", "minhash")]["overlap"] >= 1
    assert mat[("exact", "simhash")]["overlap"] >= 1
