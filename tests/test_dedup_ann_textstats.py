import math

import numpy as np
import pytest
from pyspark.sql import functions as F

from py_stringsimjoin_spark.functions.tokenizers import ShingleTokenizer
from py_stringsimjoin_spark.operators.ann import (
    brute_force_topk,
    cosine_neardup_pairs,
    lsh_topk,
)
from py_stringsimjoin_spark.operators.connected_components import connected_components
from py_stringsimjoin_spark.operators.dedup import (
    dedup_groups,
    exact_duplicates,
    minhash_dedup,
    minhash_lsh_pairs,
    ngram_jaccard_dedup,
    simhash_pairs,
)
from py_stringsimjoin_spark.operators.textstats import text_profile


@pytest.fixture(scope="module")
def docs(spark):
    base = "the quick brown fox jumps over the lazy dog near the old river bank"
    near = "the quick brown fox jumps over the lazy dog near the old river bend"
    far = "completely unrelated text about databases and distributed query engines"
    rows = [
        (0, base),
        (1, base),          # exact dup of 0
        (2, near),          # near dup of 0
        (3, far),
        (4, "der hund läuft nicht mit der katze und ist nicht da"),
        (5, "le chat est dans la maison pour le moment"),
    ]
    return spark.createDataFrame(rows, ["doc_id", "text"])


def test_exact_duplicates(spark, docs):
    out = {(r["id"], r["group_id"]) for r in exact_duplicates(docs, "doc_id", "text").collect()}
    assert out == {(0, 0), (1, 0)}


def test_minhash_finds_near_dups(spark, docs):
    pairs = {(r["l_id"], r["r_id"]) for r in minhash_lsh_pairs(docs, "doc_id", "text").collect()}
    assert (0, 1) in pairs  # exact dups always collide
    verified = {
        (r["l_id"], r["r_id"]): r["jaccard"]
        for r in minhash_dedup(docs, "doc_id", "text", threshold=0.5).collect()
    }
    assert verified[(0, 1)] == 1.0
    if (0, 2) in verified:  # LSH is probabilistic; (0,2) usually collides
        assert verified[(0, 2)] >= 0.5


def test_ngram_jaccard_dedup_complete(spark, docs):
    got = {
        (r["l_id"], r["r_id"]): r["jaccard"]
        for r in ngram_jaccard_dedup(docs, "doc_id", "text", threshold=0.5, n=3).collect()
    }
    tok = ShingleTokenizer(n=3)
    rows = {r["doc_id"]: r["text"] for r in docs.collect()}
    exp = {}
    for i in rows:
        for j in rows:
            if i < j:
                a, b = set(tok.tokenize(rows[i])), set(tok.tokenize(rows[j]))
                if a or b:
                    jac = len(a & b) / len(a | b)
                    if jac >= 0.5:
                        exp[(i, j)] = jac
    assert set(got) == set(exp)
    for k, v in exp.items():
        assert got[k] == pytest.approx(v, abs=1e-9)


def test_simhash_pairs(spark, docs):
    got = {(r["l_id"], r["r_id"]): r["hamming"] for r in simhash_pairs(docs, "doc_id", "text", max_hamming=10).collect()}
    assert got.get((0, 1)) == 0  # identical text → identical simhash
    if (0, 2) in got:
        assert got[(0, 2)] <= 10


def test_dedup_groups(spark, docs):
    pairs = minhash_dedup(docs, "doc_id", "text", threshold=0.5)
    groups = {r["id"]: r["group_id"] for r in dedup_groups(docs, "doc_id", pairs).collect()}
    assert groups[0] == groups[1] == 0
    assert groups[3] == 3 and groups[4] == 4  # singletons


def test_connected_components(spark):
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (5, 6), (7, 7), (9, 8)], ["src", "dst"]
    )
    comp = {r["node"]: r["component"] for r in connected_components(edges).collect()}
    assert comp[1] == comp[2] == comp[3] == 1
    assert comp[5] == comp[6] == 5
    assert comp[8] == comp[9] == 8


def test_connected_components_chain(spark):
    # a 30-edge chain: the local labelling needs several pointer jumps
    edges = spark.createDataFrame([(i, i + 1) for i in range(30)], ["src", "dst"])
    comp = {r["node"]: r["component"] for r in connected_components(edges).collect()}
    assert set(comp.values()) == {0}
    assert len(comp) == 31


@pytest.fixture(scope="module")
def vectors(spark):
    rng = np.random.RandomState(0)
    X = rng.randn(40, 8)
    X[1] = X[0] + 0.001 * rng.randn(8)  # near-dup of 0
    rows = [(i, [float(x) for x in X[i]]) for i in range(40)]
    return spark.createDataFrame(rows, ["vec_id", "embedding"]), X


def test_brute_force_topk_exact(spark, vectors):
    df, X = vectors
    queries = df.where(F.col("vec_id") < 3)
    out = brute_force_topk(df, queries, k=5)
    got = {}
    for r in out.collect():
        got.setdefault(r["query_id"], []).append((r["rank"], r["neighbor_id"], r["cosine"]))
    Xn = X / np.linalg.norm(X, axis=1, keepdims=True)
    S = Xn @ Xn.T
    for q in range(3):
        sims = [(S[q, j], j) for j in range(40) if j != q]
        sims.sort(key=lambda t: (-t[0], t[1]))
        exp = [j for _, j in sims[:5]]
        got_ids = [n for _, n, _ in sorted(got[q])]
        assert got_ids == exp, (q, got_ids, exp)
    assert got[0][0][1] == 1  # nearest neighbor of 0 is its near-dup


def test_lsh_topk_finds_neardup(spark, vectors):
    df, _ = vectors
    queries = df.where(F.col("vec_id") == 0)
    out = lsh_topk(df, queries, k=3, nbits=32, bands=8)
    rows = sorted(out.collect(), key=lambda r: r["rank"])
    assert rows and rows[0]["neighbor_id"] == 1 and rows[0]["cosine"] > 0.999


def test_cosine_neardup_pairs(spark, vectors):
    df, _ = vectors
    out = {(r["l_id"], r["r_id"]) for r in cosine_neardup_pairs(df, threshold=0.999).collect()}
    assert (0, 1) in out


def test_text_profile(spark, docs):
    prof = {r["doc_id"]: r for r in text_profile(docs, "doc_id", "text").collect()}
    assert prof[0]["pred_lang"] == "en"
    assert prof[4]["pred_lang"] == "de"
    assert prof[5]["pred_lang"] == "fr"
    assert prof[0]["n_tokens"] == 14
    assert prof[0]["fingerprint"] == prof[1]["fingerprint"]
    assert prof[0]["fingerprint"] != prof[3]["fingerprint"]
    assert 0.0 <= prof[0]["quality"] <= 1.0


def test_unigram_cross_entropy(spark):
    import math

    from py_stringsimjoin_spark.operators.textstats import unigram_cross_entropy

    rows = [
        (1, "the cat sat"),
        (2, "the the the"),
        (3, "rare words here"),
        (4, ""),
        (5, None),
        (6, "   "),
    ]
    df = spark.createDataFrame(rows, "doc_id int, text string")
    got = {r.doc_id: r for r in unigram_cross_entropy(df, "doc_id", "text").collect()}

    # brute-force model over the same corpus
    bags = {i: t.lower().split() for i, t in rows if t is not None}
    from collections import Counter

    freq = Counter(w for b in bags.values() for w in b)
    total = sum(freq.values())
    for i, bag in bags.items():
        if not bag:
            assert got[i].n_words == 0 and got[i].cross_entropy is None
            continue
        h = -sum(math.log(freq[w] / total) / math.log(2.0) for w in bag) / len(bag)
        assert got[i].n_words == len(bag)
        assert got[i].cross_entropy == pytest.approx(h, rel=1e-12)
    assert got[5].n_words == 0 and got[5].cross_entropy is None
    # all-common doc scores LOWER than the rare-word doc
    assert got[2].cross_entropy < got[3].cross_entropy


def test_top_tokens(spark):
    from py_stringsimjoin_spark.operators.textstats import top_tokens

    rows = [
        (1, "a b b c"),
        (2, "b c c"),
        (3, None),
        (4, "a"),
    ]
    df = spark.createDataFrame(rows, "doc_id int, text string")
    got = {r.token: (r.freq, r.doc_freq, r.rank) for r in top_tokens(df, "doc_id", "text", k=2).collect()}
    # freq: b=3 c=3 a=2 -> ties broken by token asc: b rank 1, c rank 2
    assert got == {"b": (3, 2, 1), "c": (3, 2, 2)}
    all_ranks = {r.token: r.rank for r in top_tokens(df, "doc_id", "text", k=10).collect()}
    assert all_ranks == {"b": 1, "c": 2, "a": 3}


def test_brute_force_topk_bounds_query_collect(spark, monkeypatch):
    """brute_force_topk refuses an over-cap query set with a clear route
    to the distributed searchers instead of collecting it whole, also when
    the count probe under-reports (a non-deterministic query plan is
    re-evaluated by the collect)."""
    import pytest

    from py_stringsimjoin_spark.operators.ann import brute_force_topk

    df = spark.createDataFrame(
        [(i, [float(i), 1.0]) for i in range(8)], ["vec_id", "embedding"]
    )
    with pytest.raises(ValueError, match="lsh_topk or"):
        brute_force_topk(df, df, k=2, max_queries=3)
    # under the cap the guard is invisible
    out = brute_force_topk(df, df, k=2, max_queries=8)
    assert out.count() > 0
    # the probe sees an empty query set; the collect still sees all 8 rows
    monkeypatch.setattr(type(df), "count", lambda self: 0)
    with pytest.raises(ValueError, match="max_queries=3"):
        brute_force_topk(df, df, k=2, max_queries=3)
