"""Incremental delta join vs brute force: joining new rows against a
prepared corpus must equal the cross-side subset of a full join over the
union — including rows whose tokens were never seen by the corpus. The
same kernel's delta-internal pairs, and successive increments folded into
one store, are checked against brute force too."""

import pytest
from pyspark.sql import functions as F

from py_stringsimjoin_spark import PreparedSetSimCorpus, WhitespaceTokenizer

from .oracle import sim_on_sets

WS = WhitespaceTokenizer(return_set=True)

CORPUS = [
    (1, "alpha beta gamma"),
    (2, "alpha beta delta"),
    (3, "gamma delta epsilon"),
    (4, "zeta eta theta iota"),
    (5, ""),
    (6, None),
]
DELTA = [
    (101, "alpha beta gamma"),          # exact dup of corpus 1
    (102, "alpha beta NOVEL1 NOVEL2"),  # half unseen tokens — sizes must count them
    (103, "NOVEL3 NOVEL4"),             # fully unseen — matches nothing
    (104, "zeta eta theta"),
    (105, None),
]


@pytest.mark.parametrize("measure,threshold", [
    ("jaccard", 0.5),
    ("jaccard", 0.3),
    ("cosine", 0.6),
    ("dice", 0.5),
])
def test_delta_join_matches_brute_force(spark, measure, threshold):
    corpus_df = spark.createDataFrame(CORPUS, ["id", "name"])
    delta_df = spark.createDataFrame(DELTA, ["id", "name"])
    corpus = PreparedSetSimCorpus(corpus_df, "id", "name", WS)

    got = {
        (r["_l_key"], r["_r_key"]): r["_sim_score"]
        for r in corpus.join_delta_pairs(delta_df, measure, threshold).collect()
    }

    want = {}
    for li, ln in DELTA:
        if ln is None:
            continue
        lt = WS.tokenize(ln)
        for ri, rn in CORPUS:
            if rn is None:
                continue
            rt = WS.tokenize(rn)
            if len(lt) == 0 or len(rt) == 0:
                continue  # allow_empty=False semantics
            s = sim_on_sets(measure, lt, rt)
            if s >= threshold:
                want[(li, ri)] = s

    assert set(got) == set(want)
    for pair, s in want.items():
        assert got[pair] == pytest.approx(s, abs=1e-12)


def test_delta_join_comp_op_gt(spark):
    corpus_df = spark.createDataFrame(CORPUS, ["id", "name"])
    delta_df = spark.createDataFrame(DELTA, ["id", "name"])
    corpus = PreparedSetSimCorpus(corpus_df, "id", "name", WS)
    # exact dup scores 1.0; with comp_op ">" at threshold 1.0 it must vanish
    ge = corpus.join_delta_pairs(delta_df, "jaccard", 1.0).collect()
    gt = corpus.join_delta_pairs(delta_df, "jaccard", 1.0, comp_op=">").collect()
    assert {(r["_l_key"], r["_r_key"]) for r in ge} == {(101, 1)}
    assert gt == []
    # a delta whose columns are named differently from the corpus's
    renamed = delta_df.select(F.col("id").alias("did"), F.col("name").alias("txt"))
    got = corpus.join_delta_pairs(
        renamed, "jaccard", 1.0, delta_key_attr="did", delta_join_attr="txt"
    ).collect()
    assert {(r["_l_key"], r["_r_key"]) for r in got} == {(101, 1)}


@pytest.mark.parametrize("seed,measure,threshold", [
    (0, "jaccard", 0.4),
    (1, "cosine", 0.5),
    (2, "dice", 0.6),
    (3, "jaccard", 0.7),
])
def test_delta_join_randomized_vs_brute_force(spark, seed, measure, threshold):
    """Randomized corpora with Zipf-ish shared vocab + per-row novel tokens:
    the delta-side prefix + position prune must lose no qualifying pair."""
    import random

    rng = random.Random(seed)
    vocab = [f"t{i}" for i in range(30)]
    def mk(n_rows, id0, novel_tag):
        rows = []
        for i in range(n_rows):
            n = rng.randint(1, 8)
            toks = rng.sample(vocab, min(n, len(vocab)))
            # ~30% of rows get tokens the corpus never sees
            if rng.random() < 0.3:
                toks += [f"{novel_tag}{i}_{j}" for j in range(rng.randint(1, 3))]
            rng.shuffle(toks)
            rows.append((id0 + i, " ".join(toks)))
        return rows

    corpus_rows = mk(60, 0, "c")     # corpus-side novel tokens: rare ranks
    delta_rows = mk(40, 1000, "d")   # delta-side novel tokens: unseen entirely
    corpus_df = spark.createDataFrame(corpus_rows, ["id", "name"])
    delta_df = spark.createDataFrame(delta_rows, ["id", "name"])
    corpus = PreparedSetSimCorpus(corpus_df, "id", "name", WS)

    rows = corpus.join_delta_pairs(delta_df, measure, threshold).collect()
    got = {(r["_l_key"], r["_r_key"]): r["_sim_score"] for r in rows}
    assert len(rows) == len(got), "duplicate delta pairs"
    want = {}
    for li, ln in delta_rows:
        lt = WS.tokenize(ln)
        for ri, rn in corpus_rows:
            rt = WS.tokenize(rn)
            if not lt or not rt:
                continue
            s = sim_on_sets(measure, lt, rt)
            if s >= threshold:
                want[(li, ri)] = s
    assert set(got) == set(want)
    for pair, s in want.items():
        assert got[pair] == pytest.approx(s, abs=1e-12)


# ---------------------------------------------------------------- delta kernel
# The kernel the pipeline's increment runs: the delta is ranked against the
# stored ordering (its unseen tokens get new ranks), then its prefixes probe
# the corpus ∪ delta prefixes, so delta-internal pairs come out too.

DELTA2 = [
    (201, "NOVEL1 NOVEL2 alpha"),       # shares delta-1-only tokens
    (202, "NOVEL1 NOVEL2 alpha beta"),
    (203, "FRESH1 FRESH2 FRESH3"),      # delta-2-only tokens, shared below
    (204, "FRESH1 FRESH2 FRESH3 zeta"),
    (205, "zeta eta theta iota"),       # exact dup of corpus 4
    (206, "   "),                       # whitespace only: empty set
    (207, None),
]
DELTA_INTERNAL = DELTA + [
    (106, "NOVEL9 NOVEL8 gamma"),       # delta-only tokens shared by 106/107
    (107, "NOVEL9 NOVEL8 gamma delta"),
    (108, ""),                          # empty
]


def _fold(corpus, delta_df, measure, threshold):
    """Join one increment through the delta kernel and fold it into the
    store, as ``LinkagePipeline.increment`` does → (pairs, folded corpus).
    The kernel has no pair distinct, so each pair must come out once."""
    new_ranks = corpus._new_ranks(delta_df)
    ranked = corpus._rank_delta(delta_df, new_ranks)
    rows = corpus._delta_pairs(ranked, measure, threshold, internal=True).collect()
    pairs = {(r["_l_key"], r["_r_key"]): r["_sim_score"] for r in rows}
    assert len(rows) == len(pairs), "duplicate delta pairs"
    folded = PreparedSetSimCorpus._of(
        corpus.table.unionByName(delta_df),
        "id", "name", WS,
        corpus.ordering.select("token", "rank").unionByName(new_ranks),
        corpus.ranked.unionByName(ranked),
        epoch=corpus._epoch + 1,
    )
    return pairs, folded


def _want_fold(stored, delta, measure, threshold):
    """Brute force: every delta row against every stored row, and every
    delta pair once as (smaller key, larger key); NULL and empty sets pair
    with nothing."""
    want = {}
    rows = [(k, WS.tokenize(s)) for k, s in delta if s is not None]
    for li, lt in rows:
        for ri, rs in stored:
            rt = WS.tokenize(rs) if rs is not None else None
            if lt and rt and sim_on_sets(measure, lt, rt) >= threshold:
                want[(li, ri)] = sim_on_sets(measure, lt, rt)
        for ri, rt in rows:
            if li < ri and lt and rt and sim_on_sets(measure, lt, rt) >= threshold:
                want[(li, ri)] = sim_on_sets(measure, lt, rt)
    return want


def _assert_pairs(got, want):
    assert set(got) == set(want)
    for pair, s in want.items():
        assert got[pair] == pytest.approx(s, abs=1e-12)


@pytest.mark.parametrize("measure,threshold", [
    ("jaccard", 0.5),
    ("cosine", 0.6),
    ("dice", 0.5),
])
def test_delta_kernel_internal_pairs_vs_brute_force(spark, measure, threshold):
    corpus = PreparedSetSimCorpus(
        spark.createDataFrame(CORPUS, ["id", "name"]), "id", "name", WS
    )
    delta_df = spark.createDataFrame(DELTA_INTERNAL, ["id", "name"])
    got, _ = _fold(corpus, delta_df, measure, threshold)
    want = _want_fold(CORPUS, DELTA_INTERNAL, measure, threshold)
    # the delta-only tokens shared by 106/107 make an internal pair, and
    # the public API keeps returning the cross-side pairs only
    assert (106, 107) in want
    _assert_pairs(got, want)
    public = {
        (r["_l_key"], r["_r_key"])
        for r in corpus.join_delta_pairs(delta_df, measure, threshold).collect()
    }
    assert public == {p for p in want if p[1] < 100}


@pytest.mark.parametrize("measure,threshold", [
    ("jaccard", 0.5),
    ("cosine", 0.6),
    ("dice", 0.6),
])
def test_two_successive_increments_vs_brute_force(spark, measure, threshold):
    """The second increment joins the store the first one grew: tokens the
    first delta introduced keep their ranks, the second delta's own unseen
    tokens take the next band, and both pair correctly."""
    corpus = PreparedSetSimCorpus(
        spark.createDataFrame(CORPUS, ["id", "name"]), "id", "name", WS
    )
    d1 = spark.createDataFrame(DELTA_INTERNAL, ["id", "name"])
    d2 = spark.createDataFrame(DELTA2, ["id", "name"])
    got1, folded = _fold(corpus, d1, measure, threshold)
    _assert_pairs(got1, _want_fold(CORPUS, DELTA_INTERNAL, measure, threshold))
    got2, _ = _fold(folded, d2, measure, threshold)
    want2 = _want_fold(CORPUS + DELTA_INTERNAL, DELTA2, measure, threshold)
    assert (201, 102) in want2 and (203, 204) in want2 and (205, 4) in want2
    _assert_pairs(got2, want2)
    # the store's ranks stay distinct after two folds
    ranks = folded.ordering.select("token", "rank").unionByName(
        folded._new_ranks(d2)
    ).collect()
    assert len({r["rank"] for r in ranks}) == len({r["token"] for r in ranks}) == len(ranks)


@pytest.mark.parametrize("seed,measure,threshold", [
    (4, "jaccard", 0.4),
    (5, "cosine", 0.5),
    (6, "dice", 0.6),
])
def test_delta_kernel_randomized_two_increments(spark, seed, measure, threshold):
    """Random corpora whose deltas share unseen tokens among themselves and
    with the next delta, plus empty and NULL rows."""
    import random

    rng = random.Random(seed)
    vocab = [f"t{i}" for i in range(25)]
    novel = [f"n{i}" for i in range(12)]   # never in the corpus

    def mk(n_rows, id0, pool):
        rows = []
        for i in range(n_rows):
            r = rng.random()
            if r < 0.05:
                rows.append((id0 + i, None))
                continue
            if r < 0.1:
                rows.append((id0 + i, ""))
                continue
            toks = rng.sample(pool, rng.randint(1, 7))
            rows.append((id0 + i, " ".join(toks)))
        return rows

    corpus_rows = mk(50, 0, vocab)
    d1_rows = mk(25, 1000, vocab + novel[:8])
    d2_rows = mk(25, 2000, vocab[:10] + novel)
    corpus = PreparedSetSimCorpus(
        spark.createDataFrame(corpus_rows, "id long, name string"), "id", "name", WS
    )
    got1, folded = _fold(
        corpus, spark.createDataFrame(d1_rows, "id long, name string"),
        measure, threshold,
    )
    _assert_pairs(got1, _want_fold(corpus_rows, d1_rows, measure, threshold))
    got2, _ = _fold(
        folded, spark.createDataFrame(d2_rows, "id long, name string"),
        measure, threshold,
    )
    _assert_pairs(
        got2, _want_fold(corpus_rows + d1_rows, d2_rows, measure, threshold)
    )
