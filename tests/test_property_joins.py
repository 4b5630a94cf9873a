"""Property-based oracle tests: random corpora × random thresholds must match
the brute-force oracle on every branch of the kernels' plan-time choices
(hypothesis drives the data; one Spark job per example keeps runtime
bounded). Every test also checks that each pair comes out once: the
kernels emit a pair at its first shared prefix token only, with no pair
distinct behind them.

``_join_rows_hint`` forces the set-sim and edit-distance kernels' tiny-join
gate on the row-level join: 1 takes the gated plan (no hot-token probe, no
exchange pinning), 10**9 the probed, salted and pinned plan. (A value-dedup
join passes its own distinct-value count to the inner join instead.)

``value_dedup`` is drawn from {False, True, "auto"}, and explicit examples
force ``True`` on every run: the random corpora are rarely dup-heavy enough
for "auto" to take the value-dedup plan."""

import random

import pytest
from hypothesis import HealthCheck, example, given, settings
from hypothesis import strategies as st

from py_stringsimjoin_spark import WhitespaceTokenizer
from py_stringsimjoin_spark.operators.set_sim_join import set_sim_join_pairs

from .oracle import brute_force_set_sim

VOCAB = ["ab", "cd", "ef", "gh", "ij", "kl", "mn", "op"]


def _mk_rows(seed: int, n: int):
    rng = random.Random(seed)
    rows = []
    for i in range(n):
        k = rng.randint(0, 4)
        name = " ".join(rng.choice(VOCAB) for _ in range(k)) if k else " "
        if rng.random() < 0.1:
            name = None
        rows.append((f"r{i}", name))
    return rows


@settings(max_examples=8, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    seed=st.integers(0, 10_000),
    threshold=st.sampled_from([0.25, 0.4, 0.6, 0.85, 1.0]),
    measure=st.sampled_from(["jaccard", "cosine", "dice"]),
    rows_hint=st.sampled_from([1, 10**9]),
    value_dedup=st.sampled_from([False, True, "auto"]),
)
@example(seed=3, threshold=0.4, measure="jaccard", rows_hint=1, value_dedup=True)
@example(seed=5, threshold=0.6, measure="cosine", rows_hint=10**9, value_dedup=True)
@example(seed=11, threshold=0.25, measure="dice", rows_hint=1, value_dedup=True)
def test_random_corpus_matches_oracle(spark, seed, threshold, measure, rows_hint, value_dedup):
    rows_a = _mk_rows(seed, 12)
    rows_b = _mk_rows(seed + 1, 12)
    A = spark.createDataFrame(rows_a, "ID string, name string")
    B = spark.createDataFrame(rows_b, "ID string, name string")
    out = set_sim_join_pairs(
        measure, A, B, "ID", "ID", "name", "name",
        WhitespaceTokenizer(), threshold, value_dedup=value_dedup,
        _join_rows_hint=rows_hint,
    )
    rows = out.collect()
    got = {(r["_l_key"], r["_r_key"]): r["_sim_score"] for r in rows}
    assert len(rows) == len(got), "duplicate pairs"
    exp = brute_force_set_sim(
        rows_a, rows_b, 0, 0, 1, 1, WhitespaceTokenizer(), measure, threshold
    )
    assert set(got) == set(exp), (
        f"{measure} t={threshold} hint={rows_hint} dedup={value_dedup}: "
        f"extra={set(got) - set(exp)} missing={set(exp) - set(got)}"
    )
    for k, v in exp.items():
        assert got[k] == pytest.approx(v, abs=1e-9)


def _mk_str_rows(seed: int, n: int):
    """Random short strings over a small alphabet (dup- and typo-heavy)."""
    rng = random.Random(seed)
    rows = []
    for i in range(n):
        k = rng.randint(1, 8)
        s = "".join(rng.choice("abcx") for _ in range(k))
        if rng.random() < 0.1:
            s = None
        rows.append((f"r{i}", s))
    return rows


@settings(max_examples=8, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    seed=st.integers(0, 10_000),
    threshold=st.sampled_from([0, 1, 2, 3]),
    comp_op=st.sampled_from(["<=", "<", "="]),
    rows_hint=st.sampled_from([1, 10**9]),
    value_dedup=st.sampled_from([False, True, "auto"]),
)
@example(seed=3, threshold=1, comp_op="<=", rows_hint=1, value_dedup=True)
@example(seed=5, threshold=2, comp_op="<", rows_hint=10**9, value_dedup=True)
@example(seed=11, threshold=0, comp_op="=", rows_hint=1, value_dedup=True)
def test_random_edit_distance_matches_oracle(
    spark, seed, threshold, comp_op, rows_hint, value_dedup
):
    from py_stringsimjoin_spark.functions.tokenizers import QgramTokenizer
    from py_stringsimjoin_spark.operators.edit_distance_join import edit_distance_join

    from .oracle import brute_force_edit_distance

    rows_a = _mk_str_rows(seed, 12)
    rows_b = _mk_str_rows(seed + 1, 12)
    A = spark.createDataFrame(rows_a, "ID string, name string")
    B = spark.createDataFrame(rows_b, "ID string, name string")
    tok = QgramTokenizer(qval=2)
    out = edit_distance_join(
        A, B, "ID", "ID", "name", "name", threshold, comp_op=comp_op,
        tokenizer=tok, value_dedup=value_dedup, _join_rows_hint=rows_hint,
    )
    rows = out.collect()
    got = {(r["l_ID"], r["r_ID"]): r["_sim_score"] for r in rows}
    assert len(rows) == len(got), "duplicate pairs"
    # bag tokenizer for the shared-qgram carve-out, like the join itself
    from py_stringsimjoin_spark.operators.edit_distance_join import _as_bag

    exp = brute_force_edit_distance(
        rows_a, rows_b, 0, 0, 1, 1, _as_bag(tok), threshold, comp_op
    )
    assert set(got) == set(exp), (
        f"t={threshold} {comp_op} hint={rows_hint} dedup={value_dedup}: "
        f"extra={set(got) - set(exp)} missing={set(exp) - set(got)}"
    )
    for k, v in exp.items():
        assert got[k] == v


@settings(max_examples=8, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    seed=st.integers(0, 10_000),
    threshold=st.sampled_from([0.25, 0.5, 0.75, 1.0]),
    self_join=st.booleans(),
    exclude_self_pairs=st.booleans(),
)
def test_random_containment_matches_oracle(
    spark, seed, threshold, self_join, exclude_self_pairs
):
    """Containment (left prefix, full right explode) against brute force,
    as a self-join and over two tables whose keys overlap, with and
    without ``exclude_self_pairs``."""
    from py_stringsimjoin_spark.operators.containment_join import (
        containment_join_pairs,
    )

    from .oracle import brute_force_containment

    rows_a = _mk_rows(seed, 12)
    rows_b = rows_a if self_join else _mk_rows(seed + 1, 12)
    A = spark.createDataFrame(rows_a, "ID string, name string")
    B = A if self_join else spark.createDataFrame(rows_b, "ID string, name string")
    out = containment_join_pairs(
        A, B, "ID", "ID", "name", "name", WhitespaceTokenizer(), threshold,
        exclude_self_pairs=exclude_self_pairs,
    )
    rows = out.collect()
    got = {(r["_l_key"], r["_r_key"]): r["_sim_score"] for r in rows}
    assert len(rows) == len(got), "duplicate pairs"
    exp = brute_force_containment(
        rows_a, rows_b, 0, 0, 1, 1, WhitespaceTokenizer(), threshold,
        exclude_self_pairs=exclude_self_pairs,
    )
    assert set(got) == set(exp), (
        f"t={threshold} self={self_join} exclude={exclude_self_pairs}: "
        f"extra={set(got) - set(exp)} missing={set(exp) - set(got)}"
    )
    for k, v in exp.items():
        assert got[k] == pytest.approx(v, abs=1e-9)


def _brute_missing_pairs(rows_a, rows_b, l_key_i, r_key_i, l_join_i, r_join_i):
    """Reference allow_missing semantics (utils/missing_value_handler.py):
    (NULL-attr l-row × every r-row) ∪ (non-NULL l-row × NULL-attr r-row),
    NULL score."""
    out = {}
    for la in rows_a:
        if la[l_join_i] is None:
            for rb in rows_b:
                out[(la[l_key_i], rb[r_key_i])] = None
    for rb in rows_b:
        if rb[r_join_i] is None:
            for la in rows_a:
                if la[l_join_i] is not None:
                    out[(la[l_key_i], rb[r_key_i])] = None
    return out


@settings(max_examples=10, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    seed=st.integers(0, 10_000),
    threshold=st.sampled_from([0.25, 0.5, 1.0]),
    measure=st.sampled_from(["jaccard", "cosine", "dice"]),
    comp_op=st.sampled_from([">=", ">", "="]),
    allow_missing=st.booleans(),
    rows_hint=st.sampled_from([1, 10**9]),
)
def test_comp_op_allow_missing_grid(
    spark, seed, threshold, measure, comp_op, allow_missing, rows_hint
):
    """The reference parameter grid (tests/test_join.py:198-216): comp_op
    variants × allow_missing against brute force, on both sides of the
    tiny-join gate."""
    rows_a = _mk_rows(seed, 12)
    rows_b = _mk_rows(seed + 1, 12)
    A = spark.createDataFrame(rows_a, "ID string, name string")
    B = spark.createDataFrame(rows_b, "ID string, name string")
    out = set_sim_join_pairs(
        measure, A, B, "ID", "ID", "name", "name",
        WhitespaceTokenizer(), threshold, comp_op=comp_op,
        allow_missing=allow_missing, value_dedup=False,
        _join_rows_hint=rows_hint,
    )
    rows = out.collect()
    got = {(r["_l_key"], r["_r_key"]): r["_sim_score"] for r in rows}
    assert len(rows) == len(got), "duplicate pairs"
    exp = brute_force_set_sim(
        rows_a, rows_b, 0, 0, 1, 1, WhitespaceTokenizer(), measure, threshold,
        comp_op=comp_op,
    )
    if allow_missing:
        exp.update(_brute_missing_pairs(rows_a, rows_b, 0, 0, 1, 1))
    assert set(got) == set(exp), (
        f"{measure} t={threshold} {comp_op} missing={allow_missing} "
        f"hint={rows_hint}: extra={set(got) - set(exp)} missing={set(exp) - set(got)}"
    )
    for k, v in exp.items():
        if v is None:
            assert got[k] is None
        else:
            assert got[k] == pytest.approx(v, abs=1e-9)
