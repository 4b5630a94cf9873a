import math

import pytest
from pyspark.sql import functions as F

from py_stringsimjoin_spark import (
    QgramTokenizer,
    WhitespaceTokenizer,
    cosine_join,
    dice_join,
    jaccard_join,
)
from py_stringsimjoin_spark.operators.set_sim_join import set_sim_join

from .oracle import apply_comp, brute_force_set_sim

COLS = ["ID", "name", "birth_year", "hourly_wage", "address", "zipcode"]
KEY_I, NAME_I = 0, 1


def _rows(df):
    return [tuple(r) for r in df.collect()]


def _check(spark, A, B, measure, tokenizer, threshold, comp_op=">=", allow_empty=True, **kw):
    out = set_sim_join(
        measure, A, B, "ID", "ID", "name", "name", tokenizer, threshold,
        comp_op=comp_op, allow_empty=allow_empty, **kw
    )
    got = {(r[f"l_ID"], r[f"r_ID"]): r["_sim_score"] for r in out.collect()}
    exp = brute_force_set_sim(
        _rows(A), _rows(B), KEY_I, KEY_I, NAME_I, NAME_I,
        tokenizer, measure, threshold, comp_op, allow_empty,
    )
    assert set(got) == set(exp), (
        f"{measure} t={threshold} {comp_op}: extra={set(got)-set(exp)} missing={set(exp)-set(got)}"
    )
    for k, v in exp.items():
        assert got[k] == pytest.approx(v, abs=1e-9), (k, got[k], v)


@pytest.mark.parametrize("measure", ["jaccard", "cosine", "dice"])
@pytest.mark.parametrize("threshold", [0.3, 0.7])
def test_set_sim_ws(spark, person_tables, measure, threshold):
    A, B = person_tables
    _check(spark, A, B, measure, WhitespaceTokenizer(), threshold)


@pytest.mark.parametrize("measure", ["jaccard", "cosine"])
def test_set_sim_qgram(spark, person_tables, measure):
    A, B = person_tables
    _check(spark, A, B, measure, QgramTokenizer(qval=3, return_set=True), 0.3)


def test_bag_tokenizer_normalized_to_set(spark, person_tables):
    A, B = person_tables
    _check(spark, A, B, "jaccard", QgramTokenizer(qval=2, return_set=False), 0.3)


@pytest.mark.parametrize("comp_op", [">", "="])
def test_comp_ops(spark, person_tables, comp_op):
    A, B = person_tables
    _check(spark, A, B, "jaccard", WhitespaceTokenizer(), 0.5, comp_op=comp_op)


def test_allow_empty_false(spark, person_tables):
    A, B = person_tables
    _check(spark, A, B, "jaccard", WhitespaceTokenizer(), 0.3, allow_empty=False)


def test_allow_empty_pairs_present(spark, person_tables):
    A, B = person_tables
    out = jaccard_join(A, B, "ID", "ID", "name", "name", WhitespaceTokenizer(), 0.7)
    got = {(r["l_ID"], r["r_ID"]): r["_sim_score"] for r in out.collect()}
    assert got[("a6", "b7")] == 1.0  # ' ' x ' ' empty-empty pair


def test_allow_missing(spark, person_tables):
    A, B = person_tables
    out = jaccard_join(
        A, B, "ID", "ID", "name", "name", WhitespaceTokenizer(), 0.7,
        allow_missing=True,
    )
    rows = {(r["l_ID"], r["r_ID"]): r["_sim_score"] for r in out.collect()}
    # a7 has NULL name -> paired with every b row, NULL score
    for i in range(1, 9):
        assert ("a7", f"b{i}") in rows
        assert rows[("a7", f"b{i}")] is None
    # b8 NULL -> paired with non-null a rows only
    assert ("a1", "b8") in rows and ("a7", "b8") in rows


def test_out_attrs_and_prefixes(spark, person_tables):
    A, B = person_tables
    out = jaccard_join(
        A, B, "ID", "ID", "name", "name", WhitespaceTokenizer(), 0.7,
        l_out_attrs=["name", "zipcode"], r_out_attrs=["name"],
        l_out_prefix="left_", r_out_prefix="right_",
    )
    assert out.columns == [
        "left_ID", "right_ID", "left_name", "left_zipcode", "right_name", "_sim_score",
    ]
    row = out.where((F.col("left_ID") == "a1") & (F.col("right_ID") == "b2")).first()
    assert row["left_name"] == "Kevin Smith" and row["right_name"] == "Kevin Smith"
    assert row["left_zipcode"] == 94107


def test_out_sim_score_false_and_dense_id(spark, person_tables):
    A, B = person_tables
    out = jaccard_join(
        A, B, "ID", "ID", "name", "name", WhitespaceTokenizer(), 0.7,
        out_sim_score=False, add_dense_id=True,
    )
    assert out.columns == ["_id", "l_ID", "r_ID"]
    ids = sorted(r["_id"] for r in out.collect())
    assert ids == list(range(len(ids)))


def test_cosine_dice_wrappers(spark, person_tables):
    A, B = person_tables
    for fn, measure in ((cosine_join, "cosine"), (dice_join, "dice")):
        out = fn(A, B, "ID", "ID", "name", "name", WhitespaceTokenizer(), 0.7)
        exp = brute_force_set_sim(
            _rows(A), _rows(B), KEY_I, KEY_I, NAME_I, NAME_I,
            WhitespaceTokenizer(), measure, 0.7,
        )
        got = {(r["l_ID"], r["r_ID"]) for r in out.collect()}
        assert got == set(exp)


def test_position_filter_off_same_result(spark, person_tables):
    A, B = person_tables
    a = jaccard_join(A, B, "ID", "ID", "name", "name", WhitespaceTokenizer(), 0.5)
    b = jaccard_join(
        A, B, "ID", "ID", "name", "name", WhitespaceTokenizer(), 0.5,
        position_filter=False,
    )
    ka = {(r["l_ID"], r["r_ID"]) for r in a.collect()}
    kb = {(r["l_ID"], r["r_ID"]) for r in b.collect()}
    assert ka == kb


def test_invalid_args(spark, person_tables):
    A, B = person_tables
    with pytest.raises(AssertionError):
        jaccard_join(A, B, "ID", "ID", "nope", "name", WhitespaceTokenizer(), 0.5)
    with pytest.raises(AssertionError):
        jaccard_join(A, B, "ID", "ID", "name", "name", WhitespaceTokenizer(), 1.5)
    with pytest.raises(AssertionError):
        jaccard_join(A, B, "ID", "ID", "name", "name", WhitespaceTokenizer(), 0.5, comp_op="<")
    with pytest.raises(AssertionError):
        jaccard_join(A, B, "ID", "ID", "name", "name", "not a tokenizer", 0.5)


def test_join_rejects_numeric_attr(spark, person_tables):
    import pytest as _pytest

    from py_stringsimjoin_spark.operators.set_sim_join import jaccard_join

    A, B = person_tables
    with _pytest.raises(AssertionError, match="not of string type"):
        jaccard_join(A, B, "ID", "ID", "birth_year", "name",
                     WhitespaceTokenizer(), 0.5)


def test_set_sim_join_pairs_rejects_overlap_coefficient(spark, person_tables):
    import pytest as _pytest

    from py_stringsimjoin_spark.operators.set_sim_join import set_sim_join_pairs

    A, B = person_tables
    with _pytest.raises(ValueError, match="overlap_coefficient"):
        set_sim_join_pairs("overlap_coefficient", A, B, "ID", "ID",
                           "name", "name", WhitespaceTokenizer(), 0.5)


def test_value_dedup_paths_agree(spark, person_tables):
    """Forced value-dedup vs forced row-level join must produce identical
    pair sets (dup-heavy input: every person row replicated 5x)."""
    from py_stringsimjoin_spark.operators.set_sim_join import set_sim_join_pairs

    A, B = person_tables
    reps = spark.range(5).select(F.col("id").alias("_rep"))
    big_a = A.crossJoin(reps).select(
        F.concat_ws("#", "ID", "_rep").alias("ID"), "name"
    )
    big_b = B.crossJoin(reps).select(
        F.concat_ws("#", "ID", "_rep").alias("ID"), "name"
    )
    kw = dict(comp_op=">=", allow_empty=True, allow_missing=True)
    on = set_sim_join_pairs(
        "jaccard", big_a, big_b, "ID", "ID", "name", "name",
        WhitespaceTokenizer(), 0.4, value_dedup=True, **kw
    )
    off = set_sim_join_pairs(
        "jaccard", big_a, big_b, "ID", "ID", "name", "name",
        WhitespaceTokenizer(), 0.4, value_dedup=False, **kw
    )
    got_on = {(r["_l_key"], r["_r_key"], r["_sim_score"]) for r in on.collect()}
    got_off = {(r["_l_key"], r["_r_key"], r["_sim_score"]) for r in off.collect()}
    assert got_on == got_off
    assert len(got_on) > 0


def test_edit_distance_value_dedup_paths_agree(spark, person_tables):
    from py_stringsimjoin_spark.operators.edit_distance_join import (
        edit_distance_join,
    )

    A, B = person_tables
    reps = spark.range(4).select(F.col("id").alias("_rep"))
    big_a = A.crossJoin(reps).select(
        F.concat_ws("#", "ID", "_rep").alias("ID"), "name"
    )
    big_b = B.crossJoin(reps).select(
        F.concat_ws("#", "ID", "_rep").alias("ID"), "name"
    )
    on = edit_distance_join(
        big_a, big_b, "ID", "ID", "name", "name", 3, value_dedup=True
    )
    off = edit_distance_join(
        big_a, big_b, "ID", "ID", "name", "name", 3, value_dedup=False
    )
    key = lambda r: (r["l_ID"], r["r_ID"], r["_sim_score"])  # noqa: E731
    assert {key(r) for r in on.collect()} == {key(r) for r in off.collect()}
