"""Fail-fast argument validation (plan-time, no jobs launched).

Mirrors the reference's validators
(/root/reference/py_stringsimjoin/utils/validation.py:14-152) at the level a
Spark engine can check cheaply: schema/attr existence, comp-op and threshold
domains, tokenizer types. Key uniqueness is an *opt-in* full-table assertion
(``assert_unique_key``) — at 10^12-row scale an eager uniqueness scan per call
is not acceptable, so it's a separate job the pipeline runs once per source.
"""

from __future__ import annotations

import operator

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.tokenizers import QgramTokenizer, Tokenizer

COMP_OP_FN = {
    ">=": operator.ge,
    ">": operator.gt,
    "<=": operator.le,
    "<": operator.lt,
    "=": operator.eq,
    "!=": operator.ne,
}


def comp_col(comp_op: str, col, threshold):
    """``col <comp_op> threshold`` as a Spark Column (``COMP_OP_FN``'s
    operators apply to Columns as they do to scalars)."""
    return COMP_OP_FN[comp_op](col, F.lit(threshold))


COMP_OP_NUMPY = {
    ">=": np.greater_equal,
    ">": np.greater,
    "<=": np.less_equal,
    "<": np.less,
    "=": np.equal,
    "!=": np.not_equal,
}


def validate_attr(df: DataFrame, attr: str, table_name: str) -> None:
    if attr not in df.columns:
        raise AssertionError(f"{attr!r} is not an attribute of the {table_name} table")


def validate_attr_type(df: DataFrame, attr: str, table_name: str) -> None:
    """Reject non-string join/filter/match attributes at plan time — parity
    with reference utils/validation.py:29-34 (a numeric column would
    otherwise silently tokenize via its string form). Convert first with
    ``dataframe_column_to_str``."""
    from pyspark.sql import types as T

    if not isinstance(df.schema[attr].dataType, T.StringType):
        raise AssertionError(
            f"attribute {attr!r} in the {table_name} table is not of string type."
        )


def validate_comp_op(comp_op: str, allowed: tuple[str, ...]) -> None:
    if comp_op not in allowed:
        raise AssertionError(f"comparison operator {comp_op!r} not in {allowed}")


def validate_threshold(threshold: float, measure: str) -> None:
    if measure in ("jaccard", "cosine", "dice", "overlap_coefficient"):
        if not (0 < threshold <= 1):
            raise AssertionError(f"threshold for {measure} must be in (0, 1]")
    elif measure == "overlap":
        if threshold <= 0:
            raise AssertionError("threshold for overlap must be > 0")
    elif measure == "edit_distance":
        if threshold < 0:
            raise AssertionError("threshold for edit_distance must be >= 0")
    else:
        raise AssertionError(f"unknown measure {measure!r}")


def validate_tokenizer(tokenizer) -> None:
    if not isinstance(tokenizer, Tokenizer):
        raise AssertionError("tokenizer must be a Tokenizer instance")


def validate_tokenizer_for_edit_distance(tokenizer) -> None:
    # edit-distance joins require q-gram bag tokens (validation.py:87-98)
    if not isinstance(tokenizer, QgramTokenizer):
        raise AssertionError("edit-distance join requires a QgramTokenizer")


def validate_output_attrs(
    l_out_attrs, r_out_attrs, l_columns, r_columns
) -> None:
    for attrs, cols, side in ((l_out_attrs, l_columns, "left"), (r_out_attrs, r_columns, "right")):
        if attrs:
            for a in attrs:
                if a not in cols:
                    raise AssertionError(f"output attribute {a!r} not found in the {side} table")


def assert_unique_key(df: DataFrame, key_attr: str) -> None:
    """Opt-in full-table key check (one distributed agg job)."""
    row = df.agg(
        F.count("*").alias("n"),
        F.count(key_attr).alias("nn"),
        F.countDistinct(key_attr).alias("nd"),
    ).first()
    if row["nn"] != row["n"]:
        raise AssertionError(f"key attribute {key_attr!r} contains NULLs")
    if row["nd"] != row["n"]:
        raise AssertionError(f"key attribute {key_attr!r} is not unique")
