"""Filter-verify bound math — the domain logic Catalyst can't derive.

Exact re-expression of the reference's bound formulas
(/root/reference/py_stringsimjoin/filter/filter_utils.py:7-98), in two forms:

* scalar Python functions (used in pandas-UDF verify stages and tests)
* Spark ``Column`` expression builders (used inline in DataFrame plans, so
  the bounds run JVM-side inside whole-stage codegen)

Faithful quirks kept: size bounds wrap the float argument in ``round(·, 4)``
before ceil/floor (FP-noise dodge, filter_utils.py:20,26); ``get_prefix_length``
does NOT round (filter_utils.py:66-75). Measures named lowercase here.
"""

from __future__ import annotations

import sys
from math import ceil, floor, sqrt

from pyspark.sql import Column
from pyspark.sql import functions as F

MEASURES = ("jaccard", "cosine", "dice", "overlap", "overlap_coefficient", "edit_distance")

# ---------------------------------------------------------------- scalar ----


def size_lower_bound(num_tokens: int, measure: str, threshold: float) -> int:
    if measure == "cosine":
        return int(ceil(round(threshold * threshold * num_tokens, 4)))
    if measure == "dice":
        return int(ceil(round((threshold / (2 - threshold)) * num_tokens, 4)))
    if measure == "edit_distance":
        return num_tokens - int(threshold)
    if measure == "jaccard":
        return int(ceil(round(threshold * num_tokens, 4)))
    if measure == "overlap":
        return int(threshold)
    if measure == "overlap_coefficient":
        # |∩|/min ⩾ t needs min(sizes) ⩾ ... no lower bound on the other side
        return 1 if threshold > 0 else 0
    raise ValueError(measure)


def size_upper_bound(num_tokens: int, measure: str, threshold: float) -> int:
    if measure == "cosine":
        return int(floor(round(num_tokens / (threshold * threshold), 4)))
    if measure == "dice":
        return int(floor(round(((2 - threshold) / threshold) * num_tokens, 4)))
    if measure == "edit_distance":
        return num_tokens + int(threshold)
    if measure == "jaccard":
        return int(floor(round(num_tokens / threshold, 4)))
    if measure in ("overlap", "overlap_coefficient"):
        return sys.maxsize
    raise ValueError(measure)


def prefix_length(num_tokens: int, measure: str, threshold: float, qval: int | None = None) -> int:
    if num_tokens == 0:
        return 0
    if measure == "cosine":
        return int(num_tokens - ceil(threshold * threshold * num_tokens) + 1)
    if measure == "dice":
        return int(num_tokens - ceil((threshold / (2 - threshold)) * num_tokens) + 1)
    if measure == "edit_distance":
        return int(min(qval * int(threshold) + 1, num_tokens))
    if measure == "jaccard":
        return int(num_tokens - ceil(threshold * num_tokens) + 1)
    if measure == "overlap":
        return max(num_tokens - int(threshold) + 1, 0)
    raise ValueError(measure)


def overlap_threshold(l_num: int, r_num: int, measure: str, threshold: float, qval: int | None = None) -> float:
    if measure == "cosine":
        return ceil(round(threshold * sqrt(l_num * r_num), 4))
    if measure == "dice":
        return ceil(round((threshold / 2) * (l_num + r_num), 4))
    if measure == "edit_distance":
        return max(l_num + qval - 1, r_num + qval - 1) - qval + 1 - qval * int(threshold)
    if measure == "jaccard":
        return ceil(round((threshold / (1 + threshold)) * (l_num + r_num), 4))
    if measure == "overlap":
        return threshold
    raise ValueError(measure)


# ---------------------------------------------------------- Column exprs ----


def _r4(c: Column) -> Column:
    return F.round(c, 4)


def size_lower_bound_col(num_tokens: Column, measure: str, threshold: float) -> Column:
    t = float(threshold)
    if measure == "cosine":
        return F.ceil(_r4(F.lit(t * t) * num_tokens))
    if measure == "dice":
        return F.ceil(_r4(F.lit(t / (2 - t)) * num_tokens))
    if measure == "edit_distance":
        return num_tokens - F.lit(int(t))
    if measure == "jaccard":
        return F.ceil(_r4(F.lit(t) * num_tokens))
    if measure == "overlap":
        return F.lit(int(t))
    if measure == "overlap_coefficient":
        return F.lit(1 if t > 0 else 0)
    raise ValueError(measure)


def size_upper_bound_col(num_tokens: Column, measure: str, threshold: float) -> Column:
    t = float(threshold)
    big = F.lit(2**62)
    if measure == "cosine":
        return F.floor(_r4(num_tokens / F.lit(t * t)))
    if measure == "dice":
        return F.floor(_r4(F.lit((2 - t) / t) * num_tokens))
    if measure == "edit_distance":
        return num_tokens + F.lit(int(t))
    if measure == "jaccard":
        return F.floor(_r4(num_tokens / F.lit(t)))
    if measure in ("overlap", "overlap_coefficient"):
        return big
    raise ValueError(measure)


def prefix_length_col(num_tokens: Column, measure: str, threshold: float, qval: int | None = None) -> Column:
    t = float(threshold)
    if measure == "cosine":
        core = num_tokens - F.ceil(F.lit(t * t) * num_tokens) + 1
    elif measure == "dice":
        core = num_tokens - F.ceil(F.lit(t / (2 - t)) * num_tokens) + 1
    elif measure == "edit_distance":
        core = F.least(F.lit(qval * int(t) + 1), num_tokens)
    elif measure == "jaccard":
        core = num_tokens - F.ceil(F.lit(t) * num_tokens) + 1
    elif measure == "overlap":
        core = F.greatest(num_tokens - F.lit(int(t)) + 1, F.lit(0))
    else:
        raise ValueError(measure)
    return F.when(num_tokens == 0, F.lit(0)).otherwise(core).cast("int")


def overlap_threshold_col(l_num: Column, r_num: Column, measure: str, threshold: float, qval: int | None = None) -> Column:
    t = float(threshold)
    if measure == "cosine":
        return F.ceil(_r4(F.lit(t) * F.sqrt((l_num * r_num).cast("double"))))
    if measure == "dice":
        return F.ceil(_r4(F.lit(t / 2) * (l_num + r_num)))
    if measure == "edit_distance":
        return (
            F.greatest(l_num + F.lit(qval - 1), r_num + F.lit(qval - 1))
            - F.lit(qval - 1)
            - F.lit(qval * int(t))
        )
    if measure == "jaccard":
        return F.ceil(_r4(F.lit(t / (1 + t)) * (l_num + r_num)))
    if measure == "overlap":
        return F.lit(t)
    raise ValueError(measure)


def overlap_and_sizes(l_set: str, r_set: str) -> tuple[Column, Column, Column]:
    """``(|l ∩ r|, |l|, |r|)`` as doubles for two duplicate-free array
    columns: ``array_intersect``'s size IS the set overlap."""
    ov = F.size(F.array_intersect(l_set, r_set)).cast("double")
    return ov, F.size(l_set).cast("double"), F.size(r_set).cast("double")


def set_sim_score_col(measure: str, ov: Column, ls: Column, rs: Column) -> Column:
    """The jaccard / cosine / dice score from the overlap ``ov`` and the set
    sizes ``ls``, ``rs`` (double columns): the oracle's IEEE-754 double
    ops, so scores are bit-identical to it. The one score expression of
    every set-sim verifier — the prefix kernels, the delta kernel,
    ``verify_pairs`` and the pipeline's scoring stage."""
    if measure == "jaccard":
        return ov / (ls + rs - ov)
    if measure == "cosine":
        return ov / F.sqrt(ls * rs)
    if measure == "dice":
        return F.lit(2.0) * ov / (ls + rs)
    raise ValueError(f"unsupported set-sim measure: {measure}")


def first_shared_prefix_token() -> Column:
    """True on exactly one token-joined row per candidate pair: the row of
    the pair's first shared token.

    Prefix-filter kernels join one row per shared prefix token, carrying
    ``_l_ranked``/``_r_ranked`` (ascending ranks, or at least their prefix)
    and the token's 0-based positions ``_l_pos``/``_r_pos``. Under one fixed
    token order the pair's minimum-rank shared token lies inside both
    prefixes whenever any shared token does (AllPairs/PPJoin), so keeping
    only its row emits each pair once — no pair distinct. Both slices are
    extended by the token itself, so for bags (edit-distance q-grams) the
    row must also be the token's first occurrence on each side. Size and
    position bounds are largest at this row, so every per-pair filter
    applied before or after keeps or drops the pair as it would on any of
    its rows.
    """
    return F.expr(
        "NOT arrays_overlap(slice(_l_ranked, 1, _l_pos), slice(_r_ranked, 1, _r_pos + 1))"
        " AND NOT arrays_overlap(slice(_l_ranked, 1, _l_pos + 1), slice(_r_ranked, 1, _r_pos))"
    )
