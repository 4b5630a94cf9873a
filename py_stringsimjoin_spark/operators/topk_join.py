"""Top-k set-similarity join: each left record's k best right matches.

The reference engine joins on a global threshold only
(`/root/reference/py_stringsimjoin/join/jaccard_join_py.py:17` — every pair
with sim op t is returned); production blocking frequently wants the
*k nearest neighbors per record* instead, because a global threshold either
floods hot records or starves sparse ones. This operator is the set-sim
counterpart of ``ann.brute_force_topk`` (which serves embeddings): for every
left row, the ``k`` highest-scoring right rows with
``sim >= threshold_floor``.

Semantics:

* scores are exactly the threshold join's (same kernel, same IEEE-754
  arithmetic — ``operators/set_sim_join.py``);
* ties are broken by ascending right key, so results are deterministic and
  reproducible across engines (the driver oracle replays the same rule as
  ``ROW_NUMBER() ... ORDER BY sim DESC, r_id``);
* a self top-k (``ltable is rtable`` on the same key) excludes the trivial
  self pair (l == r) but keeps BOTH directions — (a,b) and (b,a) are
  different questions ("b is among a's best" vs "a is among b's best");
  pass ``exclude_self=False`` for genuinely distinct tables whose key
  spaces merely overlap.

``threshold_floor`` is load-bearing at scale, not a convenience: the
filter-verify kernel prunes with it (prefix/size/position filters), so the
candidate stream stays sub-quadratic exactly as in the threshold join. A
floor of 0 would degenerate to all-pairs — the kernel refuses it. Choose
the floor as "the lowest similarity you would ever accept as a match";
records whose k-th neighbor falls below it return fewer than k rows, which
is the correct answer for blocking (those neighbors were never viable).

Scale shape: threshold join (one salted token-join shuffle) → one
additional hash shuffle on ``_l_key`` for the per-left window. The window
state is at most the matches of one left record per task — skew-safe for
any realistic k because rows beyond rank k are discarded by the running
``row_number`` inside the sort spill. No UDFs, no collection.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions.tokenizers import Tokenizer
from ..plans.output import assemble_output
from ..plans.validation import validate_output_attrs, validate_threshold
from .set_sim_join import set_sim_join_pairs


def topk_set_sim_join_pairs(
    measure: str,
    ltable: DataFrame,
    rtable: DataFrame,
    l_key_attr: str,
    r_key_attr: str,
    l_join_attr: str,
    r_join_attr: str,
    tokenizer: Tokenizer,
    k: int,
    threshold_floor: float,
    exclude_self: bool = True,
    position_filter: bool = True,
    shuffle_partitions: int | None = None,
) -> DataFrame:
    """Core plan → DataFrame(_l_key, _r_key, _sim_score, _rank), _rank ∈ [1, k]."""
    if not isinstance(k, int) or k < 1:
        raise ValueError(f"k must be a positive int, got {k!r}")
    validate_threshold(threshold_floor, measure)

    pairs = set_sim_join_pairs(
        measure,
        ltable,
        rtable,
        l_key_attr,
        r_key_attr,
        l_join_attr,
        r_join_attr,
        tokenizer,
        threshold_floor,
        comp_op=">=",
        # empty×empty pairs all score 1.0 — in a top-k they would displace
        # real neighbors with degenerate ones, and on a corpus with many
        # empty values the cross product explodes; exclude by construction.
        allow_empty=False,
        allow_missing=False,
        position_filter=position_filter,
        shuffle_partitions=shuffle_partitions,
    )
    if exclude_self:
        pairs = pairs.where(F.col("_l_key") != F.col("_r_key"))
    w = Window.partitionBy("_l_key").orderBy(
        F.col("_sim_score").desc(), F.col("_r_key").asc()
    )
    return (
        pairs.withColumn("_rank", F.row_number().over(w))
        .where(F.col("_rank") <= k)
    )


def topk_edit_distance_join(
    ltable: DataFrame,
    rtable: DataFrame,
    l_key_attr: str,
    r_key_attr: str,
    l_join_attr: str,
    r_join_attr: str,
    k: int,
    threshold_ceiling: float,
    exclude_self: bool = True,
    tokenizer=None,
    l_out_attrs=None,
    r_out_attrs=None,
    l_out_prefix: str = "l_",
    r_out_prefix: str = "r_",
    value_dedup: bool | str = "auto",
) -> DataFrame:
    """Each left record's k NEAREST right records by Levenshtein distance.

    Mirror of ``topk_sim_join`` for the edit-distance kernel
    (``operators/edit_distance_join.py`` — q-gram prefix blocking, length
    band, Ed-Join count prune, inline JVM bounded levenshtein): candidates
    at ``distance <= threshold_ceiling``, ranked per left key by ascending
    distance with ties broken by ascending right key. ``threshold_ceiling``
    bounds the candidate stream exactly as the threshold join does — it is
    the largest distance you would ever call a match, and records whose
    k-th neighbor is farther return fewer than k rows.

    Output: ``l_<key>, r_<key> [, out attrs], _sim_score (the distance),
    rank``.
    """
    if not isinstance(k, int) or k < 1:
        raise ValueError(f"k must be a positive int, got {k!r}")
    from .edit_distance_join import edit_distance_join

    out = edit_distance_join(
        ltable,
        rtable,
        l_key_attr,
        r_key_attr,
        l_join_attr,
        r_join_attr,
        threshold_ceiling,
        comp_op="<=",
        l_out_attrs=l_out_attrs,
        r_out_attrs=r_out_attrs,
        l_out_prefix=l_out_prefix,
        r_out_prefix=r_out_prefix,
        out_sim_score=True,
        tokenizer=tokenizer,
        value_dedup=value_dedup,
    )
    lcol = f"{l_out_prefix}{l_key_attr}"
    rcol = f"{r_out_prefix}{r_key_attr}"
    if exclude_self:
        out = out.where(F.col(lcol) != F.col(rcol))
    w = Window.partitionBy(lcol).orderBy(
        F.col("_sim_score").asc(), F.col(rcol).asc()
    )
    return (
        out.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
    )


def topk_sim_join(
    ltable: DataFrame,
    rtable: DataFrame,
    l_key_attr: str,
    r_key_attr: str,
    l_join_attr: str,
    r_join_attr: str,
    tokenizer: Tokenizer,
    k: int,
    threshold_floor: float,
    measure: str = "jaccard",
    exclude_self: bool = True,
    l_out_attrs=None,
    r_out_attrs=None,
    l_out_prefix: str = "l_",
    r_out_prefix: str = "r_",
    out_sim_score: bool = True,
    out_rank: bool = True,
    position_filter: bool = True,
    shuffle_partitions: int | None = None,
) -> DataFrame:
    """Public surface, output-assembled like every other join in the package."""
    validate_output_attrs(l_out_attrs, r_out_attrs, ltable.columns, rtable.columns)
    pairs = topk_set_sim_join_pairs(
        measure,
        ltable,
        rtable,
        l_key_attr,
        r_key_attr,
        l_join_attr,
        r_join_attr,
        tokenizer,
        k,
        threshold_floor,
        exclude_self=exclude_self,
        position_filter=position_filter,
        shuffle_partitions=shuffle_partitions,
    )
    if not out_rank:
        pairs = pairs.drop("_rank")
    out = assemble_output(
        pairs,
        ltable,
        rtable,
        l_key_attr,
        r_key_attr,
        l_out_attrs,
        r_out_attrs,
        l_out_prefix,
        r_out_prefix,
        "_sim_score" if out_sim_score else None,
        extra_cols=["_rank"] if out_rank else None,
    )
    if out_rank:
        out = out.withColumnRenamed("_rank", "rank")
    return out
