"""Containment join — |tok(l) ∩ tok(r)| / |tok(l)| comp_op threshold.

Beyond-reference operator (py_stringsimjoin has no asymmetric set measure;
the kernel composition mirrors its filter-verify design,
py_stringsimjoin/join/set_sim_join.py:16-139): containment
is the standard web-corpus "document A is (mostly) quoted inside B" measure
— with a q-gram/shingle tokenizer it detects near-containment of one page's
text in another regardless of how much *extra* content the right side has,
which Jaccard structurally cannot (the union denominator dilutes it).

Physical plan — the asymmetry is the interesting part:

    tokenize (set) → global token ordering → ranked int arrays
    → LEFT side:  prefix posexplode, ℓ(n) = n − ⌈t·n⌉ + 1 rarest tokens
    → RIGHT side: FULL posexplode (no sound prefix exists: the required
      overlap o = ⌈t·|l|⌉ depends on the *partner's* size, and |l| can be 1,
      so the right prefix bound degenerates to the whole set)
    → hash equi-join on token rank (hot tokens salted on the join's own
      exploded stream, plans/skew.exploded_hot_token_ranks)
    → size bound:      |r| ≥ ⌈t·|l|⌉            (|∩| ≤ |r|)
    → position bound:  1 + min(|l|−lp−1, |r|−rp−1) ≥ ⌈t·|l|⌉  per joined row
    → first-shared-token row only (plans/filter_math.first_shared_prefix_token)
    → inline JVM array_intersect exact verify, score = |∩| / |l|  (zero UDF)

Soundness of the left prefix: a qualifying pair shares o = ⌈t·|l|⌉ tokens;
only o−1 left tokens sit outside the ℓ = |l|−o+1 prefix, so at least one
shared token is inside it, and the unfiltered right side guarantees the
join sees that token. The pair's minimum-rank shared token is then inside
the left prefix too, so keeping only its row emits each pair once.

Scale shape: one large shuffle (the token join). The right side exploding
fully costs Σ|r| join-input rows — same as the overlap/OC joins; the left
prefix cuts the probe side by ~t. The ranked arrays ride through the
explode so the first-shared-token test and the verify run inline in the
join stage; no pair aggregate follows the join.

``allow_empty`` mirrors overlap_coefficient's semantics: only (∅,∅) pairs
score 1.0 (containment of ∅ is vacuous; emitting ∅-in-everything rows would
be output quadratic in the empty count for no information — documented
choice). ``exclude_self_pairs`` drops _l_key == _r_key rows for self-join
clustering use (containment is asymmetric, so both (a,b) and (b,a) orders
are kept — callers wanting undirected pairs filter _l_key < _r_key).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..plans import filter_math as fm
from ..plans.cache import tracked_cache as _tc
from ..plans.output import assemble_output
from ..plans.validation import (
    COMP_OP_FN,
    comp_col,
    validate_attr,
    validate_attr_type,
    validate_comp_op,
    validate_output_attrs,
    validate_tokenizer,
)
from .missing_pairs import missing_pairs
from .set_sim_join import as_set_tokenizer
from .token_ordering import add_ranked_tokens, build_token_ordering
from ..plans.skew import (
    exploded_hot_token_ranks,
    resolve_salt_parallelism,
    salted_token_join,
)


def _ov_needed_col(l_size: Column, threshold: float) -> Column:
    """Required overlap ⌈t·|l|⌉ (round-4-digit FP-noise dodge, same
    convention as plans/filter_math size bounds)."""
    return F.ceil(F.round(F.lit(float(threshold)) * l_size, 4))


def _prefix_len_col(l_size: Column, threshold: float) -> Column:
    """ℓ(n) = n − ⌈t·n⌉ + 1 (0 for empty sets).

    ⌈t·n⌉ uses the same round-4-digit FP dodge as ``_ov_needed_col``
    (round-5 advisor finding): with the raw product, upward FP noise at an
    integer (e.g. t=0.7, n=10 → ceil(7.000000000000001)=8) shortens the
    prefix by one token relative to the rounded required-overlap bound the
    size/position filters and verify use, silently dropping a pair whose
    shared tokens all rank outside the shortened prefix. Both bounds now
    derive from the identical rounded product."""
    core = l_size - F.ceil(F.round(F.lit(float(threshold)) * l_size, 4)) + 1
    return F.when(l_size == 0, F.lit(0)).otherwise(core).cast("int")


def containment_join_pairs(
    ltable: DataFrame,
    rtable: DataFrame,
    l_key_attr: str,
    r_key_attr: str,
    l_join_attr: str,
    r_join_attr: str,
    tokenizer,
    threshold: float,
    comp_op: str = ">=",
    allow_empty: bool = False,
    allow_missing: bool = False,
    position_filter: bool = True,
    exclude_self_pairs: bool = False,
    shuffle_partitions: int | None = None,
) -> DataFrame:
    """Core kernel → DataFrame(_l_key, _r_key, _sim_score)."""
    validate_attr(ltable, l_key_attr, "left")
    validate_attr(rtable, r_key_attr, "right")
    validate_attr(ltable, l_join_attr, "left")
    validate_attr(rtable, r_join_attr, "right")
    validate_attr_type(ltable, l_join_attr, "left")
    validate_attr_type(rtable, r_join_attr, "right")
    validate_tokenizer(tokenizer)
    if not (0 < threshold <= 1):
        raise AssertionError("threshold for containment must be in (0, 1]")
    validate_comp_op(comp_op, (">=", ">", "="))
    tok = as_set_tokenizer(tokenizer)

    l_proj = ltable.select(
        F.col(l_key_attr).alias("_l_key"), F.col(l_join_attr).alias("_l_str")
    )
    r_proj = rtable.select(
        F.col(r_key_attr).alias("_r_key"), F.col(r_join_attr).alias("_r_str")
    )
    from ..plans.layout import widen_small_scan

    l_nn = widen_small_scan(l_proj.where(F.col("_l_str").isNotNull())).withColumn(
        "_tokens", tok.spark_col(F.col("_l_str"))
    )
    is_self = (
        ltable is rtable and l_key_attr == r_key_attr and l_join_attr == r_join_attr
    )
    if is_self:
        ordering = build_token_ordering([(l_nn, "_tokens")]).persist().transform(_tc)
        l_rk = (
            add_ranked_tokens(l_nn, ["_l_key"], "_tokens", ordering, "_l_ranked", "_l_size")
            .select("_l_key", "_l_ranked", "_l_size")
            .persist()
            .transform(_tc)
        )
        r_rk = l_rk.select(
            F.col("_l_key").alias("_r_key"),
            F.col("_l_ranked").alias("_r_ranked"),
            F.col("_l_size").alias("_r_size"),
        )
    else:
        r_nn = widen_small_scan(r_proj.where(F.col("_r_str").isNotNull())).withColumn(
            "_tokens", tok.spark_col(F.col("_r_str"))
        )
        ordering = (
            build_token_ordering([(l_nn, "_tokens"), (r_nn, "_tokens")])
            .persist()
            .transform(_tc)
        )
        l_rk = (
            add_ranked_tokens(l_nn, ["_l_key"], "_tokens", ordering, "_l_ranked", "_l_size")
            .select("_l_key", "_l_ranked", "_l_size")
            .persist()
            .transform(_tc)
        )
        r_rk = (
            add_ranked_tokens(r_nn, ["_r_key"], "_tokens", ordering, "_r_ranked", "_r_size")
            .select("_r_key", "_r_ranked", "_r_size")
            .persist()
            .transform(_tc)
        )

    pl = l_rk.withColumn("_pfx", _prefix_len_col(F.col("_l_size"), threshold)).select(
        "_l_key",
        "_l_size",
        "_l_ranked",
        F.posexplode(F.expr("slice(_l_ranked, 1, _pfx)")).alias("_l_pos", "_tok"),
    )
    pr = r_rk.select(
        "_r_key",
        "_r_size",
        "_r_ranked",
        F.posexplode("_r_ranked").alias("_r_pos", "_tok"),
    )

    spark = ltable.sparkSession
    n_shuffle = shuffle_partitions or int(
        spark.conf.get("spark.sql.shuffle.partitions", "200")
    )
    n_salts = resolve_salt_parallelism(ltable, n_shuffle)
    # hotness measured on the join's own exploded streams (the left prefix
    # keeps rare tokens; the right full stream matches the global ordering,
    # but the union is what actually meets in the join)
    probe = pl.select("_tok").unionByName(pr.select("_tok"))
    hot = exploded_hot_token_ranks(probe, n_salts)

    joined = salted_token_join(
        pl, pr, hot, pin_partitions=n_shuffle
    ).where(F.col("_r_size") >= _ov_needed_col(F.col("_l_size"), threshold))
    if exclude_self_pairs:
        joined = joined.where(F.col("_l_key") != F.col("_r_key"))
    if position_filter:
        # per joined row: overlap ≤ 1 + min(tokens after lp, tokens after rp);
        # the pair's min-rank shared token attains the max of this bound, so
        # its row survives whenever any row of the pair does (same lemma as
        # the symmetric kernel's position filter).
        ub = F.lit(1) + F.least(
            F.col("_l_size") - F.col("_l_pos") - 1,
            F.col("_r_size") - F.col("_r_pos") - 1,
        )
        joined = joined.where(ub >= _ov_needed_col(F.col("_l_size"), threshold))

    # one row per pair: the verify runs once per pair
    joined = joined.where(fm.first_shared_prefix_token())
    ov, ls, _ = fm.overlap_and_sizes("_l_ranked", "_r_ranked")
    pairs = (
        joined.withColumn("_sim_score", ov / ls)
        .where(comp_col(comp_op, F.col("_sim_score"), float(threshold)))
        .select("_l_key", "_r_key", "_sim_score")
    )

    if allow_empty and COMP_OP_FN[comp_op](1.0, threshold):
        l_empty = l_rk.where(F.col("_l_size") == 0).select("_l_key")
        r_empty = r_rk.where(F.col("_r_size") == 0).select("_r_key")
        empties = l_empty.crossJoin(r_empty)
        if exclude_self_pairs:
            empties = empties.where(F.col("_l_key") != F.col("_r_key"))
        pairs = pairs.unionByName(
            empties.withColumn("_sim_score", F.lit(1.0).cast("double"))
        )
    if allow_missing:
        pairs = pairs.unionByName(
            missing_pairs(
                ltable, rtable, l_key_attr, r_key_attr, l_join_attr, r_join_attr
            )
        )
    return pairs


def containment_join(
    ltable: DataFrame,
    rtable: DataFrame,
    l_key_attr: str,
    r_key_attr: str,
    l_join_attr: str,
    r_join_attr: str,
    tokenizer,
    threshold: float,
    comp_op: str = ">=",
    allow_empty: bool = False,
    allow_missing: bool = False,
    l_out_attrs=None,
    r_out_attrs=None,
    l_out_prefix: str = "l_",
    r_out_prefix: str = "r_",
    out_sim_score: bool = True,
    add_dense_id: bool | None = None,
    exclude_self_pairs: bool = False,
) -> DataFrame:
    """Public surface: |tok(l) ∩ tok(r)| / |tok(l)| comp_op threshold with
    the engine's standard output assembly (key/out-attr projection,
    prefixes, optional dense _id)."""
    validate_output_attrs(l_out_attrs, r_out_attrs, ltable.columns, rtable.columns)
    pairs = containment_join_pairs(
        ltable, rtable, l_key_attr, r_key_attr, l_join_attr, r_join_attr,
        tokenizer, threshold, comp_op, allow_empty, allow_missing,
        exclude_self_pairs=exclude_self_pairs,
    )
    return assemble_output(
        pairs, ltable, rtable, l_key_attr, r_key_attr, l_out_attrs, r_out_attrs,
        l_out_prefix, r_out_prefix, "_sim_score" if out_sim_score else None,
        add_dense_id,
    )
