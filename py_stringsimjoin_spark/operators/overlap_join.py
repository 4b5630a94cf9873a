"""Overlap and overlap-coefficient joins — pure DataFrame plans, zero UDFs.

Parity: /root/reference/py_stringsimjoin/join/overlap_join_py.py:97-104 (via
OverlapFilter) and join/overlap_coefficient_join_py.py:228-330. Both measures
count exact set overlap, so the whole join is expressible JVM-side:

    tokenize (set) → explode all tokens → hash equi-join on token
    → groupBy pair: count(*) = |∩|  (+ sizes for the coefficient)
    → threshold predicate (HAVING)

No prefix/position filtering is needed for exactness — any qualifying pair
shares ≥1 token (thresholds are > 0), so the token join finds all of them.
``allow_empty`` applies to overlap_coefficient only (sim(∅,∅)=1); the
reference ignores it for OVERLAP (filter/position_filter.py:394-396).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..plans.output import assemble_output
from ..plans.stats import sample_plan_stats, value_hash_col
from ..plans.validation import (
    COMP_OP_FN,
    comp_col,
    validate_attr,
    validate_attr_type,
    validate_comp_op,
    validate_output_attrs,
    validate_threshold,
    validate_tokenizer,
)
from .missing_pairs import missing_pairs
from .set_sim_join import as_set_tokenizer
from ..plans.skew import (
    resolve_salt_parallelism,
    salted_token_join,
    sampled_hot_tokens,
)


def _expand_value_pairs(vpairs, ltable, rtable, l_key_attr, r_key_attr,
                        l_join_attr, r_join_attr, with_score: bool):
    """(_v1, _v2 [, _sim_score]) value pairs → row pairs.

    The expansion joins on the 16-byte md5 content hash of each value, not
    the raw string — fixed-width shuffle keys however long the join attrs
    are (plans/stats.value_hash_col documents the collision bound)."""
    l_map = ltable.where(F.col(l_join_attr).isNotNull()).select(
        F.col(l_key_attr).alias("_l_key"),
        value_hash_col(F.col(l_join_attr)).alias("_hl"),
    )
    r_map = rtable.where(F.col(r_join_attr).isNotNull()).select(
        F.col(r_key_attr).alias("_r_key"),
        value_hash_col(F.col(r_join_attr)).alias("_hr"),
    )
    keyed = vpairs.select(
        value_hash_col(F.col("_v1")).alias("_h1"),
        value_hash_col(F.col("_v2")).alias("_h2"),
        *(["_sim_score"] if with_score else []),
    )
    return (
        keyed.join(l_map, F.col("_h1") == F.col("_hl"))
        .join(r_map, F.col("_h2") == F.col("_hr"))
        .select("_l_key", "_r_key", *(["_sim_score"] if with_score else []))
    )


def _token_pairs(ltable, rtable, l_key_attr, r_key_attr, l_join_attr, r_join_attr, tok, with_sizes: bool):
    """Exploded token equi-join with sampled-frequency hot-token salting.

    The overlap joins explode ALL tokens (exactness needs every shared
    token), so on Zipfian web text the hottest tokens would serialize the
    join into a few quadratic-output tasks — the same failure mode the
    prefix joins salt against (plans/skew.py; AQE cannot split exploding
    joins because their *input* is small).

    Hot-token detection is SAMPLED (round-4; the round-3 full frequency
    aggregation was a second tokenize pass over the whole corpus): a
    ``saltSampleFraction`` row sample (default 1%) of each input is
    tokenized and aggregated, and hotness is decided on the sampled counts.
    The decision rule is scale-invariant — hot ⟺ f² > Σf²/(α·P) and
    S_t = ceil(α·P·f²/Σf²) use only frequency *ratios*, and under uniform
    row sampling both numerator and denominator scale by ~p² (the Zipf head
    dominates Σf², and head tokens are well-represented in any sample) — so
    the salt plan converges to the exact-count plan while tokenizing only
    the sample. Salting is output-invariant: a sampling miss costs balance,
    never correctness. Set the conf to 1.0 for exact counts (one extra
    corpus pass, the old behavior)."""
    l_nn = (
        ltable.select(F.col(l_key_attr).alias("_l_key"), F.col(l_join_attr).alias("_l_str"))
        .where(F.col("_l_str").isNotNull())
        .withColumn("_tokens", tok.spark_col(F.col("_l_str")))
    )
    r_nn = (
        rtable.select(F.col(r_key_attr).alias("_r_key"), F.col(r_join_attr).alias("_r_str"))
        .where(F.col("_r_str").isNotNull())
        .withColumn("_tokens", tok.spark_col(F.col("_r_str")))
    )
    if with_sizes:
        l_nn = l_nn.withColumn("_l_size", F.size("_tokens"))
        r_nn = r_nn.withColumn("_r_size", F.size("_tokens"))
    l_ex = l_nn.select(
        "_l_key", *(["_l_size"] if with_sizes else []), F.explode("_tokens").alias("_tok")
    )
    r_ex = r_nn.select(
        "_r_key", *(["_r_size"] if with_sizes else []), F.explode("_tokens").alias("_tok")
    )
    spark = ltable.sparkSession
    n_shuffle = int(spark.conf.get("spark.sql.shuffle.partitions", "200"))
    n_salts = resolve_salt_parallelism(ltable, n_shuffle)
    hot = sampled_hot_tokens(
        spark, [(ltable, l_join_attr), (rtable, r_join_attr)], tok, n_salts
    )
    joined = salted_token_join(
        l_ex, r_ex, hot, l_salt_key="_l_key",
        pin_partitions=n_shuffle if hot else None,
    )
    return l_nn, r_nn, joined


def overlap_join(
    ltable: DataFrame,
    rtable: DataFrame,
    l_key_attr: str,
    r_key_attr: str,
    l_join_attr: str,
    r_join_attr: str,
    tokenizer,
    threshold: float,
    comp_op: str = ">=",
    allow_missing: bool = False,
    l_out_attrs=None,
    r_out_attrs=None,
    l_out_prefix: str = "l_",
    r_out_prefix: str = "r_",
    out_sim_score: bool = True,
    add_dense_id: bool | None = None,
    value_dedup: bool | str = "auto",
) -> DataFrame:
    """|tok(l) ∩ tok(r)| comp_op threshold (integer overlap count)."""
    for df, a, side in ((ltable, l_key_attr, "left"), (rtable, r_key_attr, "right"),
                        (ltable, l_join_attr, "left"), (rtable, r_join_attr, "right")):
        validate_attr(df, a, side)
    validate_attr_type(ltable, l_join_attr, "left")
    validate_attr_type(rtable, r_join_attr, "right")
    validate_tokenizer(tokenizer)
    validate_threshold(threshold, "overlap")
    validate_comp_op(comp_op, (">=", ">", "="))
    validate_output_attrs(l_out_attrs, r_out_attrs, ltable.columns, rtable.columns)
    tok = as_set_tokenizer(tokenizer)

    is_self = ltable is rtable and l_key_attr == r_key_attr and l_join_attr == r_join_attr
    if value_dedup == "auto":
        st = sample_plan_stats(
            [(ltable, l_join_attr)] + ([] if is_self else [(rtable, r_join_attr)])
        )
        value_dedup = st["n"] > 0 and st["nd"] / st["n"] < 0.6
    if value_dedup:
        lv = ltable.select(F.col(l_join_attr).alias("_v")).where(
            F.col("_v").isNotNull()).distinct()
        rv = lv if is_self else rtable.select(F.col(r_join_attr).alias("_v")).where(
            F.col("_v").isNotNull()).distinct()
        vout = overlap_join(
            lv, rv, "_v", "_v", "_v", "_v", tokenizer, threshold, comp_op,
            allow_missing=False, out_sim_score=True, value_dedup=False,
        ).select(
            F.col("l__v").alias("_v1"), F.col("r__v").alias("_v2"), "_sim_score"
        )
        pairs = _expand_value_pairs(
            vout, ltable, rtable, l_key_attr, r_key_attr,
            l_join_attr, r_join_attr, with_score=True,
        )
    else:
        _, _, joined = _token_pairs(
            ltable, rtable, l_key_attr, r_key_attr, l_join_attr, r_join_attr, tok, False
        )
        pairs = (
            joined.groupBy("_l_key", "_r_key")
            .agg(F.count("*").cast("double").alias("_sim_score"))
            .where(comp_col(comp_op, F.col("_sim_score"), float(threshold)))
        )
    if allow_missing:
        pairs = pairs.unionByName(
            missing_pairs(ltable, rtable, l_key_attr, r_key_attr, l_join_attr, r_join_attr)
        )
    return assemble_output(
        pairs, ltable, rtable, l_key_attr, r_key_attr, l_out_attrs, r_out_attrs,
        l_out_prefix, r_out_prefix, "_sim_score" if out_sim_score else None, add_dense_id,
    )


def overlap_coefficient_join(
    ltable: DataFrame,
    rtable: DataFrame,
    l_key_attr: str,
    r_key_attr: str,
    l_join_attr: str,
    r_join_attr: str,
    tokenizer,
    threshold: float,
    comp_op: str = ">=",
    allow_empty: bool = True,
    allow_missing: bool = False,
    l_out_attrs=None,
    r_out_attrs=None,
    l_out_prefix: str = "l_",
    r_out_prefix: str = "r_",
    out_sim_score: bool = True,
    add_dense_id: bool | None = None,
    value_dedup: bool | str = "auto",
) -> DataFrame:
    """|∩| / min(|X|, |Y|) comp_op threshold
    (overlap_coefficient_join_py.py:300-303)."""
    for df, a, side in ((ltable, l_key_attr, "left"), (rtable, r_key_attr, "right"),
                        (ltable, l_join_attr, "left"), (rtable, r_join_attr, "right")):
        validate_attr(df, a, side)
    validate_attr_type(ltable, l_join_attr, "left")
    validate_attr_type(rtable, r_join_attr, "right")
    validate_tokenizer(tokenizer)
    validate_threshold(threshold, "overlap_coefficient")
    validate_comp_op(comp_op, (">=", ">", "="))
    validate_output_attrs(l_out_attrs, r_out_attrs, ltable.columns, rtable.columns)
    tok = as_set_tokenizer(tokenizer)

    is_self = ltable is rtable and l_key_attr == r_key_attr and l_join_attr == r_join_attr
    if value_dedup == "auto":
        st = sample_plan_stats(
            [(ltable, l_join_attr)] + ([] if is_self else [(rtable, r_join_attr)])
        )
        value_dedup = st["n"] > 0 and st["nd"] / st["n"] < 0.6
    if value_dedup:
        lv = ltable.select(F.col(l_join_attr).alias("_v")).where(
            F.col("_v").isNotNull()).distinct()
        rv = lv if is_self else rtable.select(F.col(r_join_attr).alias("_v")).where(
            F.col("_v").isNotNull()).distinct()
        vout = overlap_coefficient_join(
            lv, rv, "_v", "_v", "_v", "_v", tokenizer, threshold, comp_op,
            allow_empty=allow_empty, allow_missing=False, out_sim_score=True,
            value_dedup=False,
        ).select(
            F.col("l__v").alias("_v1"), F.col("r__v").alias("_v2"), "_sim_score"
        )
        pairs = _expand_value_pairs(
            vout, ltable, rtable, l_key_attr, r_key_attr,
            l_join_attr, r_join_attr, with_score=True,
        )
        if allow_missing:
            pairs = pairs.unionByName(
                missing_pairs(ltable, rtable, l_key_attr, r_key_attr, l_join_attr, r_join_attr)
            )
        return assemble_output(
            pairs, ltable, rtable, l_key_attr, r_key_attr, l_out_attrs, r_out_attrs,
            l_out_prefix, r_out_prefix, "_sim_score" if out_sim_score else None, add_dense_id,
        )

    l_nn, r_nn, joined = _token_pairs(
        ltable, rtable, l_key_attr, r_key_attr, l_join_attr, r_join_attr, tok, True
    )
    pairs = (
        joined.groupBy("_l_key", "_r_key")
        .agg(
            F.count("*").alias("_ov"),
            F.first("_l_size").alias("_ls"),
            F.first("_r_size").alias("_rs"),
        )
        .withColumn(
            "_sim_score",
            F.col("_ov").cast("double") / F.least("_ls", "_rs").cast("double"),
        )
        .where(comp_col(comp_op, F.col("_sim_score"), float(threshold)))
        .select("_l_key", "_r_key", "_sim_score")
    )
    if allow_empty and COMP_OP_FN[comp_op](1.0, threshold):
        l_empty = l_nn.where(F.size("_tokens") == 0).select("_l_key")
        r_empty = r_nn.where(F.size("_tokens") == 0).select("_r_key")
        pairs = pairs.unionByName(
            l_empty.crossJoin(r_empty).withColumn("_sim_score", F.lit(1.0))
        )
    if allow_missing:
        pairs = pairs.unionByName(
            missing_pairs(ltable, rtable, l_key_attr, r_key_attr, l_join_attr, r_join_attr)
        )
    return assemble_output(
        pairs, ltable, rtable, l_key_attr, r_key_attr, l_out_attrs, r_out_attrs,
        l_out_prefix, r_out_prefix, "_sim_score" if out_sim_score else None, add_dense_id,
    )
