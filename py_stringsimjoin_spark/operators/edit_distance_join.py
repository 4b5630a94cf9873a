"""Edit-distance join: q-gram prefix blocking + JVM bounded-Levenshtein verify.

Parity: /root/reference/py_stringsimjoin/join/edit_distance_join_py.py:238-336
(prefix index :270-274, length filter :300, DP verify :304). Same documented
approximation (edit_distance_join_py.py:45-56): pairs sharing **zero q-grams**
are missed — i.e. the result is exactly
``{(l, r): lev(l, r) comp_op t  AND  qgrams(l) ∩ qgrams(r) ≠ ∅}``.

Plan: bag q-gram tokenize → global ordering → ranked arrays (multiplicity
kept) → explode first min(q·t+1, n) ranked tokens on both sides, join-attr
string and prefix array riding along → equi-join on token rank →
char-length band |len(l)−len(r)| ≤ t → positional α-count prune → the
pair's first shared q-gram (its first occurrence on both sides) only →
**inline JVM threshold-bounded ``levenshtein(l, r, t)``** verify
(whole-stage codegen, banded O(len·t) with early exit; returns −1 above t),
once per pair. No pair aggregate follows the token join: round-3 measurement
showed the old distinct-then-rejoin plan spent >90% of its wall shuffling
172M raw candidate rows (spill-bound). The round-2
mapInPandas numpy DP verify is gone entirely (it was the engine's last
Python stage on a join hot path and anti-scaled at high parallelism;
SCALING.json r2). The disk variant J7 (disk_edit_distance_join) is subsumed
by shuffle spill + ``df.write`` sinks.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.tokenizers import QgramTokenizer
from ..plans import filter_math as fm
from ..plans.output import assemble_output
from ..plans.stats import sample_plan_stats, value_hash_col
from ..plans.validation import (
    validate_attr,
    validate_attr_type,
    validate_comp_op,
    validate_output_attrs,
    validate_threshold,
    validate_tokenizer_for_edit_distance,
)
from .missing_pairs import missing_pairs
from .token_ordering import add_ranked_tokens, build_token_ordering
from ..plans.cache import tracked_cache as _tc
from ..plans.skew import (
    SALT_PROBE_MIN_ROWS,
    exploded_hot_token_ranks,
    resolve_salt_parallelism,
    salted_token_join,
)
import copy


def _as_bag(tokenizer: QgramTokenizer) -> QgramTokenizer:
    # edit-distance joins force bag semantics (edit_distance_join_py.py:163-167)
    if not tokenizer.return_set:
        return tokenizer
    t = copy.copy(tokenizer)
    t.return_set = False
    return t


def edit_distance_join(
    ltable: DataFrame,
    rtable: DataFrame,
    l_key_attr: str,
    r_key_attr: str,
    l_join_attr: str,
    r_join_attr: str,
    threshold: float,
    comp_op: str = "<=",
    allow_missing: bool = False,
    l_out_attrs=None,
    r_out_attrs=None,
    l_out_prefix: str = "l_",
    r_out_prefix: str = "r_",
    out_sim_score: bool = True,
    tokenizer: QgramTokenizer | None = None,
    add_dense_id: bool | None = None,
    value_dedup: bool | str = "auto",
    _join_rows_hint: int | None = None,
) -> DataFrame:
    """lev(l_join_attr, r_join_attr) comp_op threshold (int).

    ``value_dedup`` — see set_sim_join_pairs: on dup-heavy join attrs
    (distinct/total < 0.6, one approx stats job) the Levenshtein join runs
    over distinct VALUES and expands back to rows by equality joins —
    identical output, verify work shrinks by the duplication factor squared.
    """
    if tokenizer is None:
        tokenizer = QgramTokenizer(qval=2)
    for df, a, side in ((ltable, l_key_attr, "left"), (rtable, r_key_attr, "right"),
                        (ltable, l_join_attr, "left"), (rtable, r_join_attr, "right")):
        validate_attr(df, a, side)
    validate_attr_type(ltable, l_join_attr, "left")
    validate_attr_type(rtable, r_join_attr, "right")
    validate_tokenizer_for_edit_distance(tokenizer)
    validate_threshold(threshold, "edit_distance")
    validate_comp_op(comp_op, ("<=", "<", "="))
    validate_output_attrs(l_out_attrs, r_out_attrs, ltable.columns, rtable.columns)
    t_int = int(threshold)  # floored like edit_distance_join_py.py:160-161
    tok = _as_bag(tokenizer)
    q = tok.qval

    is_self = ltable is rtable and l_key_attr == r_key_attr and l_join_attr == r_join_attr
    nd_est = None
    if value_dedup == "auto":
        sides = [(ltable, l_join_attr)]
        if not is_self:
            sides.append((rtable, r_join_attr))
        st = sample_plan_stats(sides)  # ONE stats job (plans/stats.py)
        nd_est = st["nd"]
        value_dedup = st["n"] > 0 and nd_est / st["n"] < 0.6
    if value_dedup:
        lv = ltable.select(F.col(l_join_attr).alias("_v")).where(
            F.col("_v").isNotNull()
        ).distinct()
        rv = lv if is_self else rtable.select(F.col(r_join_attr).alias("_v")).where(
            F.col("_v").isNotNull()
        ).distinct()
        # expand value pairs back to row pairs keyed on the 16-byte content
        # hash, NOT the raw string — the expansion shuffle carries fixed-width
        # keys instead of whole join-attr texts (plans/stats.value_hash_col)
        vout = edit_distance_join(
            lv, rv, "_v", "_v", "_v", "_v", threshold, comp_op,
            allow_missing=False, out_sim_score=True, tokenizer=tokenizer,
            value_dedup=False, _join_rows_hint=nd_est,
        ).select(
            value_hash_col(F.col("l__v")).alias("_h1"),
            value_hash_col(F.col("r__v")).alias("_h2"),
            "_sim_score",
        # materialized for the same reason as set_sim_join_pairs' value
        # pairs: otherwise levenshtein runs once per expanded row
        ).repartition("_h1")
        l_map = ltable.where(F.col(l_join_attr).isNotNull()).select(
            F.col(l_key_attr).alias("_l_key"),
            value_hash_col(F.col(l_join_attr)).alias("_hl"),
        )
        r_map = rtable.where(F.col(r_join_attr).isNotNull()).select(
            F.col(r_key_attr).alias("_r_key"),
            value_hash_col(F.col(r_join_attr)).alias("_hr"),
        )
        pairs = (
            vout.join(l_map, F.col("_h1") == F.col("_hl"))
            .join(r_map, F.col("_h2") == F.col("_hr"))
            .select("_l_key", "_r_key", "_sim_score")
        )
        if allow_missing:
            pairs = pairs.unionByName(
                missing_pairs(ltable, rtable, l_key_attr, r_key_attr, l_join_attr, r_join_attr)
            )
        return assemble_output(
            pairs, ltable, rtable, l_key_attr, r_key_attr, l_out_attrs, r_out_attrs,
            l_out_prefix, r_out_prefix, "_sim_score" if out_sim_score else None,
            add_dense_id,
        )

    from ..plans.layout import widen_small_scan

    l_nn = widen_small_scan(
        ltable.select(F.col(l_key_attr).alias("_l_key"), F.col(l_join_attr).alias("_l_str"))
        .where(F.col("_l_str").isNotNull())
    ).withColumn("_tokens", tok.spark_col(F.col("_l_str")))
    if is_self:
        # tokenize/order/rank once; alias for the right side (see set_sim_join)
        ordering = build_token_ordering([(l_nn, "_tokens")]).persist().transform(_tc)
        l_rk = add_ranked_tokens(l_nn, ["_l_key"], "_tokens", ordering, "_ranked", "_size").select(
            "_l_key", "_l_str", F.length("_l_str").alias("_l_len"), "_ranked", "_size"
        ).persist().transform(_tc)
        r_rk = l_rk.select(
            F.col("_l_key").alias("_r_key"),
            F.col("_l_str").alias("_r_str"),
            F.col("_l_len").alias("_r_len"),
            "_ranked",
            "_size",
        )
    else:
        r_nn = widen_small_scan(
            rtable.select(F.col(r_key_attr).alias("_r_key"), F.col(r_join_attr).alias("_r_str"))
            .where(F.col("_r_str").isNotNull())
        ).withColumn("_tokens", tok.spark_col(F.col("_r_str")))
        ordering = build_token_ordering([(l_nn, "_tokens"), (r_nn, "_tokens")]).persist().transform(_tc)
        l_rk = add_ranked_tokens(l_nn, ["_l_key"], "_tokens", ordering, "_ranked", "_size").select(
            "_l_key", "_l_str", F.length("_l_str").alias("_l_len"), "_ranked", "_size"
        ).persist().transform(_tc)
        r_rk = add_ranked_tokens(r_nn, ["_r_key"], "_tokens", ordering, "_ranked", "_size").select(
            "_r_key", "_r_str", F.length("_r_str").alias("_r_len"), "_ranked", "_size"
        ).persist().transform(_tc)

    # The join-attr STRING and the prefix array ride through the prefix
    # explode so the first-shared-q-gram test and the verify run inline in
    # the join stage, and no pair aggregate follows the token join (measured
    # at sf0.1 local[32]: a `distinct()` on the raw join output, 172M rows →
    # 60M candidate pairs, plus TWO re-join shuffles to fetch the strings
    # back was >90% of the query wall and stopped scaling). The exchanges
    # that carry strings are the pre-join exploded prefixes (|prefix| =
    # q·t+1 ≈ 5 rows per string, each with ≤ q·t+1 ranks — edit-distance
    # join attrs are short title/name-class strings by construction, so
    # this is thin).
    def prefix_explode(rk, side):
        return (
            rk.withColumn("_pfx", fm.prefix_length_col(F.col("_size"), "edit_distance", t_int, q))
            .withColumn(f"_{side}_ranked", F.expr("slice(_ranked, 1, _pfx)"))
            .select(
                f"_{side}_key", f"_{side}_str", f"_{side}_len",
                F.col("_size").alias(f"_{side}_size"), f"_{side}_ranked",
                F.posexplode(f"_{side}_ranked").alias(f"_{side}_pos", "_tok"),
            )
        )

    pl, pr = prefix_explode(l_rk, "l"), prefix_explode(r_rk, "r")
    # positional q-gram count prune (Ed-Join count filtering; bound α =
    # max(n1,n2) − q·t from reference filter_utils.py:90-93): a true pair's
    # bag overlap is ≥ α, and at the min-rank shared token's first-occurrence
    # row (lp, rp) the total overlap is ≤ min(n_l − lp, n_r − rp) — so "the
    # min-rank row passes ub ≥ α" ⟺ "some row passes", and that row is the
    # one the first-shared-token test keeps: filtering ALL rows before the
    # verify never drops a true pair. Pure JVM arithmetic
    # inside whole-stage codegen; shrinks the verify input drastically for
    # long strings (α grows with length, prefix stays q·t+1).
    ub = F.lit(1) + F.least(
        F.col("_l_size") - F.col("_l_pos") - 1,
        F.col("_r_size") - F.col("_r_pos") - 1,
    )
    alpha = fm.overlap_threshold_col(
        F.col("_l_size"), F.col("_r_size"), "edit_distance", t_int, q
    )
    n_shuffle = int(ltable.sparkSession.conf.get("spark.sql.shuffle.partitions", "200"))
    n_salts = resolve_salt_parallelism(ltable, n_shuffle)
    # Tiny-join gate (same policy as set_sim_join_pairs): when the caller
    # proves the join input small (the value-dedup recursion passes the
    # distinct-value count), skip the hot-token probe job and the exchange
    # pinning — below this row count the worst-case unbalanced join is
    # sub-second while the probe + pinned exchanges dominate.
    tiny_join = (
        _join_rows_hint is not None and 0 < _join_rows_hint < SALT_PROBE_MIN_ROWS
    )
    pin_n = None if tiny_join else n_shuffle
    if tiny_join:
        hot = {}
    else:
        # hotness measured on the PREFIX stream this join actually explodes,
        # not the global vocabulary (plans/skew.exploded_hot_token_ranks:
        # prefixes keep each record's rarest q-grams, so the global f² rule
        # misses the buckets that carry the join's quadratic output)
        probe = l_rk.withColumn(
            "_pfx", fm.prefix_length_col(F.col("_size"), "edit_distance", t_int, q)
        ).select(F.explode(F.expr("slice(_ranked, 1, _pfx)")).alias("_tok"))
        if not is_self:
            probe = probe.unionByName(
                r_rk.withColumn(
                    "_pfx",
                    fm.prefix_length_col(F.col("_size"), "edit_distance", t_int, q),
                ).select(F.explode(F.expr("slice(_ranked, 1, _pfx)")).alias("_tok"))
            )
        hot = exploded_hot_token_ranks(probe, n_salts)
    # exact verify in pure JVM, inline in the join stage: Spark's built-in
    # threshold-bounded levenshtein(l, r, t) runs banded O(len·t) with early
    # exit inside whole-stage codegen and returns −1 when the distance
    # exceeds t. The whole join is UDF-free end to end — no Arrow transfer,
    # no Python workers (the round-2 mapInPandas DP anti-scaled at 32
    # concurrent workers).
    dd = F.col("_d")
    if comp_op == "<=":
        keep = dd >= 0
    elif comp_op == "<":
        keep = (dd >= 0) & (dd < t_int)
    else:  # "="
        keep = dd == t_int
    verified = (
        salted_token_join(pl, pr, hot, pin_partitions=pin_n)
        .where(F.abs(F.col("_l_len") - F.col("_r_len")) <= t_int)
        .where(ub >= alpha)
        # one row per pair: the verify runs once per pair, no distinct follows
        .where(fm.first_shared_prefix_token())
        .withColumn("_d", F.levenshtein(F.col("_l_str"), F.col("_r_str"), t_int))
        .where(keep)
        .withColumn("_sim_score", dd.cast("double"))
    )
    pairs = verified.select("_l_key", "_r_key", "_sim_score")

    if allow_missing:
        pairs = pairs.unionByName(
            missing_pairs(ltable, rtable, l_key_attr, r_key_attr, l_join_attr, r_join_attr)
        )
    return assemble_output(
        pairs, ltable, rtable, l_key_attr, r_key_attr, l_out_attrs, r_out_attrs,
        l_out_prefix, r_out_prefix, "_sim_score" if out_sim_score else None, add_dense_id,
    )


def disk_edit_distance_join(
    ltable: DataFrame,
    rtable: DataFrame,
    l_key_attr: str,
    r_key_attr: str,
    l_join_attr: str,
    r_join_attr: str,
    threshold: float,
    output_file_path: str,
    comp_op: str = "<=",
    output_format: str = "parquet",
    **kwargs,
) -> bool:
    """Bounded-memory edit-distance join straight to a sink.

    Parity with the reference's J7 disk join
    (/root/reference/py_stringsimjoin/join/disk_edit_distance_join.py:12):
    there it exists because the in-memory engine can't hold the output; on
    Spark the shuffle already spills, so this is the same plan ending in a
    distributed ``df.write`` instead of a return — the ``data_limit`` /
    ``temp_dir`` machinery is subsumed by the engine. Returns True like the
    reference."""
    out = edit_distance_join(
        ltable, rtable, l_key_attr, r_key_attr, l_join_attr, r_join_attr,
        threshold, comp_op=comp_op, **kwargs,
    )
    writer = out.write.mode("overwrite")
    if output_format == "csv":
        writer.option("header", "true").csv(output_file_path)
    else:
        writer.parquet(output_file_path)
    return True
