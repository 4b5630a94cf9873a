"""Blocking filters: Overlap, Size, Prefix, Position (+ Suffix refinement).

Parity with /root/reference/py_stringsimjoin/filter/*.py. Each filter offers
the reference's three modes:

* ``filter_pair(l, r)``        — Python scalar truth test (unit-test parity)
* ``filter_tables(l_df, r_df)``— candidate-pair DataFrame (the blocking op)
* ``filter_candset(candset)``  — re-filter an existing pair table

``filter_tables`` returns pairs that *survive* the filter (a superset of the
true matches — the candidate-superset guarantee); output layout matches the
reference (filter/filter.py:17-137): l/r key columns plus optional prefixed
out-attrs, no ``_sim_score``.

Spark shapes: OverlapFilter = explode + equi-join + groupBy-count-HAVING;
SizeFilter = token-count predicate join; PrefixFilter = ranked-prefix explode
+ equi-join + distinct; PositionFilter = PrefixFilter plus the min-rank
positional overlap upper bound (all JVM-side column arithmetic, no UDFs).
SuffixFilter's table mode is re-planned: the reference's O(n·m) nested loop
(filter/suffix_filter.py:427-531) becomes a size-class grid + JVM short-
circuit + Arrow-batched suffix refinement (see SuffixFilter._pairs) with the
same output set.
"""

from __future__ import annotations



from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.tokenizers import Tokenizer
from ..plans import filter_math as fm
from ..plans.output import assemble_output
from ..plans.validation import (
    COMP_OP_FN,
    comp_col,
    validate_attr,
    validate_attr_type,
    validate_comp_op,
    validate_threshold,
    validate_tokenizer,
)
from .missing_pairs import missing_pairs
from .set_sim_join import as_set_tokenizer
from .token_ordering import add_ranked_tokens, build_token_ordering
from ..plans.cache import tracked_cache as _tc

_MEASURE_ALIAS = {
    "JACCARD": "jaccard",
    "COSINE": "cosine",
    "DICE": "dice",
    "OVERLAP": "overlap",
    "EDIT_DISTANCE": "edit_distance",
}


def _norm_measure(m: str) -> str:
    return _MEASURE_ALIAS.get(m, m)


class _BaseFilter:
    tokenizer: Tokenizer
    allow_missing: bool

    # -- scalar mode -------------------------------------------------------
    def filter_pair(self, l_val, r_val) -> bool:
        """True = the pair is FILTERED OUT (dropped), mirroring the reference
        convention (filter/overlap_filter.py:66)."""
        raise NotImplementedError

    # -- table mode --------------------------------------------------------
    def _pairs(self, ltable, rtable, l_key, r_key, l_join, r_join) -> DataFrame:
        raise NotImplementedError

    def filter_tables(
        self,
        ltable: DataFrame,
        rtable: DataFrame,
        l_key_attr: str,
        r_key_attr: str,
        l_filter_attr: str,
        r_filter_attr: str,
        l_out_attrs=None,
        r_out_attrs=None,
        l_out_prefix: str = "l_",
        r_out_prefix: str = "r_",
        add_dense_id: bool | None = None,
    ) -> DataFrame:
        validate_attr(ltable, l_key_attr, "left")
        validate_attr(rtable, r_key_attr, "right")
        validate_attr(ltable, l_filter_attr, "left")
        validate_attr(rtable, r_filter_attr, "right")
        validate_attr_type(ltable, l_filter_attr, "left")
        validate_attr_type(rtable, r_filter_attr, "right")
        pairs = self._pairs(
            ltable, rtable, l_key_attr, r_key_attr, l_filter_attr, r_filter_attr
        )
        if self.allow_missing:
            pairs = pairs.unionByName(
                missing_pairs(
                    ltable, rtable, l_key_attr, r_key_attr, l_filter_attr, r_filter_attr
                ).select("_l_key", "_r_key")
            )
        return assemble_output(
            pairs, ltable, rtable, l_key_attr, r_key_attr,
            l_out_attrs, r_out_attrs, l_out_prefix, r_out_prefix,
            sim_score_col=None, add_dense_id=add_dense_id,
        )

    # -- candset mode ------------------------------------------------------
    def filter_candset(
        self,
        candset: DataFrame,
        candset_l_key_attr: str,
        candset_r_key_attr: str,
        ltable: DataFrame,
        rtable: DataFrame,
        l_key_attr: str,
        r_key_attr: str,
        l_filter_attr: str,
        r_filter_attr: str,
    ) -> DataFrame:
        """Re-filter an existing pair table (filter/filter.py:17-137).

        Joins the candset back to both base tables and keeps pairs that
        survive ``filter_pair`` semantics — expressed as a semi-join against
        ``filter_tables`` run on the *restricted* tables, which preserves the
        candset's columns untouched.
        """
        l_restrict = ltable.join(
            candset.select(F.col(candset_l_key_attr).alias(l_key_attr)).distinct(),
            l_key_attr, "left_semi",
        )
        r_restrict = rtable.join(
            candset.select(F.col(candset_r_key_attr).alias(r_key_attr)).distinct(),
            r_key_attr, "left_semi",
        )
        keep = self._pairs(
            l_restrict, r_restrict, l_key_attr, r_key_attr, l_filter_attr, r_filter_attr
        )
        if self.allow_missing:
            keep = keep.unionByName(
                missing_pairs(
                    l_restrict, r_restrict, l_key_attr, r_key_attr,
                    l_filter_attr, r_filter_attr,
                ).select("_l_key", "_r_key")
            )
        cond = [
            candset[candset_l_key_attr] == keep["_l_key"],
            candset[candset_r_key_attr] == keep["_r_key"],
        ]
        return candset.join(keep, cond, "left_semi")


class OverlapFilter(_BaseFilter):
    """Keep pairs with |tok(l) ∩ tok(r)| comp_op overlap_size
    (filter/overlap_filter.py:23)."""

    def __init__(self, tokenizer: Tokenizer, overlap_size: int = 1,
                 comp_op: str = ">=", allow_missing: bool = False):
        validate_tokenizer(tokenizer)
        # reference restricts OVERLAP to >=, >, = (utils/validation.py via
        # validate_comp_op_for_sim_measure); with <=/</!= the token-join
        # formulation would silently miss zero-overlap pairs
        validate_comp_op(comp_op, (">=", ">", "="))
        if overlap_size < 0:
            raise AssertionError("overlap_size must be >= 0")
        self.tokenizer = tokenizer
        self.overlap_size = overlap_size
        self.comp_op = comp_op
        self.allow_missing = allow_missing

    def filter_pair(self, l_val, r_val) -> bool:
        if l_val is None or r_val is None:
            return not self.allow_missing
        lt = set(self.tokenizer.tokenize(l_val))
        rt = set(self.tokenizer.tokenize(r_val))
        return not COMP_OP_FN[self.comp_op](len(lt & rt), self.overlap_size)

    def _pairs(self, ltable, rtable, l_key, r_key, l_join, r_join):
        from .overlap_join import _token_pairs

        tok = as_set_tokenizer(self.tokenizer)
        _, _, joined = _token_pairs(ltable, rtable, l_key, r_key, l_join, r_join, tok, False)
        return (
            joined.groupBy("_l_key", "_r_key")
            .agg(F.count("*").alias("_ov"))
            .where(comp_col(self.comp_op, F.col("_ov"), self.overlap_size))
            .select("_l_key", "_r_key")
        )


class SizeFilter(_BaseFilter):
    """Keep pairs whose token counts satisfy the measure's size bounds
    (filter/size_filter.py:24). Pure predicate — no token join at all."""

    def __init__(self, tokenizer: Tokenizer, sim_measure_type: str = "JACCARD",
                 threshold: float = 0.5, allow_empty: bool = True,
                 allow_missing: bool = False):
        validate_tokenizer(tokenizer)
        self.measure = _norm_measure(sim_measure_type)
        validate_threshold(threshold, self.measure)
        self.tokenizer = tokenizer
        self.threshold = threshold
        self.allow_empty = allow_empty
        self.allow_missing = allow_missing

    def filter_pair(self, l_val, r_val) -> bool:
        if l_val is None or r_val is None:
            return not self.allow_missing
        ln = len(set(self.tokenizer.tokenize(l_val)))
        rn = len(set(self.tokenizer.tokenize(r_val)))
        if ln == 0 and rn == 0:
            return not self.allow_empty
        lb = fm.size_lower_bound(ln, self.measure, self.threshold)
        ub = fm.size_upper_bound(ln, self.measure, self.threshold)
        return not (lb <= rn <= ub)

    def _pairs(self, ltable, rtable, l_key, r_key, l_join, r_join):
        tok = as_set_tokenizer(self.tokenizer)
        l_sz = (
            ltable.select(F.col(l_key).alias("_l_key"), F.col(l_join).alias("_s"))
            .where(F.col("_s").isNotNull())
            .select("_l_key", F.size(tok.spark_col(F.col("_s"))).alias("_ls"))
        )
        r_sz = (
            rtable.select(F.col(r_key).alias("_r_key"), F.col(r_join).alias("_s"))
            .where(F.col("_s").isNotNull())
            .select("_r_key", F.size(tok.spark_col(F.col("_s"))).alias("_rs"))
        )
        lb = fm.size_lower_bound_col(F.col("_ls"), self.measure, self.threshold)
        ub = fm.size_upper_bound_col(F.col("_ls"), self.measure, self.threshold)
        cond = (F.col("_rs") >= lb) & (F.col("_rs") <= ub)
        if self.allow_empty:
            cond = cond | ((F.col("_ls") == 0) & (F.col("_rs") == 0))
        # range-band join on sizes; sizes are low-cardinality so Spark can
        # broadcast the smaller side's (key, size) projection under AQE
        return l_sz.join(r_sz, cond).select("_l_key", "_r_key")


class PrefixFilter(_BaseFilter):
    """Keep pairs whose rank-ordered prefixes intersect
    (filter/prefix_filter.py:24)."""

    def __init__(self, tokenizer: Tokenizer, sim_measure_type: str = "JACCARD",
                 threshold: float = 0.5, allow_empty: bool = True,
                 allow_missing: bool = False):
        validate_tokenizer(tokenizer)
        self.measure = _norm_measure(sim_measure_type)
        validate_threshold(threshold, self.measure)
        self.tokenizer = tokenizer
        self.threshold = threshold
        self.allow_empty = allow_empty
        self.allow_missing = allow_missing
        self.qval = getattr(tokenizer, "qval", None)

    def _ranked(self, ltable, rtable, l_key, r_key, l_join, r_join):
        tok = as_set_tokenizer(self.tokenizer)
        l_nn = (
            ltable.select(F.col(l_key).alias("_l_key"), F.col(l_join).alias("_s"))
            .where(F.col("_s").isNotNull())
            .withColumn("_tokens", tok.spark_col(F.col("_s")))
        )
        r_nn = (
            rtable.select(F.col(r_key).alias("_r_key"), F.col(r_join).alias("_s"))
            .where(F.col("_s").isNotNull())
            .withColumn("_tokens", tok.spark_col(F.col("_s")))
        )
        ordering = build_token_ordering([(l_nn, "_tokens"), (r_nn, "_tokens")]).persist().transform(_tc)
        l_rk = add_ranked_tokens(l_nn, ["_l_key"], "_tokens", ordering, "_ranked", "_size")
        r_rk = add_ranked_tokens(r_nn, ["_r_key"], "_tokens", ordering, "_ranked", "_size")
        return l_rk, r_rk

    def _prefix_exploded(self, rk, key_col, size_col="_size"):
        return (
            rk.withColumn(
                "_pfx",
                fm.prefix_length_col(F.col(size_col), self.measure, self.threshold, self.qval),
            )
            .select(
                key_col, F.col(size_col),
                F.posexplode(F.expr("slice(_ranked, 1, _pfx)")).alias("_pos", "_tok"),
            )
        )

    def filter_pair(self, l_val, r_val) -> bool:
        if l_val is None or r_val is None:
            return not self.allow_missing
        lt = list(dict.fromkeys(self.tokenizer.tokenize(l_val)))
        rt = list(dict.fromkeys(self.tokenizer.tokenize(r_val)))
        if len(lt) == 0 and len(rt) == 0:
            return not (
                self.allow_empty
                and self.measure in ("jaccard", "cosine", "dice")
            )
        # local ordering over just this pair (reference filter_pair does the
        # same two-string ordering, prefix_filter.py:80-132)
        freq: dict = {}
        for t in lt + rt:
            freq[t] = freq.get(t, 0) + 1
        order = {t: i for i, (c, t) in enumerate(sorted((c, t) for t, c in freq.items()))}
        ls = sorted(order[t] for t in lt)
        rs = sorted(order[t] for t in rt)
        lp = ls[: fm.prefix_length(len(ls), self.measure, self.threshold, self.qval)]
        rp = rs[: fm.prefix_length(len(rs), self.measure, self.threshold, self.qval)]
        return not (set(lp) & set(rp))

    def _pairs(self, ltable, rtable, l_key, r_key, l_join, r_join):
        l_rk, r_rk = self._ranked(ltable, rtable, l_key, r_key, l_join, r_join)
        pl = self._prefix_exploded(l_rk, "_l_key").select("_l_key", "_tok")
        pr = self._prefix_exploded(r_rk, "_r_key").select("_r_key", "_tok")
        pairs = pl.join(pr, "_tok").select("_l_key", "_r_key").distinct()
        if self.allow_empty and self.measure in ("jaccard", "cosine", "dice"):
            l_empty = l_rk.where(F.col("_size") == 0).select("_l_key")
            r_empty = r_rk.where(F.col("_size") == 0).select("_r_key")
            pairs = pairs.unionByName(l_empty.crossJoin(r_empty))
        return pairs


class PositionFilter(PrefixFilter):
    """Prefix filter + size bounds + positional overlap upper bound
    (filter/position_filter.py:27; bound math :350-362)."""

    def filter_pair(self, l_val, r_val) -> bool:
        if l_val is None or r_val is None:
            return not self.allow_missing
        lt = list(dict.fromkeys(self.tokenizer.tokenize(l_val)))
        rt = list(dict.fromkeys(self.tokenizer.tokenize(r_val)))
        if len(lt) == 0 and len(rt) == 0:
            return not (
                self.allow_empty and self.measure in ("jaccard", "cosine", "dice")
            )
        freq: dict = {}
        for t in lt + rt:
            freq[t] = freq.get(t, 0) + 1
        order = {t: i for i, (c, t) in enumerate(sorted((c, t) for t, c in freq.items()))}
        ls = sorted(order[t] for t in lt)
        rs = sorted(order[t] for t in rt)
        ln, rn = len(ls), len(rs)
        lb = fm.size_lower_bound(ln, self.measure, self.threshold)
        ub = fm.size_upper_bound(ln, self.measure, self.threshold)
        if not (lb <= rn <= ub):
            return True
        lp = ls[: fm.prefix_length(ln, self.measure, self.threshold, self.qval)]
        rp = rs[: fm.prefix_length(rn, self.measure, self.threshold, self.qval)]
        shared = set(lp) & set(rp)
        if not shared:
            return True
        a = min(shared)
        pl, pr = ls.index(a), rs.index(a)
        bound = 1 + min(ln - pl - 1, rn - pr - 1)
        alpha = fm.overlap_threshold(ln, rn, self.measure, self.threshold, self.qval)
        return not (bound >= alpha)

    def _pairs(self, ltable, rtable, l_key, r_key, l_join, r_join):
        l_rk, r_rk = self._ranked(ltable, rtable, l_key, r_key, l_join, r_join)
        pl = self._prefix_exploded(l_rk, "_l_key").withColumnsRenamed(
            {"_size": "_ls", "_pos": "_lp"}
        )
        pr = self._prefix_exploded(r_rk, "_r_key").withColumnsRenamed(
            {"_size": "_rs", "_pos": "_rp"}
        )
        joined = pl.join(pr, "_tok").where(
            (F.col("_rs") >= fm.size_lower_bound_col(F.col("_ls"), self.measure, self.threshold))
            & (F.col("_rs") <= fm.size_upper_bound_col(F.col("_ls"), self.measure, self.threshold))
        )
        # per-row positional bound before dedup: the min-rank shared token
        # attains the max bound over a pair's rows, so row-level filtering
        # + distinct yields exactly the reference pair set (see
        # set_sim_join.py) while keeping the prune in whole-stage codegen
        ub = F.lit(1) + F.least(
            F.col("_ls") - F.col("_lp") - 1, F.col("_rs") - F.col("_rp") - 1
        )
        pairs = (
            joined.where(
                ub >= fm.overlap_threshold_col(
                    F.col("_ls"), F.col("_rs"), self.measure, self.threshold, self.qval
                )
            )
            .select("_l_key", "_r_key")
            .distinct()
        )
        if self.allow_empty and self.measure in ("jaccard", "cosine", "dice"):
            l_empty = l_rk.where(F.col("_size") == 0).select("_l_key")
            r_empty = r_rk.where(F.col("_size") == 0).select("_r_key")
            pairs = pairs.unionByName(l_empty.crossJoin(r_empty))
        return pairs


class SuffixFilter(_BaseFilter):
    """Suffix divide-&-conquer Hamming bound (filter/suffix_filter.py:24).

    All three modes provided. ``filter_tables`` re-plans the reference's
    O(n·m) nested loop (suffix_filter.py:427-531) as a size-class grid +
    suffix refinement — see ``_pairs``; prefer PositionFilter for primary
    table-level blocking (indexable), using this as a candset refiner.
    """

    MAX_DEPTH = 2  # suffix_filter.py:78

    def __init__(self, tokenizer: Tokenizer, sim_measure_type: str = "JACCARD",
                 threshold: float = 0.5, allow_empty: bool = True,
                 allow_missing: bool = False):
        validate_tokenizer(tokenizer)
        self.measure = _norm_measure(sim_measure_type)
        validate_threshold(threshold, self.measure)
        self.tokenizer = tokenizer
        self.threshold = threshold
        self.allow_empty = allow_empty
        self.allow_missing = allow_missing
        self.qval = getattr(tokenizer, "qval", None)

    def _partition(self, tokens, probe, left, right):
        # suffix_filter.py:387-411
        right = min(right, len(tokens) - 1)
        if right < left or tokens[left] > probe or tokens[right] < probe:
            return [], [], 0, 1
        import bisect

        pos = bisect.bisect_left(tokens, probe, left, right)
        if tokens[pos] == probe:
            return tokens[:pos], tokens[pos + 1 :], 1, 0
        return tokens[:pos], tokens[pos:], 1, 1

    def _hamming_lb(self, l_suf, r_suf, ln, rn, ham_max, depth):
        # suffix_filter.py:321-385 (est_hamming_dist_lower_bound)
        abs_diff = abs(ln - rn)
        if depth > self.MAX_DEPTH or ln == 0 or rn == 0:
            return abs_diff
        if ln == 1 and rn == 1:
            return int(l_suf[0] != r_suf[0])
        r_mid = rn // 2
        probe = r_suf[r_mid]
        o = (ham_max - abs_diff) / 2
        o_l, o_r = (1, 0) if ln < rn else (0, 1)
        r_l, r_r, _, _ = self._partition(r_suf, probe, r_mid, r_mid)
        l_l, l_r, flag, diff = self._partition(
            l_suf, probe,
            max(0, int(r_mid - o - abs_diff * o_l)),
            min(ln - 1, int(r_mid + o + abs_diff * o_r)),
        )
        if flag == 0:
            return ham_max + 1
        ham = abs(len(l_l) - len(r_l)) + abs(len(l_r) - len(r_r)) + diff
        if ham > ham_max:
            return ham
        ham_l = self._hamming_lb(
            l_l, r_l, len(l_l), len(r_l),
            ham_max - abs(len(l_r) - len(r_r)) - diff, depth + 1,
        )
        ham = ham_l + abs(len(l_r) - len(r_r)) + diff
        if ham <= ham_max:
            ham_r = self._hamming_lb(
                l_r, r_r, len(l_r), len(r_r), ham_max - ham_l - diff, depth + 1
            )
            return ham_l + ham_r + diff
        return ham

    def filter_pair(self, l_val, r_val) -> bool:
        if l_val is None or r_val is None:
            return not self.allow_missing
        lt = list(dict.fromkeys(self.tokenizer.tokenize(l_val)))
        rt = list(dict.fromkeys(self.tokenizer.tokenize(r_val)))
        if len(lt) == 0 and len(rt) == 0:
            return not (
                self.allow_empty and self.measure in ("jaccard", "cosine", "dice")
            )
        freq: dict = {}
        for t in lt + rt:
            freq[t] = freq.get(t, 0) + 1
        order = {t: i for i, (c, t) in enumerate(sorted((c, t) for t, c in freq.items()))}
        ls = sorted(order[t] for t in lt)
        rs = sorted(order[t] for t in rt)
        ln, rn = len(ls), len(rs)
        lpl = fm.prefix_length(ln, self.measure, self.threshold, self.qval)
        rpl = fm.prefix_length(rn, self.measure, self.threshold, self.qval)
        if lpl <= 0 or rpl <= 0:
            return True
        alpha = fm.overlap_threshold(ln, rn, self.measure, self.threshold, self.qval)
        if lpl >= alpha and rpl >= alpha:
            return False
        ham_max = ln + rn - 2 * alpha
        ham = self._hamming_lb(ls[lpl:], rs[rpl:], ln - lpl, rn - rpl, ham_max, 1)
        return ham > ham_max

    def _pairs(self, ltable, rtable, l_key, r_key, l_join, r_join):
        """Table mode WITHOUT the reference's O(n·m) nested loop
        (suffix_filter.py:427-531). Same output set, different plan:

        1. one global token ordering + ranked arrays (as every other filter);
        2. the survival test depends on pair CONTENT only through the suffix
           arrays, and its gates (prefix lengths, overlap threshold α,
           ham_max = n_l+n_r−2α, the est ≥ |suffix-size diff| lower bound of
           the hamming estimate) are functions of the SIZE PAIR alone — so
           candidates come from a tiny distinct-size × distinct-size grid
           (broadcast) expanded by two equi-joins on token count, never a
           row-level cross join;
        3. grid cells with lpl ≥ α ∧ rpl ≥ α short-circuit to "keep" JVM-side
           (reference _filter_suffix:146-148); only the rest run the exact
           recursive hamming bound (suffix_filter.py:321-411) per pair in an
           Arrow-batched stage.

        Caveat (documented plan difference): this filter is inherently
        pair-local — when many rows share qualifying sizes its output is
        near-quadratic, exactly as the reference's loop; the plan above makes
        the *pruning* distributed, it cannot make the output smaller.
        """
        from pyspark.sql import types as T

        tok = as_set_tokenizer(self.tokenizer)
        m, t, q = self.measure, self.threshold, self.qval
        l_nn = (
            ltable.select(F.col(l_key).alias("_l_key"), F.col(l_join).alias("_s"))
            .where(F.col("_s").isNotNull())
            .withColumn("_tokens", tok.spark_col(F.col("_s")))
        )
        r_nn = (
            rtable.select(F.col(r_key).alias("_r_key"), F.col(r_join).alias("_s"))
            .where(F.col("_s").isNotNull())
            .withColumn("_tokens", tok.spark_col(F.col("_s")))
        )
        ordering = build_token_ordering([(l_nn, "_tokens"), (r_nn, "_tokens")]).persist().transform(_tc)
        l_rk = add_ranked_tokens(l_nn, ["_l_key"], "_tokens", ordering, "_ranked", "_size")
        r_rk = add_ranked_tokens(r_nn, ["_r_key"], "_tokens", ordering, "_ranked", "_size")

        def _with_suffix(rk, pfx_col, suf_col):
            return rk.withColumn(
                pfx_col, fm.prefix_length_col(F.col("_size"), m, t, q)
            ).withColumn(
                suf_col, F.expr(f"slice(_ranked, {pfx_col} + 1, _size)")
            )

        l_sel = _with_suffix(l_rk, "_lpl", "_lsuf").select(
            "_l_key", F.col("_size").alias("_ls_row"), "_lsuf"
        )
        r_sel = _with_suffix(r_rk, "_rpl", "_rsuf").select(
            "_r_key", F.col("_size").alias("_rs_row"), "_rsuf"
        )

        ls, rs = F.col("_ls"), F.col("_rs")
        lpl = fm.prefix_length_col(ls, m, t, q)
        rpl = fm.prefix_length_col(rs, m, t, q)
        alpha = fm.overlap_threshold_col(ls, rs, m, t, q)
        ham_max = (ls + rs - F.lit(2) * alpha).cast("long")
        grid = (
            l_rk.select(F.col("_size").alias("_ls")).distinct()
            .crossJoin(r_rk.select(F.col("_size").alias("_rs")).distinct())
            .withColumn("_shortcut", (lpl >= alpha) & (rpl >= alpha))
            .withColumn("_ham_max", ham_max)
            .where(
                (lpl > 0) & (rpl > 0)
                & (F.col("_shortcut")
                   | (F.abs((ls - lpl) - (rs - rpl)) <= F.col("_ham_max")))
            )
        )
        cand = l_sel.join(
            F.broadcast(grid), l_sel["_ls_row"] == grid["_ls"]
        ).join(r_sel, r_sel["_rs_row"] == grid["_rs"])

        easy = cand.where(F.col("_shortcut")).select("_l_key", "_r_key")
        hard_in = cand.where(~F.col("_shortcut")).select(
            "_l_key", "_r_key", "_lsuf", "_rsuf", "_ham_max"
        )
        out_schema = T.StructType(
            [
                T.StructField("_l_key", ltable.schema[l_key].dataType),
                T.StructField("_r_key", rtable.schema[r_key].dataType),
            ]
        )
        hamming_lb = self._hamming_lb

        def refine(batches):
            for pdf in batches:
                if len(pdf) == 0:
                    continue
                keep = [
                    hamming_lb(lsuf, rsuf, len(lsuf), len(rsuf), hm, 1) <= hm
                    for lsuf, rsuf, hm in zip(
                        pdf["_lsuf"], pdf["_rsuf"], pdf["_ham_max"]
                    )
                ]
                yield pdf.loc[keep, ["_l_key", "_r_key"]]

        pairs = easy.unionByName(hard_in.mapInPandas(refine, out_schema))
        if self.allow_empty and m in ("jaccard", "cosine", "dice"):
            l_empty = l_rk.where(F.col("_size") == 0).select("_l_key")
            r_empty = r_rk.where(F.col("_size") == 0).select("_r_key")
            pairs = pairs.unionByName(l_empty.crossJoin(r_empty))
        return pairs
