"""apply_matcher — verify an arbitrary similarity function over a candset.

Parity: /root/reference/py_stringsimjoin/matcher/apply_matcher.py:31-229.
The candset (a pair table from a filter or join) is joined back to both base
tables and scored inside one Arrow-batched ``mapInPandas`` stage. The user
similarity function comes in two flavors:

* a measure name ("jaccard" | "cosine" | "dice" | "overlap" |
  "overlap_coefficient" | "tversky_index" | "generalized_jaccard" |
  "bag_distance" | "edit_distance" | "jaro" | "jaro_winkler" |
  "monge_elkan" | "monge_elkan_jaro") →
  fully vectorized numpy kernel (jaro/jaro_winkler/edit_distance are
  string-based: the tokenizer is ignored for scoring; the monge_elkan
  hybrids tokenize with the given tokenizer — pass a bag tokenizer
  (``return_set=False``) for py_stringmatching-shaped behavior — and
  average, over the LEFT bag, the max inner jaro_winkler/jaro per token);
* a Python callable ``f(l_tokens_or_str, r_tokens_or_str) -> float`` applied
  per row inside the batch (the reference's arbitrary-UDF surface,
  apply_matcher.py:77 — inherently the slow path; prefer measure names).

All six comparison ops are allowed (utils/generic_helper.py:10-15). The
candset's own columns (including any ``_id``) pass through untouched.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..functions.sims import (
    batch_affine_gap,
    batch_bag_distance,
    batch_generalized_jaccard,
    batch_jaro,
    batch_jaro_winkler,
    batch_levenshtein,
    batch_monge_elkan,
    batch_needleman_wunsch,
    batch_set_sim,
    batch_smith_waterman,
    batch_tversky,
)
from ..functions.tokenizers import Tokenizer
from ..plans import filter_math as fm
from ..plans.validation import (
    COMP_OP_NUMPY,
    comp_col,
    validate_attr,
    validate_attr_type,
    validate_comp_op,
)

_MEASURES = ("jaccard", "cosine", "dice", "overlap", "overlap_coefficient")


def score_pairs(
    candset: DataFrame,
    candset_l_key_attr: str,
    candset_r_key_attr: str,
    l_sets: DataFrame,
    r_sets: DataFrame,
    score,
    threshold: float,
    comp_op: str = ">=",
) -> DataFrame:
    """Join each candidate pair to its two sets and score it, in pure JVM.

    ``l_sets`` / ``r_sets`` are two-column ``(key, set)`` tables holding one
    duplicate-free array per key: tokenized text (``verify_pairs``) or the
    blocking stage's ranked int arrays (``LinkagePipeline.scoring``).
    ``score(ov, ls, rs)`` builds the score Column from the overlap and the
    two sizes (``filter_math.overlap_and_sizes``). Returns ALL candset
    columns + ``_sim_score`` for pairs passing ``comp_op threshold``.
    """
    cand_cols = candset.columns
    l_sets = l_sets.toDF("__lk", "__lt")
    r_sets = r_sets.toDF("__rk", "__rt")
    # shuffle-hash hints: the set side must never be sort-merged (no point
    # sorting array columns) nor must the candset side ever be broadcast —
    # local-mode AQE occasionally picks a pathological build side otherwise
    joined = (
        candset
        .join(l_sets.hint("shuffle_hash"), candset[candset_l_key_attr] == l_sets["__lk"])
        .join(r_sets.hint("shuffle_hash"), candset[candset_r_key_attr] == r_sets["__rk"])
        .select(*[F.col(c) for c in cand_cols], "__lt", "__rt")
    )
    return (
        joined.withColumn("_sim_score", score(*fm.overlap_and_sizes("__lt", "__rt")))
        .where(comp_col(comp_op, F.col("_sim_score"), float(threshold)))
        .select(*cand_cols, "_sim_score")
    )


def verify_pairs(
    candset: DataFrame,
    candset_l_key_attr: str,
    candset_r_key_attr: str,
    ltable: DataFrame,
    rtable: DataFrame,
    l_key_attr: str,
    r_key_attr: str,
    l_match_attr: str,
    r_match_attr: str,
    tokenizer: Tokenizer,
    measure: str,
    threshold: float,
    comp_op: str = ">=",
    measure_args: dict | None = None,
) -> DataFrame:
    """Fast candidate-pair verifier over tokenized text.

    Unlike ``apply_matcher`` (which supports arbitrary Python sim functions
    and therefore tokenizes per value in Python), this path keeps EVERYTHING
    in Spark expressions: tokenization, array_intersect overlap, and the
    score arithmetic all run in whole-stage codegen — zero Python workers.
    Its join-and-score body is ``score_pairs``, which the linkage
    pipeline's scoring stage runs over blocking's ranked arrays instead.

    Returns ALL candset columns (``_id``-style passthroughs included) +
    ``_sim_score`` for pairs passing ``comp_op threshold``.
    """
    from .set_sim_join import as_set_tokenizer

    validate_comp_op(comp_op, (">=", ">", "<=", "<", "=", "!="))
    tok = as_set_tokenizer(tokenizer)
    empty_arr = F.array().cast("array<string>")
    l_tok = ltable.select(
        l_key_attr, F.coalesce(tok.spark_col(F.col(l_match_attr)), empty_arr)
    )
    r_tok = rtable.select(
        r_key_attr, F.coalesce(tok.spark_col(F.col(r_match_attr)), empty_arr)
    )

    # token arrays are sets (as_set_tokenizer), so the set-sim measures
    # share the prefix kernels' score expression; empty/NULL semantics
    # mirror functions/sims.score_from_overlap (both-empty → 1.0 where
    # defined, any-empty → 0.0, overlap measure keeps the raw count)
    def score(ov, ls, rs):
        if measure == "overlap":
            return ov
        if measure == "overlap_coefficient":
            s = ov / F.least(ls, rs)
        elif measure == "tversky_index":
            alpha = float((measure_args or {}).get("alpha", 0.5))
            beta = float((measure_args or {}).get("beta", 0.5))
            s = ov / (ov + F.lit(alpha) * (ls - ov) + F.lit(beta) * (rs - ov))
        else:
            s = fm.set_sim_score_col(measure, ov, ls, rs)
        return (
            F.when((ls == 0) & (rs == 0), F.lit(1.0))
            .when((ls == 0) | (rs == 0), F.lit(0.0))
            .otherwise(s)
        )

    return score_pairs(
        candset, candset_l_key_attr, candset_r_key_attr, l_tok, r_tok, score,
        threshold, comp_op,
    )


def _make_score_batch(tok, simf, measure_args=None):
    """Batch scorer (list[str], list[str]) -> np.ndarray of scores.

    Module-level factory (serialized into the Arrow UDF, and directly unit
    testable). Implements the tokenize-once cache: candsets from blocking
    are duplicate-heavy (the same attr value appears in many pairs), so each
    distinct value is tokenized at most once per batch — the reference's
    cache heuristic (apply_matcher.py:181-194) applied per Arrow batch."""

    def score_batch(l_vals, r_vals) -> np.ndarray:
        tok_cache: dict = {}

        def toks(v):
            if v is None:
                return None
            t = tok_cache.get(v)
            if t is None:
                t = tok.tokenize(v) if tok else v.split()
                tok_cache[v] = t
            return t

        if isinstance(simf, str) and simf in _MEASURES + ("tversky_index",):
            # tokenize → int-encode via shared vocab → vectorized set-sim
            l_toks = [toks(v) for v in l_vals]
            r_toks = [toks(v) for v in r_vals]
            vocab: dict = {}

            def enc(ts):
                if ts is None:
                    return None
                ids = {vocab.setdefault(t, len(vocab)) for t in ts}
                return np.fromiter(sorted(ids), np.int64, len(ids))

            le = [enc(t) for t in l_toks]
            re_ = [enc(t) for t in r_toks]
            if simf == "tversky_index":
                ma = measure_args or {}
                return batch_tversky(
                    le, re_,
                    alpha=float(ma.get("alpha", 0.5)),
                    beta=float(ma.get("beta", 0.5)),
                )
            return batch_set_sim(simf, le, re_)
        if isinstance(simf, str) and simf == "edit_distance":
            return batch_levenshtein(list(l_vals), list(r_vals)).astype(float)
        if isinstance(simf, str) and simf == "bag_distance":
            return batch_bag_distance(list(l_vals), list(r_vals))
        if isinstance(simf, str) and simf == "generalized_jaccard":
            ma = measure_args or {}
            return batch_generalized_jaccard(
                [toks(v) for v in l_vals],
                [toks(v) for v in r_vals],
                inner=ma.get("inner", "jaro"),
                threshold=float(ma.get("threshold", 0.5)),
            )
        if isinstance(simf, str) and simf == "jaro":
            return batch_jaro(list(l_vals), list(r_vals))
        if isinstance(simf, str) and simf == "jaro_winkler":
            return batch_jaro_winkler(list(l_vals), list(r_vals))
        if isinstance(simf, str) and simf == "needleman_wunsch":
            return batch_needleman_wunsch(list(l_vals), list(r_vals))
        if isinstance(simf, str) and simf == "smith_waterman":
            return batch_smith_waterman(list(l_vals), list(r_vals))
        if isinstance(simf, str) and simf == "affine_gap":
            return batch_affine_gap(list(l_vals), list(r_vals))
        if isinstance(simf, str) and simf in ("monge_elkan", "monge_elkan_jaro"):
            inner = "jaro" if simf == "monge_elkan_jaro" else "jaro_winkler"
            return batch_monge_elkan(
                [toks(v) for v in l_vals], [toks(v) for v in r_vals], inner=inner
            )
        if isinstance(simf, str):
            raise ValueError(
                f"unknown measure name {simf!r}; pass one of "
                f"{_MEASURES + ('tversky_index', 'generalized_jaccard', 'bag_distance', 'edit_distance', 'jaro', 'jaro_winkler', 'monge_elkan', 'monge_elkan_jaro', 'needleman_wunsch', 'smith_waterman', 'affine_gap')} "
                "or a Python callable"
            )
        scores = np.empty(len(l_vals), dtype=np.float64)
        for i, (lv, rv) in enumerate(zip(l_vals, r_vals)):
            la = toks(lv) if tok else lv
            ra = toks(rv) if tok else rv
            scores[i] = simf(la, ra)
        return scores

    return score_batch


def apply_matcher(
    candset: DataFrame,
    candset_l_key_attr: str,
    candset_r_key_attr: str,
    ltable: DataFrame,
    rtable: DataFrame,
    l_key_attr: str,
    r_key_attr: str,
    l_match_attr: str,
    r_match_attr: str,
    tokenizer: Tokenizer | None,
    sim_function,
    threshold: float,
    comp_op: str = ">=",
    allow_missing: bool = False,
    out_sim_score: bool = True,
    measure_args: dict | None = None,
) -> DataFrame:
    validate_attr(candset, candset_l_key_attr, "candset")
    validate_attr(candset, candset_r_key_attr, "candset")
    validate_attr(ltable, l_key_attr, "left")
    validate_attr(rtable, r_key_attr, "right")
    validate_attr(ltable, l_match_attr, "left")
    validate_attr(rtable, r_match_attr, "right")
    validate_attr_type(ltable, l_match_attr, "left")
    validate_attr_type(rtable, r_match_attr, "right")
    validate_comp_op(comp_op, (">=", ">", "<=", "<", "=", "!="))

    l_sel = ltable.select(
        F.col(l_key_attr).alias("__lk"), F.col(l_match_attr).alias("__lv")
    )
    r_sel = rtable.select(
        F.col(r_key_attr).alias("__rk"), F.col(r_match_attr).alias("__rv")
    )
    joined = candset.join(
        l_sel, candset[candset_l_key_attr] == l_sel["__lk"], "left"
    ).join(r_sel, candset[candset_r_key_attr] == r_sel["__rk"], "left")

    out_fields = [f for f in candset.schema.fields]
    out_schema = T.StructType(
        out_fields + ([T.StructField("_sim_score", T.DoubleType())] if out_sim_score else [])
    )
    cand_cols = candset.columns
    cmp = COMP_OP_NUMPY[comp_op]
    score_batch = _make_score_batch(tokenizer, sim_function, measure_args)

    def fn(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            l_vals = pdf["__lv"].tolist()
            r_vals = pdf["__rv"].tolist()
            miss = np.array([(a is None) or (b is None) for a, b in zip(l_vals, r_vals)])
            scores = np.full(len(pdf), np.nan)
            nm = ~miss
            if nm.any():
                lv = [l_vals[i] for i in np.flatnonzero(nm)]
                rv = [r_vals[i] for i in np.flatnonzero(nm)]
                scores[nm] = score_batch(lv, rv)
            keep = np.zeros(len(pdf), dtype=bool)
            keep[nm] = cmp(scores[nm], threshold)
            if allow_missing:
                keep |= miss
            out = pdf.loc[keep, cand_cols].copy()
            if out_sim_score:
                s = scores[keep]
                out["_sim_score"] = np.where(np.isnan(s), None, s)
            yield out

    return joined.mapInPandas(fn, out_schema)


def featurize_pairs(
    candset: DataFrame,
    candset_l_key_attr: str,
    candset_r_key_attr: str,
    ltable: DataFrame,
    rtable: DataFrame,
    l_key_attr: str,
    r_key_attr: str,
    features: dict,
) -> DataFrame:
    """Multi-measure feature vectors per candidate pair, one Arrow pass.

    The ML bridge of an ER pipeline (the py_stringmatching/Magellan
    feature-table pattern the reference ecosystem uses downstream of
    apply_matcher, re-expressed as ONE vectorized stage): ``features``
    maps output column name → a spec dict with keys

    * ``l_attr`` / ``r_attr`` — the attribute pair to compare,
    * ``measure`` — any :func:`apply_matcher` measure name or callable,
    * ``tokenizer`` (optional) — for token-based measures,
    * ``measure_args`` (optional).

    Returns the candset columns + one nullable double per feature (NULL
    where either side's attr is NULL — a trainer imputes or learns on
    missingness explicitly; no silent zeros).

    Scale shape: exactly TWO hash joins (all left attrs in one, all right
    attrs in one — not 2 joins per feature), then a single ``mapInPandas``
    stage computing every feature on the same Arrow batch with the
    per-batch tokenize-once cache shared per feature. Adding a feature
    adds a kernel call, not a join or a shuffle.
    """
    validate_attr(candset, candset_l_key_attr, "candset")
    validate_attr(candset, candset_r_key_attr, "candset")
    validate_attr(ltable, l_key_attr, "left")
    validate_attr(rtable, r_key_attr, "right")
    if not features:
        raise AssertionError("features must be a non-empty dict")
    specs = {}
    for name, spec in features.items():
        if name in candset.columns:
            raise AssertionError(f"feature name {name!r} collides with a candset column")
        la, ra = spec["l_attr"], spec["r_attr"]
        validate_attr(ltable, la, "left")
        validate_attr(rtable, ra, "right")
        validate_attr_type(ltable, la, "left")
        validate_attr_type(rtable, ra, "right")
        specs[name] = (
            la,
            ra,
            _make_score_batch(
                spec.get("tokenizer"), spec["measure"], spec.get("measure_args")
            ),
        )

    l_attrs = sorted({la for la, _, _ in specs.values()})
    r_attrs = sorted({ra for _, ra, _ in specs.values()})
    l_sel = ltable.select(
        F.col(l_key_attr).alias("__lk"),
        *[F.col(a).alias(f"__l_{a}") for a in l_attrs],
    )
    r_sel = rtable.select(
        F.col(r_key_attr).alias("__rk"),
        *[F.col(a).alias(f"__r_{a}") for a in r_attrs],
    )
    joined = candset.join(
        l_sel, candset[candset_l_key_attr] == l_sel["__lk"], "left"
    ).join(r_sel, candset[candset_r_key_attr] == r_sel["__rk"], "left")

    cand_cols = candset.columns
    out_schema = T.StructType(
        list(candset.schema.fields)
        + [T.StructField(n, T.DoubleType()) for n in specs]
    )

    def fn(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            out = pdf[cand_cols].copy()
            for name, (la, ra, score_batch) in specs.items():
                l_vals = pdf[f"__l_{la}"].tolist()
                r_vals = pdf[f"__r_{ra}"].tolist()
                miss = np.array(
                    [(a is None) or (b is None) for a, b in zip(l_vals, r_vals)]
                )
                scores = np.full(len(pdf), np.nan)
                nm = ~miss
                if nm.any():
                    lv = [l_vals[i] for i in np.flatnonzero(nm)]
                    rv = [r_vals[i] for i in np.flatnonzero(nm)]
                    scores[nm] = score_batch(lv, rv)
                out[name] = [None if m else s for m, s in zip(miss, scores)]
            yield out

    return joined.mapInPandas(fn, out_schema)
