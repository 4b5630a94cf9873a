"""Set-similarity joins (Jaccard / cosine / Dice) — the engine's core kernel.

Capability parity with the reference's jaccard/cosine/dice joins
(py_stringsimjoin/join/jaccard_join_py.py:17, cosine_join_py.py:17,
dice_join_py.py:17; shared kernel join/set_sim_join.py:16-139), kept to
that kernel's ONE plan — prefix filter, position filter, exact verify —
re-architected as one declarative Spark plan:

    tokenize (set) → global token ordering → ranked int arrays
    → prefix explode  ℓ(n) lowest-rank tokens, arrays riding along [§2.3]
    → hash equi-join on token rank                     [the "index"]
    → size-bound filter on (l_size, r_size)            [size filter]
    → per-joined-row positional overlap bound          [position filter]
    → first-shared-prefix-token row only               [one row per pair]
    → inline JVM array_intersect exact verify          [zero UDF end-to-end]
    → empty-pair / missing-pair unions → output assembly

Catalyst/AQE notes: the token equi-join is the only large shuffle, and no
pair aggregate follows it (each pair leaves it once); hot tokens are salted
by their frequency in the prefix stream (plans/skew.py) and AQE skew join
covers the rest. The position bound, the first-shared-token test and the
verify are plain column arithmetic (JVM, whole-stage codegen — no Python
anywhere in the plan). Scores are float64, unrounded (the reference's
default-Cython semantics, set_sim_join_cy.pyx:132).
"""

from __future__ import annotations

import copy

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.tokenizers import Tokenizer
from ..plans import filter_math as fm
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
from .token_ordering import add_ranked_tokens, build_token_ordering
from ..plans.cache import tracked_cache as _tc
from ..plans.skew import (
    SALT_PROBE_MIN_ROWS,
    exploded_hot_token_ranks,
    resolve_salt_parallelism,
    salted_token_join,
)

_EMPTY_OK = ("jaccard", "cosine", "dice", "overlap_coefficient")


def _append_empty_and_missing(
    pairs, measure, comp_op, threshold, allow_empty, allow_missing,
    l_rk, r_rk, ltable, rtable, l_key_attr, r_key_attr,
    l_join_attr, r_join_attr, self_join_dedup, with_score,
):
    """Union the allow_empty (empty×empty, score 1.0) and allow_missing
    (NULL-attr cross pairs, NULL score) rows onto a pair result."""
    if allow_empty and measure in _EMPTY_OK and COMP_OP_FN[comp_op](1.0, threshold):
        l_empty = l_rk.where(F.col("_l_size") == 0).select("_l_key")
        r_empty = r_rk.where(F.col("_r_size") == 0).select("_r_key")
        empties = l_empty.crossJoin(r_empty)
        if self_join_dedup:
            empties = empties.where(F.col("_l_key") < F.col("_r_key"))
        if with_score:
            empties = empties.withColumn("_sim_score", F.lit(1.0).cast("double"))
        pairs = pairs.unionByName(empties)
    if allow_missing:
        mp = missing_pairs(
            ltable, rtable, l_key_attr, r_key_attr, l_join_attr, r_join_attr
        )
        if not with_score:
            mp = mp.select("_l_key", "_r_key")
        pairs = pairs.unionByName(mp)
    return pairs


def _prefix_explode(
    rk: DataFrame, side: str, measure: str, threshold: float
) -> DataFrame:
    """One row per prefix token of a ranked table
    ``(_{side}_key, _{side}_ranked, _{side}_size)``: key, size, the ranked
    array (for the first-shared-token test and the inline verify), the
    token's position ``_{side}_pos`` and rank ``_tok``."""
    key, ranked, size = f"_{side}_key", f"_{side}_ranked", f"_{side}_size"
    return rk.withColumn(
        "_pfx", fm.prefix_length_col(F.col(size), measure, threshold)
    ).select(
        key,
        size,
        ranked,
        F.posexplode(F.expr(f"slice({ranked}, 1, _pfx)")).alias(f"_{side}_pos", "_tok"),
    )


def _filter_and_verify(
    joined: DataFrame,
    measure: str,
    threshold: float,
    comp_op: str,
    position_filter: bool = True,
    verify: bool = True,
    pair_pred=None,
) -> DataFrame:
    """The filter stack over token-joined prefix rows: size bounds, an
    optional pair predicate, the per-row position bound, the pair's
    first shared prefix token (``fm.first_shared_prefix_token``) and the
    inline exact verify (adds ``_sim_score``). Each pair leaves it at most
    once."""
    joined = joined.where(
        (F.col("_r_size") >= fm.size_lower_bound_col(F.col("_l_size"), measure, threshold))
        & (F.col("_r_size") <= fm.size_upper_bound_col(F.col("_l_size"), measure, threshold))
    )
    if pair_pred is not None:
        joined = joined.where(pair_pred)
    if position_filter:
        # positional overlap upper bound evaluated PER JOINED ROW: for a
        # shared token at positions (lp, rp), overlap ≤ count_so_far +
        # min(remaining) and the min-rank shared token attains the MAXIMUM
        # of this bound over a pair's rows — so "pair passes at its min-rank
        # token" ⟺ "any row passes", and the first-shared-token row below
        # survives whenever the pair does. Pure column arithmetic inside
        # whole-stage codegen.
        ub = F.lit(1) + F.least(
            F.col("_l_size") - F.col("_l_pos") - 1,
            F.col("_r_size") - F.col("_r_pos") - 1,
        )
        joined = joined.where(
            ub >= fm.overlap_threshold_col(
                F.col("_l_size"), F.col("_r_size"), measure, threshold
            )
        )
    # one row per pair from here on: the verify runs once per pair, and no
    # pair distinct follows
    joined = joined.where(fm.first_shared_prefix_token())
    if verify:
        # exact verify in pure JVM: the ranked arrays are duplicate-free
        # ints, so array_intersect size IS the set overlap; the score
        # arithmetic is the oracle's (identical IEEE-754 double ops → oracle
        # parity). No Arrow transfer, no Python workers — whole-stage
        # codegen end to end. (The previous mapInPandas verify spent ~95% of
        # its wall time serializing the candidate arrays to Python: 6.1M
        # pairs ≈ 130 s vs ~10 s JVM-side, measured at sf0.1.)
        score = fm.set_sim_score_col(
            measure, *fm.overlap_and_sizes("_l_ranked", "_r_ranked")
        )
        joined = joined.withColumn("_sim_score", score).where(
            comp_col(comp_op, F.col("_sim_score"), threshold)
        )
    return joined


def as_set_tokenizer(tokenizer: Tokenizer) -> Tokenizer:
    """Set-semantics copy (set-sim joins force return_set=True,
    jaccard_join_py.py:144-148)."""
    if tokenizer.return_set:
        return tokenizer
    t = copy.copy(tokenizer)
    t.return_set = True
    return t


def set_sim_join_pairs(
    measure: str,
    ltable: DataFrame,
    rtable: DataFrame,
    l_key_attr: str,
    r_key_attr: str,
    l_join_attr: str,
    r_join_attr: str,
    tokenizer: Tokenizer,
    threshold: float,
    comp_op: str = ">=",
    allow_empty: bool = True,
    allow_missing: bool = False,
    position_filter: bool = True,
    self_join_dedup: bool = False,
    verify: bool = True,
    value_dedup: bool | str = "auto",
    shuffle_partitions: int | None = None,
    _prepared=None,
    _join_rows_hint: int | None = None,
) -> DataFrame:
    """Core kernel → DataFrame(_l_key, _r_key, _sim_score).

    ``shuffle_partitions``: explicit partition count for the exploded token
    join (the plan's one large shuffle) — at full scale this stage wants far
    more partitions than the session default (SCALE_DESIGN.md prescribes
    ~10^6 at 10^12 docs so each task's join output stays executor-sized),
    while the rest of the query is fine at the session setting. ``None``
    inherits ``spark.sql.shuffle.partitions``. The value is pinned via an
    explicit ``repartition(n)`` so AQE cannot re-coalesce the expansion.

    ``self_join_dedup=True`` (self-join deduplication for clustering
    pipelines) keeps only _l_key < _r_key pairs, applied to the joined rows
    before the verify. ``verify=False`` stops after the filter stack and
    returns candidate pairs without scores (blocking mode; _sim_score
    column absent).

    ``value_dedup``: the kernel's one cost-based decision — dup-heavy corpora
    (re-crawled pages, repeated product names) make the row-level join
    quadratic in the duplicate count for no information: similarity is a
    function of the VALUE, not the row. When the distinct/total ratio of
    the join attrs drops below 0.6 (estimated by one bounded-sample stats
    job — a limit() read, not a corpus scan), the join runs on distinct values only and the result is expanded back
    to rows by two equality joins — identical output, work shrinks by the
    duplication factor squared. ``True``/``False`` force the choice.
    """
    if measure == "overlap_coefficient":
        # the prefix kernel assumes size-monotone bounds; OC has none —
        # its inverted-index plan lives in overlap_join.overlap_coefficient_join
        raise ValueError(
            "overlap_coefficient is not supported by set_sim_join_pairs; "
            "use operators.overlap_join.overlap_coefficient_join"
        )
    validate_attr(ltable, l_key_attr, "left")
    validate_attr(rtable, r_key_attr, "right")
    validate_attr(ltable, l_join_attr, "left")
    validate_attr(rtable, r_join_attr, "right")
    validate_attr_type(ltable, l_join_attr, "left")
    validate_attr_type(rtable, r_join_attr, "right")
    validate_tokenizer(tokenizer)
    validate_threshold(threshold, measure)
    validate_comp_op(comp_op, (">=", ">", "="))
    tok = as_set_tokenizer(tokenizer)

    l_proj = ltable.select(
        F.col(l_key_attr).alias("_l_key"), F.col(l_join_attr).alias("_l_str")
    )
    r_proj = rtable.select(
        F.col(r_key_attr).alias("_r_key"), F.col(r_join_attr).alias("_r_str")
    )
    # self-join detection: same table object + same attrs → tokenize, build
    # the ordering, and rank ONCE; the right side is an alias of the left
    # cache (halves the prep work for clustering/dedup pipelines)
    is_self = ltable is rtable and l_key_attr == r_key_attr and l_join_attr == r_join_attr

    # value dedup is decided from ONE bounded-sample stats job
    # (plans/stats.sample_plan_stats); a prepared corpus carries its own
    plan_stats = None
    if _prepared is not None:
        # prepared self-corpus (operators/prepared.py): the ordering and the
        # ranked arrays are reused as-is — tokenize / ordering-build / rank
        # all skipped. Row-level by construction (prepare over a distinct-
        # value table yourself if your corpus is dup-heavy).
        if not is_self:
            raise ValueError("prepared corpora support self-joins only")
        value_dedup = False
        plan_stats = _prepared.stats
    if value_dedup == "auto":
        if plan_stats is None:
            sides = [(l_proj, "_l_str")]
            if not is_self:
                sides.append((r_proj, "_r_str"))
            plan_stats = sample_plan_stats(sides)
        value_dedup = plan_stats["n"] > 0 and plan_stats["nd"] / plan_stats["n"] < 0.6
    if value_dedup:
        lv = l_proj.where(F.col("_l_str").isNotNull()).select(
            F.col("_l_str").alias("_v")
        ).distinct()
        rv = lv if is_self else r_proj.where(F.col("_r_str").isNotNull()).select(
            F.col("_r_str").alias("_v")
        ).distinct()
        # expansion back to rows joins on the 16-byte md5 content key, not
        # the raw join-attr text — fixed-width shuffle keys at any doc size
        vp = set_sim_join_pairs(
            measure, lv, rv, "_v", "_v", "_v", "_v", tokenizer, threshold,
            comp_op, allow_empty, allow_missing=False,
            position_filter=position_filter, self_join_dedup=False,
            verify=verify, value_dedup=False,
            shuffle_partitions=shuffle_partitions,
            # the inner join's row count is the DISTINCT-value count, not the
            # corpus row count — pass it so the tiny-join gate below can skip
            # the salt probe + exchange pinning for e.g. a 64-value join
            _join_rows_hint=plan_stats["nd"] if plan_stats else None,
        ).select(
            value_hash_col(F.col("_l_key")).alias("_h1"),
            value_hash_col(F.col("_r_key")).alias("_h2"),
            *([F.col("_sim_score")] if verify else []),
        # materialize the value pairs: fused into one codegen stage with the
        # expansion joins, the score (the verify) is evaluated lazily inside
        # each join's match loop — once per EXPANDED row, not per value pair
        # (measured: a 23M-row cosine sweep call 1 s → 6 s)
        ).repartition("_h1")
        l_hm = l_proj.where(F.col("_l_str").isNotNull()).select(
            "_l_key", value_hash_col(F.col("_l_str")).alias("_hl")
        )
        r_hm = r_proj.where(F.col("_r_str").isNotNull()).select(
            "_r_key", value_hash_col(F.col("_r_str")).alias("_hr")
        )
        out = (
            vp.join(l_hm, F.col("_h1") == F.col("_hl"))
            .join(r_hm, F.col("_h2") == F.col("_hr"))
            .select("_l_key", "_r_key", *(["_sim_score"] if verify else []))
        )
        if self_join_dedup:
            out = out.where(F.col("_l_key") < F.col("_r_key"))
        if allow_missing:
            mp = missing_pairs(
                ltable, rtable, l_key_attr, r_key_attr, l_join_attr, r_join_attr
            )
            if not verify:
                mp = mp.select("_l_key", "_r_key")
            out = out.unionByName(mp)
        return out
    # tokenize + the ordering/ranked-table partial aggs run before the first
    # exchange — widen a narrow scan (plans/layout.py; no-op at production
    # split counts); only the branches that tokenize pay its planning trip
    from ..plans.layout import widen_small_scan

    def tokenized(proj, s):
        return widen_small_scan(proj.where(F.col(s).isNotNull())).withColumn("_tokens", tok.spark_col(F.col(s)))

    if _prepared is not None:
        l_rk = _prepared.ranked
        r_rk = l_rk.select(
            F.col("_l_key").alias("_r_key"),
            F.col("_l_ranked").alias("_r_ranked"),
            F.col("_l_size").alias("_r_size"),
        )
    elif is_self:
        l_nn = tokenized(l_proj, "_l_str")
        ordering = build_token_ordering([(l_nn, "_tokens")]).persist().transform(_tc)
        l_rk = add_ranked_tokens(
            l_nn, ["_l_key"], "_tokens", ordering, "_l_ranked", "_l_size"
        ).select("_l_key", "_l_ranked", "_l_size").persist().transform(_tc)
        r_rk = l_rk.select(
            F.col("_l_key").alias("_r_key"),
            F.col("_l_ranked").alias("_r_ranked"),
            F.col("_l_size").alias("_r_size"),
        )
    else:
        l_nn, r_nn = tokenized(l_proj, "_l_str"), tokenized(r_proj, "_r_str")
        ordering = build_token_ordering([(l_nn, "_tokens"), (r_nn, "_tokens")]).persist().transform(_tc)
        l_rk = add_ranked_tokens(
            l_nn, ["_l_key"], "_tokens", ordering, "_l_ranked", "_l_size"
        ).select("_l_key", "_l_ranked", "_l_size").persist().transform(_tc)
        r_rk = add_ranked_tokens(
            r_nn, ["_r_key"], "_tokens", ordering, "_r_ranked", "_r_size"
        ).select("_r_key", "_r_ranked", "_r_size").persist().transform(_tc)

    n_shuffle = shuffle_partitions or int(
        ltable.sparkSession.conf.get("spark.sql.shuffle.partitions", "200")
    )
    n_salts = resolve_salt_parallelism(ltable, n_shuffle)
    # Tiny-join gate: when the join input is provably small (the value-dedup
    # recursion passes the distinct-value count; otherwise the already-paid
    # sampled stats), skip the hot-token probe job and the exchange pinning —
    # salting/pinning protect an EXPLODING join's balance, and below this row
    # count even the worst-case single-bucket join is sub-second while the
    # probe job + two pinned exchanges dominate the query. Never pays a new
    # job: with no hint and no stats the full probe path runs as before.
    est_rows = _join_rows_hint
    if est_rows is None and plan_stats is not None:
        est_rows = plan_stats.get("n")
    tiny_join = est_rows is not None and 0 < est_rows < SALT_PROBE_MIN_ROWS
    if tiny_join:
        hot = {}
    else:
        # prefix explode keeps each record's RAREST tokens — hotness must be
        # measured on the prefix stream itself or templated near-dup corpora
        # serialize the join into one bucket (plans/skew.
        # exploded_hot_token_ranks; measured 29.8s -> fair-share tasks on
        # jaccard_docs sf0.1)
        probe = l_rk.withColumn(
            "_pfx", fm.prefix_length_col(F.col("_l_size"), measure, threshold)
        ).select(F.explode(F.expr("slice(_l_ranked, 1, _pfx)")).alias("_tok"))
        if not is_self and _prepared is None:
            probe = probe.unionByName(
                r_rk.withColumn(
                    "_pfx",
                    fm.prefix_length_col(F.col("_r_size"), measure, threshold),
                ).select(F.explode(F.expr("slice(_r_ranked, 1, _pfx)")).alias("_tok"))
            )
        hot = exploded_hot_token_ranks(probe, n_salts)
    # the ranked arrays ride through the prefix explode so the first-shared-
    # token test and the exact verify run INLINE in the join stage: each
    # pair leaves it once, so no pair aggregate follows the token join
    pl = _prefix_explode(l_rk, "l", measure, threshold)
    pr = _prefix_explode(r_rk, "r", measure, threshold)
    joined = _filter_and_verify(
        salted_token_join(
            pl, pr, hot, pin_partitions=None if tiny_join else n_shuffle
        ),
        measure, threshold, comp_op,
        position_filter=position_filter,
        verify=verify,
        pair_pred=(F.col("_l_key") < F.col("_r_key")) if self_join_dedup else None,
    )
    pairs = joined.select("_l_key", "_r_key", *(["_sim_score"] if verify else []))
    return _append_empty_and_missing(
        pairs, measure, comp_op, threshold, allow_empty, allow_missing,
        l_rk, r_rk, ltable, rtable, l_key_attr, r_key_attr,
        l_join_attr, r_join_attr, self_join_dedup, with_score=verify,
    )


def set_sim_join(
    measure: str,
    ltable: DataFrame,
    rtable: DataFrame,
    l_key_attr: str,
    r_key_attr: str,
    l_join_attr: str,
    r_join_attr: str,
    tokenizer: Tokenizer,
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
    position_filter: bool = True,
    shuffle_partitions: int | None = None,
) -> DataFrame:
    validate_output_attrs(l_out_attrs, r_out_attrs, ltable.columns, rtable.columns)
    pairs = set_sim_join_pairs(
        measure,
        ltable,
        rtable,
        l_key_attr,
        r_key_attr,
        l_join_attr,
        r_join_attr,
        tokenizer,
        threshold,
        comp_op,
        allow_empty,
        allow_missing,
        position_filter,
        shuffle_partitions=shuffle_partitions,
    )
    return assemble_output(
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
        add_dense_id,
    )


def jaccard_join(ltable, rtable, l_key_attr, r_key_attr, l_join_attr, r_join_attr, tokenizer, threshold, **kw):
    """J(tok(l), tok(r)) comp_op threshold  (jaccard_join_py.py:17)."""
    return set_sim_join("jaccard", ltable, rtable, l_key_attr, r_key_attr, l_join_attr, r_join_attr, tokenizer, threshold, **kw)


def cosine_join(ltable, rtable, l_key_attr, r_key_attr, l_join_attr, r_join_attr, tokenizer, threshold, **kw):
    """|∩|/√(|X||Y|) comp_op threshold  (cosine_join_py.py:17)."""
    return set_sim_join("cosine", ltable, rtable, l_key_attr, r_key_attr, l_join_attr, r_join_attr, tokenizer, threshold, **kw)


def dice_join(ltable, rtable, l_key_attr, r_key_attr, l_join_attr, r_join_attr, tokenizer, threshold, **kw):
    """2|∩|/(|X|+|Y|) comp_op threshold  (dice_join_py.py:17)."""
    return set_sim_join("dice", ltable, rtable, l_key_attr, r_key_attr, l_join_attr, r_join_attr, tokenizer, threshold, **kw)
