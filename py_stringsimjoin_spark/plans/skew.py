"""Hot-token skew handling for exploding equi-joins.

The prefix-filter and overlap token joins at the heart of the engine
explode rows by token and hash-join on token. On web text the token
frequencies are Zipfian: the hottest tokens produce join outputs quadratic
in their frequency, all inside ONE hash partition. AQE's skew-join split
cannot help — it splits partitions by *input* bytes, and an exploding
join's input is tiny while its output is enormous (measured here: a
16-token vocabulary at sf0.1 serializes the whole join into ~2 tasks, one
of which runs for minutes).

The engine fixes this with *per-token proportional salting*. One plan-time
job counts every token's frequency in the stream the join actually
explodes (``exploded_hot_token_ranks``: the prefix stream of the
prefix-filter kernels; ``sampled_hot_tokens``: a row sample for the overlap
joins), so each token's share of the total join work (w_t = f_t²,
Σw = Σf²) is known, and each hot token gets exactly the number of salt
buckets its output share needs:

    S_t = ceil(α · P · w_t / Σw),   clamped to [1, α·P]

with P the parallelism target and α a small over-partitioning factor (4).
Tokens with S_t == 1 (the long tail) are untouched; a head token carrying
half the mass is split ~α·P/2 ways. On the probe side hot rows get
``salt = hash(row_key) % S_t``; on the build side hot rows are replicated
S_t times. Each (l_row, r_row, token) match meets in exactly one salt
bucket, so the join output is identical.

Why proportional and not uniform: round 3 measured a uniform S = partitions
policy to be SUPERLINEARLY catastrophic as S grows — on a dup-heavy
small-vocabulary table (every token "hot"), edit-distance at local[32] took
25 s with S=8 but 205-294 s with S=32 (same rows), because every token paid
S× build replication + S× more join buckets for no balance gain: ~50
similar-frequency tokens already spread over 32 partitions nearly evenly.
Proportional sizing reduces that table to S_t ∈ {1,2} (near-zero overhead)
while still splitting a genuine Zipf head token ~α·P ways. At most α·P·2
tokens can have S_t ≥ 2, so the salt map stays driver-tiny at any corpus
size.

Both sides are repartitioned with an explicit numPartitions so AQE's
byte-based coalescing cannot re-serialize the expansion.
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# over-partitioning factor: bounds worst-case per-bucket work share at
# ~(1 + 1/α) of fair while keeping replication ≤ α× the minimum needed.
# Overridable per session with spark.py_stringsimjoin.saltAlpha.
# Round-6 measurement (sf0.1 local[32]): α=2 left the near-hot TAIL —
# tokens just under the Σw/(αP) budget, each assigned whole to one random
# partition — as the join's stragglers (jaccard_docs max task 8.0 s vs
# 1.5 s fair share; the x2 rowlevel kernel 27.1 s). α=4 halves the budget,
# pulling that tail into proportional salting: jaccard_docs 16.1→13.5 s,
# jaccard x2 27.1→19.4 s, at ≤2× extra build-side replication of hot rows
# only. α=8 was already past the replication break-even (x2: 22.2 s).
SALT_ALPHA = 4

# Tiny-join gate of the prefix-filter kernels (set_sim_join_pairs,
# edit_distance_join): a join whose input is known to hold fewer rows than
# this skips the hot-token probe job and the exchange pinning — below it
# even the worst-case single-bucket join is sub-second, while the probe job
# and two pinned exchanges would dominate the query.
SALT_PROBE_MIN_ROWS = 4096


def resolve_salt_alpha(spark) -> int:
    v = spark.conf.get("spark.py_stringsimjoin.saltAlpha", None)
    return int(v) if v else SALT_ALPHA


def resolve_salt_parallelism(df: DataFrame, n_shuffle: int) -> int:
    """Parallelism target P used to size per-token salt counts.

    Defaults to the shuffle partition count; overridable with the session
    conf ``spark.py_stringsimjoin.saltParallelism`` (e.g. pin it to the
    production cluster's total cores to make the physical plan — and the
    two-cluster-size scaling measurement — independent of the session's
    local parallelism)."""
    v = df.sparkSession.conf.get("spark.py_stringsimjoin.saltParallelism", None)
    return int(v) if v else n_shuffle


def _hot_from_tok_stream(spark, tok_stream: DataFrame, parallelism: int,
                         alpha: int, tok_col: str = "_tok") -> dict:
    """{token: S_t} from a one-column token stream with the scale-invariant
    ratio rule (hot ⟺ f² > Σf²/(α·P), S_t = ceil(α·P·f²/Σf²) clamped to
    [2, α·P]).

    ONE eager job total: hotness is monotone in frequency and at most
    cap = α·P tokens can exceed the Σf²/cap budget (k qualifying tokens ⟹
    Σf² ≥ k·min(f²) > k·Σf²/cap ⟹ k < cap), so the top-``cap`` tokens by
    frequency (TakeOrderedAndProject — no full sort) necessarily contain
    every hot token. That branch is UNIONed with the 1-row Σf² aggregate
    over the same frequency plan and collected in a single action — the
    map-side-combined count stage is shared by both branches inside the one
    job, so no persist is needed either. Runs under the utility shuffle
    sizing (plan-time probe, not kernel work)."""
    from .stats import util_shuffle_scope

    freq = tok_stream.groupBy(tok_col).agg(F.count("*").alias("_freq"))
    fd = F.col("_freq").cast("double")
    cap = alpha * max(parallelism, 1)
    tok_type = freq.schema[tok_col].dataType
    sum_branch = freq.agg(F.sum(fd * fd).alias("_w")).select(
        F.lit(None).cast(tok_type).alias(tok_col),
        F.lit(None).cast("long").alias("_freq"),
        "_w",
    )
    top_branch = freq.orderBy(F.col("_freq").desc()).limit(cap).select(
        tok_col, "_freq", F.lit(None).cast("double").alias("_w")
    )
    with util_shuffle_scope(spark):
        rows = sum_branch.unionByName(top_branch).collect()
    w = next((r["_w"] for r in rows if r["_w"] is not None), 0.0) or 0.0
    hot: dict = {}
    if w > 0:
        budget = w / cap
        for r in rows:
            if r["_freq"] is not None and float(r["_freq"]) ** 2 > budget:
                hot[r[tok_col]] = max(
                    2, min(math.ceil(r["_freq"] ** 2 / budget), cap)
                )
    return hot


def exploded_hot_token_ranks(
    ex_probe: DataFrame,
    parallelism: int,
    alpha: int | None = None,
    tok_col: str = "_tok",
) -> dict:
    """{token_rank: S_t} measured on the JOIN'S OWN exploded token stream —
    the prefix stream for prefix-filter joins — not on the global vocabulary.

    Prefix filtering keeps each record's RAREST tokens, so global frequency
    is the wrong hotness measure for a prefix join: on a templated near-dup
    corpus the join's quadratic output concentrates on mid-frequency tokens
    that the global f² rule never flags, because the (never-exploded)
    stopword head inflates Σf² and swallows the budget. Measured on
    jaccard_docs sf0.1 local[16]: ONE task carried 1.4M of the 2.97M join
    outputs (stage wall 29.8 s, median task 4 s, Σtask-wall 117 s) with the
    global rule; the prefix-stream rule splits those buckets to fair share.

    ``ex_probe`` should be the exploded token column only (no arrays, no
    payload) so the probe costs one map-side-combined count per distinct
    token — strictly cheaper than the ordering build that already scanned
    every token once. The counts are exact."""
    spark = ex_probe.sparkSession
    if alpha is None:
        alpha = resolve_salt_alpha(spark)
    return _hot_from_tok_stream(
        spark, ex_probe.select(tok_col), parallelism, alpha, tok_col
    )


def sampled_hot_tokens(
    spark,
    inputs: list,
    tokenizer,
    parallelism: int,
    alpha: int | None = None,
) -> dict:
    """{token: S_t} from a bounded row sample — no full-corpus pass.

    ``inputs`` is a list of ``(DataFrame, join_attr)`` pairs. Each input
    contributes a ``saltSampleFraction`` row sample (default 1%), tokenized
    and frequency-aggregated; hotness is decided on the sampled counts with
    the scale-invariant ratio rule (hot ⟺ f² > Σf²/(α·P), S_t =
    ceil(α·P·f²/Σf²) clamped to [2, α·P]) — under uniform row sampling both
    sides of the ratio scale by ~p², so the sampled plan converges to the
    exact-count plan while tokenizing only the sample. Salting is
    output-invariant: a sampling miss costs balance, never correctness.
    Set the conf to 1.0 for exact counts (one extra corpus pass)."""
    if alpha is None:
        alpha = resolve_salt_alpha(spark)
    p = float(spark.conf.get("spark.py_stringsimjoin.saltSampleFraction", "0.01"))
    tok_stream = None
    for t, a in inputs:
        s = t.select(F.col(a).alias("_s")).where(F.col("_s").isNotNull())
        if p < 1.0:
            # sample ROWS before tokenizing so only the sample pays the
            # tokenize+explode cost
            s = s.sample(fraction=p, seed=42)
        s = s.withColumn("_tokens", tokenizer.spark_col(F.col("_s"))).select(
            F.explode("_tokens").alias("_tok")
        )
        tok_stream = s if tok_stream is None else tok_stream.unionByName(s)
    return _hot_from_tok_stream(spark, tok_stream, parallelism, alpha)


def salted_token_join(
    ex_l: DataFrame,
    ex_r: DataFrame,
    hot: dict[int, int],
    l_salt_key: str = "_l_key",
    tok_col: str = "_tok",
    pin_partitions: int | None = None,
) -> DataFrame:
    """Equi-join two exploded token tables on ``tok_col`` with per-token
    hot salting. With an empty plan this is a plain join (zero overhead)."""
    if not hot:
        if pin_partitions:
            # still pin the exchange so AQE byte-coalescing cannot
            # re-serialize an exploding join with tiny input
            return ex_l.repartition(pin_partitions, F.col(tok_col)).join(
                ex_r.repartition(pin_partitions, F.col(tok_col)), tok_col
            )
        return ex_l.join(ex_r, tok_col)
    # bounded literal map rank -> S_t (≤ α·P entries by construction).
    # Keys are explicitly cast to the _tok column's type: small Python ints
    # would otherwise become IntegerType literals and force a narrowing
    # long→int cast on the LOOKUP KEY, which for ≥2^31 token ranks (the
    # web-scale vocabulary regime) wraps, misses the map, and silently
    # disables the hot-token salting (advisor finding). String-keyed maps
    # (the overlap joins salt on raw tokens) pass through unchanged.
    key_type = dict(ex_l.dtypes).get(tok_col, "bigint")
    key_lit = (
        (lambda k: F.lit(k).cast("long"))
        if key_type in ("bigint", "int", "smallint", "tinyint")
        else F.lit
    )
    pairs = [
        x
        for kv in sorted(hot.items())
        for x in (key_lit(kv[0]), F.lit(int(kv[1])).cast("int"))
    ]
    smap = F.create_map(*pairs)
    s_col: Column = F.coalesce(smap[F.col(tok_col)], F.lit(1))
    l2 = ex_l.withColumn(
        "_salt", F.pmod(F.xxhash64(F.col(l_salt_key)), s_col).cast("int")
    )
    r2 = ex_r.withColumn(
        "_salt",
        F.explode(F.sequence(F.lit(0), (s_col - F.lit(1)).cast("int"))),
    )
    if pin_partitions:
        # Widen the pinned exchange when the hot-bucket count approaches the
        # partition count: each hot (token, salt) bucket carries up to
        # Σw/(α·P) of the join's work, and with only ~P partitions for ~2αP
        # buckets, balls-into-bins collisions put 4-5 heavy buckets in one
        # partition (measured: 2.4× max/median task skew on jaccard_docs at
        # local[16]). With partitions ≥ 2× the bucket count the scheduler
        # bin-packs instead, and the wall approaches the design bound
        # (1 + 1/α)× fair share. At production scale this is a no-op:
        # saltParallelism is pinned to cluster cores, so the bucket count
        # (≤ 2α·cores) sits far below the prescribed ~10^6 shuffle
        # partitions and max() keeps the workload sizing. The factor-8 cap
        # bounds task-count inflation in misconfigured sessions.
        n_buckets = sum(hot.values())
        pin_eff = max(pin_partitions, min(2 * n_buckets, 8 * pin_partitions))
        l2 = l2.repartition(pin_eff, F.col(tok_col), F.col("_salt"))
        r2 = r2.repartition(pin_eff, F.col(tok_col), F.col("_salt"))
    return l2.join(r2, [tok_col, "_salt"]).drop("_salt")
