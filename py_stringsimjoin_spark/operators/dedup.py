"""Document deduplication suite for web-scale training-data pipelines.

Beyond the reference's pairwise joins, a 100 TB corpus pipeline needs
first-class dedup operators. All are declarative DataFrame plans:

* ``exact_duplicates``      — md5(text) hash groupBy (zero UDF)
* ``minhash_lsh_pairs``     — shingle → minhash signature → banded bucket
                              self-join → candidates (all JVM expressions;
                              hash functions are md5-derived so the same
                              pipeline is reproducible in any engine)
* ``minhash_dedup``         — candidates → exact shingle-Jaccard verify →
                              threshold pairs
* ``simhash_pairs``         — 64-bit SimHash, banded hamming-≤k candidate
                              generation + exact bit_count verify (zero UDF)
* ``ngram_jaccard_dedup``   — n-gram shingle Jaccard join (reuses the
                              prefix-filter join kernel)
* ``dedup_groups``          — pairs → connected components → (id, group_id)

Scale: every operator is explode + hash-join + groupBy shaped — shuffles on
token/band keys, AQE-skew-safe, no driver-side collection anywhere.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.tokenizers import ShingleTokenizer, Tokenizer
from .connected_components import connected_components
from .set_sim_join import set_sim_join_pairs

# 31-bit Mersenne prime. Token hashes are 28-bit (7 md5 hex chars) and the
# permutation multipliers are < 2^31, so a*x+b stays < 2^63 — NO int64
# overflow in any engine. That makes the exact same signature reproducible in
# Spark, DuckDB, pandas, anywhere (overflow wrapping is engine-specific;
# staying under 2^63 sidesteps it entirely).
MINHASH_MERSENNE = (1 << 31) - 1


def minhash_perm_params(num_perm: int) -> list[tuple[int, int]]:
    params = []
    a, b = 0x9E3779B9, 0xC2B2AE35
    for i in range(num_perm):
        params.append(
            (((a * (2 * i + 1)) % MINHASH_MERSENNE) | 1, (b * (i + 1)) % MINHASH_MERSENNE)
        )
    return params


def _token_hash_col(tok_col) -> "F.Column":
    # md5 → first 7 hex chars (28 bits) → bigint: portable across engines
    return F.conv(F.substring(F.md5(tok_col), 1, 7), 16, 10).cast("long")


def exact_duplicates(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """(id, group_id, group_size) for rows whose text appears more than once;
    group_id = min(id) over identical md5(text)."""
    h = df.select(F.col(id_col).alias("id"), F.md5(F.col(text_col)).alias("_h"))
    g = h.groupBy("_h").agg(
        F.min("id").alias("group_id"), F.count("*").alias("group_size")
    )
    return (
        h.join(g, "_h")
        .where(F.col("group_size") > 1)
        .select("id", "group_id", "group_size")
    )


def band_bucket_exprs(sig_cols: list["F.Column"], bands: int) -> list["F.Column"]:
    """One md5 bucket Column per LSH band from ``num_perm`` per-permutation
    signature Columns. The SINGLE definition of the band-bucket hash — the
    batch self-join, the curation increment and the containment LSH plan
    all call it, so a row lands in the same bucket in each."""
    if len(sig_cols) % bands:
        raise ValueError("num_perm must be divisible by bands")
    rpb = len(sig_cols) // bands
    return [
        F.md5(
            F.concat_ws(
                ",",
                F.lit(bi),
                *[sig_cols[bi * rpb + j].cast("string") for j in range(rpb)],
            )
        )
        for bi in range(bands)
    ]


def minhash_band_rows(
    df: DataFrame,
    id_col: str,
    text_col: str,
    tokenizer: Tokenizer | None = None,
    num_perm: int = 64,
    bands: int = 16,
) -> DataFrame:
    """(id, _band, _bucket) LSH band assignments — the persistable half of
    the near-dup join. A row collides with another iff they share a
    (_band, _bucket); CurationPipeline.increment persists this table so a
    crawl delta probes EXISTING buckets instead of re-signing the corpus
    (the single-definition band hash, ``band_bucket_exprs``)."""
    if num_perm % bands:
        raise ValueError("num_perm must be divisible by bands")
    tok = tokenizer or ShingleTokenizer(n=3)
    # flat signature plan: explode tokens once, hash once per row, then ONE hash-aggregate with num_perm
    # codegen'd MIN columns — the array-expression form evaluates the
    # permutations interpreted per element and scales poorly
    from ..plans.layout import widen_small_scan

    base = (
        # tokenize + per-token md5 + the signature partial-agg all run
        # before the first exchange: widen a narrow scan or they serialize
        # onto one task (plans/layout.py; no-op at production split counts)
        widen_small_scan(
            df.select(F.col(id_col).alias("id"), F.col(text_col).alias("_t"))
        )
        .where(F.col("_t").isNotNull())
        .withColumn("_tokens", tok.spark_col(F.col("_t")))
        # no size(_tokens)>0 filter: the explode below drops empty-token rows
        # identically, and the filter — being pushable — dragged the whole
        # tokenizer below the widening exchange back onto the 1-task scan
    )
    rows = base.select("id", F.explode("_tokens").alias("_tok")).select(
        "id", _token_hash_col(F.col("_tok")).alias("_h")
    )
    params = minhash_perm_params(num_perm)
    sig = rows.groupBy("id").agg(
        *[
            F.min((F.col("_h") * F.lit(a) + F.lit(b)) % F.lit(MINHASH_MERSENNE)).alias(f"_s{i}")
            for i, (a, b) in enumerate(params)
        ]
    )
    buckets = band_bucket_exprs([F.col(f"_s{i}") for i in range(num_perm)], bands)
    return sig.select(
        "id", F.posexplode(F.array(*buckets)).alias("_band", "_bucket")
    )


def minhash_lsh_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    tokenizer: Tokenizer | None = None,
    num_perm: int = 64,
    bands: int = 16,
) -> DataFrame:
    """Candidate near-dup pairs (l_id < r_id) sharing ≥1 LSH band bucket."""
    band_rows = minhash_band_rows(df, id_col, text_col, tokenizer, num_perm, bands)
    a = band_rows.select(F.col("id").alias("l_id"), "_band", "_bucket")
    b = band_rows.select(F.col("id").alias("r_id"), "_band", "_bucket")
    return (
        a.join(b, ["_band", "_bucket"])
        .where(F.col("l_id") < F.col("r_id"))
        .select("l_id", "r_id")
        .distinct()
    )


def verify_jaccard_pairs(
    cand: DataFrame,
    docs: DataFrame,
    id_col: str,
    text_col: str,
    tokenizer: Tokenizer,
    threshold: float,
) -> DataFrame:
    """Exact shingle-Jaccard verification of (l_id, r_id) candidates →
    (l_id, r_id, jaccard) rows at or above ``threshold``."""
    toks = (
        docs.select(
            F.col(id_col).alias("id"), tokenizer.spark_col(F.col(text_col)).alias("_tk")
        )
        .where(F.col("_tk").isNotNull())
    )
    l = toks.select(F.col("id").alias("l_id"), F.col("_tk").alias("_lt"))
    r = toks.select(F.col("id").alias("r_id"), F.col("_tk").alias("_rt"))
    return (
        cand.join(l, "l_id")
        .join(r, "r_id")
        .withColumn("_ov", F.size(F.array_intersect("_lt", "_rt")))
        .withColumn(
            "jaccard",
            F.col("_ov").cast("double")
            / (F.size("_lt") + F.size("_rt") - F.col("_ov")).cast("double"),
        )
        .where(F.col("jaccard") >= threshold)
        .select("l_id", "r_id", "jaccard")
    )


def minhash_dedup(
    df: DataFrame,
    id_col: str,
    text_col: str,
    threshold: float = 0.8,
    tokenizer: Tokenizer | None = None,
    num_perm: int = 64,
    bands: int = 16,
) -> DataFrame:
    """LSH candidates verified with exact shingle Jaccard ≥ threshold →
    (l_id, r_id, jaccard)."""
    tok = tokenizer or ShingleTokenizer(n=3)
    cand = minhash_lsh_pairs(df, id_col, text_col, tok, num_perm, bands)
    return verify_jaccard_pairs(cand, df, id_col, text_col, tok, threshold)


def simhash_col(tokens_col, bits: int = 64) -> "F.Column":
    """64-bit SimHash as a bigint column — majority vote per bit over token
    hashes, pure JVM bit arithmetic. Token hashes are 28-bit md5 slices, so
    bit i draws from md5(token + salt_{i//28}) at position i%28.

    Single-pass formulation: one ``aggregate`` over the tokens carrying a
    64-counter vote array (zip_with per element), with the 2-3 salted md5s
    hashed once per token — instead of 64 independent aggregates that each
    re-traverse the array and re-hash every token (64× the md5 work and a
    codegen-hostile expression tree)."""
    n_salts = (bits + 27) // 28

    def _salted_hashes(t):
        return F.array(
            *[
                _token_hash_col(t if s == 0 else F.concat(t, F.lit(f"#{s}")))
                for s in range(n_salts)
            ]
        )

    th = F.transform(tokens_col, _salted_hashes)

    def _bits_of(hs):
        return F.array(
            *[
                F.shiftright(hs[i // 28], i % 28).bitwiseAND(F.lit(1))
                for i in range(bits)
            ]
        )

    weights = F.array(
        *[
            F.lit(-(2**63) if i == 63 else (1 << i)).cast("long")
            for i in range(bits)
        ]
    )
    # pack inside the aggregate's finish lambda: the votes array is
    # referenced exactly once, keeping the serialized plan small
    return F.aggregate(
        th,
        F.array_repeat(F.lit(0).cast("long"), bits),
        lambda acc, hs: F.zip_with(acc, _bits_of(hs), lambda a, b: a + 2 * b - 1),
        lambda votes: F.aggregate(
            F.zip_with(
                votes, weights,
                lambda v, w: F.when(v > 0, w).otherwise(F.lit(0).cast("long")),
            ),
            F.lit(0).cast("long"),
            lambda a, x: a + x,
        ),
    )


def simhash_table(
    df: DataFrame,
    id_col: str,
    text_col: str,
    tokenizer: Tokenizer | None = None,
    bits: int = 64,
) -> DataFrame:
    """(id, _sh) — identical bits to ``simhash_col`` but computed as a FLAT
    plan: explode tokens → 3 salted md5 hashes per row → one hash-aggregate
    with 64 codegen'd SUM columns (vote per bit) → pack. The expression-tree
    formulation (``aggregate`` + ``zip_with`` per token) runs interpreted per
    element and was the worst scaler in the suite; this shape is a plain
    explode + groupBy that whole-stage codegen and AQE handle like any other
    aggregation."""
    tok = tokenizer or ShingleTokenizer(n=2)
    n_salts = (bits + 27) // 28
    from ..plans.layout import widen_small_scan

    base = (
        # 3 salted md5s per token before the first exchange — widen a
        # narrow scan (plans/layout.py; production splits make it a no-op)
        widen_small_scan(
            df.select(F.col(id_col).alias("id"), F.col(text_col).alias("_t"))
        )
        .where(F.col("_t").isNotNull())
        .withColumn("_tokens", tok.spark_col(F.col("_t")))
        # no size filter — explode drops empties; see minhash_band_rows
    )
    t = F.col("_tok")
    rows = base.select("id", F.explode("_tokens").alias("_tok")).select(
        "id",
        *[
            _token_hash_col(t if s == 0 else F.concat(t, F.lit(f"#{s}"))).alias(f"_h{s}")
            for s in range(n_salts)
        ],
    )
    votes = rows.groupBy("id").agg(
        *[
            F.sum(
                F.shiftright(F.col(f"_h{i // 28}"), i % 28).bitwiseAND(F.lit(1))
                * F.lit(2)
                - F.lit(1)
            ).alias(f"_v{i}")
            for i in range(bits)
        ]
    )
    # pack: ascending bit order keeps every partial sum of weights in range
    # (the sign bit's -2^63 comes last)
    sh = F.lit(0).cast("long")
    for i in range(bits):
        w = F.lit(-(2**63) if i == 63 else (1 << i)).cast("long")
        sh = sh + F.when(F.col(f"_v{i}") > 0, w).otherwise(F.lit(0).cast("long"))
    return votes.select("id", sh.alias("_sh"))


def simhash_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    max_hamming: int = 3,
    tokenizer: Tokenizer | None = None,
) -> DataFrame:
    """Pairs with SimHash hamming distance ≤ max_hamming.

    Candidate generation: split the 64-bit hash into (max_hamming+1) blocks —
    any qualifying pair agrees exactly on ≥1 block (pigeonhole) → block-value
    bucket join; verify with bit_count(xor). Zero UDFs end to end.
    """
    tok = tokenizer or ShingleTokenizer(n=2)
    nblocks = max_hamming + 1
    width = 64 // nblocks
    base = simhash_table(df, id_col, text_col, tok)
    blocks = base.select(
        "id",
        "_sh",
        F.posexplode(
            F.array(
                *[
                    F.shiftrightunsigned(F.col("_sh"), i * width).bitwiseAND(
                        F.lit((1 << width) - 1)
                    )
                    for i in range(nblocks)
                ]
            )
        ).alias("_blk", "_val"),
    )
    a = blocks.select(F.col("id").alias("l_id"), F.col("_sh").alias("_lsh"), "_blk", "_val")
    b = blocks.select(F.col("id").alias("r_id"), F.col("_sh").alias("_rsh"), "_blk", "_val")
    return (
        a.join(b, ["_blk", "_val"])
        .where(F.col("l_id") < F.col("r_id"))
        .select("l_id", "r_id", "_lsh", "_rsh")
        .distinct()
        .withColumn("hamming", F.bit_count(F.col("_lsh").bitwiseXOR(F.col("_rsh"))))
        .where(F.col("hamming") <= max_hamming)
        .select("l_id", "r_id", "hamming")
    )


def ngram_jaccard_dedup(
    df: DataFrame,
    id_col: str,
    text_col: str,
    threshold: float = 0.8,
    n: int = 3,
) -> DataFrame:
    """Exact n-gram-shingle Jaccard near-dup pairs via the prefix-filter join
    kernel (guaranteed complete, unlike LSH)."""
    tok = ShingleTokenizer(n=n)
    pairs = set_sim_join_pairs(
        "jaccard", df, df, id_col, id_col, text_col, text_col, tok, threshold,
        allow_empty=False, self_join_dedup=True,
    )
    return pairs.select(
        F.col("_l_key").alias("l_id"),
        F.col("_r_key").alias("r_id"),
        F.col("_sim_score").alias("jaccard"),
    )


def dedup_groups(df: DataFrame, id_col: str, pairs: DataFrame) -> DataFrame:
    """(id, group_id): transitive closure of dup pairs; singletons keep
    their own id."""
    comp = connected_components(pairs, "l_id", "r_id")
    ids = df.select(F.col(id_col).alias("id"))
    return ids.join(comp, ids["id"] == comp["node"], "left").select(
        "id", F.coalesce("component", "id").alias("group_id")
    )


def canonical_url_groups(df: DataFrame, id_col: str, url_col: str) -> DataFrame:
    """URL-recrawl dedup: rows whose CANONICAL URL coincides.

    Returns ``(id, canonical_url, group_id, group_size)`` for rows whose
    ``functions.urls.normalize_url_expr`` form appears more than once;
    ``group_id`` = min(id) over the group. The standard first pass over a
    web crawl — the same page recrawled as http/https, with/without
    ``www.``/tracking params/fragment, collapses here before any
    similarity join runs (exact_duplicates catches identical BODIES; this
    catches identical RESOURCES whose bodies may drift between crawls).

    Scale shape: normalization is pure scalar expressions (no UDF, no
    shuffle); the one aggregation groups on the 16-byte ``unhex(md5())``
    of the canonical string so the shuffle key is fixed-width regardless
    of URL length (same policy as the value-dedup expansion join,
    set_sim_join.py).
    """
    from ..functions.urls import normalize_url_expr

    h = df.select(
        F.col(id_col).alias("id"),
        normalize_url_expr(F.col(url_col)).alias("canonical_url"),
    ).withColumn("_h", F.unhex(F.md5("canonical_url")))
    g = h.groupBy("_h").agg(
        F.min("id").alias("group_id"), F.count("*").alias("group_size")
    )
    return (
        h.join(g, "_h")
        .where(F.col("group_size") > 1)
        .select("id", "canonical_url", "group_id", "group_size")
    )


def plan_lsh_params(
    threshold: float,
    num_perm: int = 128,
    fp_weight: float = 0.5,
    fn_weight: float = 0.5,
    grid: int = 1000,
) -> dict:
    """Choose (bands, rows) for ``minhash_lsh_pairs`` at a target Jaccard
    threshold — the datasketch-style S-curve optimizer, restricted to band
    counts that divide ``num_perm`` (the banding layout
    ``band_bucket_exprs`` requires).

    For b bands of r rows, P(candidate | jaccard=s) = 1 − (1 − s^r)^b.
    The planner integrates the curve numerically (midpoint rule, ``grid``
    cells): FP mass = ∫_0^t P(s) ds, FN mass = ∫_t^1 (1 − P(s)) ds, and
    picks the divisor pair minimizing fp_weight·FP + fn_weight·FN.
    Skew-aware deployments up-weight ``fp_weight``: at corpus scale false
    positives cost verify work on every candidate, while false negatives
    only cost recall.

    Returns {"bands", "rows", "fp", "fn", "s50"} where s50 = (1/b)^(1/r)
    is the similarity at 50% candidate probability — the curve's midpoint,
    which lands near ``threshold`` for the chosen pair. Pure plan-time
    arithmetic: no Spark job, no data touched.
    """
    if not (0.0 < threshold < 1.0):
        raise ValueError("threshold must be in (0, 1)")
    if num_perm < 2:
        raise ValueError("num_perm must be >= 2")
    best = None
    for b in range(1, num_perm + 1):
        if num_perm % b:
            continue
        r = num_perm // b
        fp = fn = 0.0
        for i in range(grid):
            s = (i + 0.5) / grid
            p = 1.0 - (1.0 - s**r) ** b
            if s < threshold:
                fp += p
            else:
                fn += 1.0 - p
        fp /= grid
        fn /= grid
        err = fp_weight * fp + fn_weight * fn
        if best is None or err < best[0]:
            best = (err, b, r, fp, fn)
    _, b, r, fp, fn = best
    return {
        "bands": b,
        "rows": r,
        "fp": fp,
        "fn": fn,
        "s50": (1.0 / b) ** (1.0 / r),
    }
