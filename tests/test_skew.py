import pytest
from pyspark.sql import functions as F

from py_stringsimjoin_spark.functions.tokenizers import WhitespaceTokenizer
from py_stringsimjoin_spark.operators.set_sim_join import set_sim_join_pairs
from py_stringsimjoin_spark.operators.token_ordering import build_token_ordering
from py_stringsimjoin_spark.plans.skew import (
    exploded_hot_token_ranks,
    salted_token_join,
)


@pytest.fixture(scope="module")
def skewed(spark):
    """200 rows over a 6-word vocab with one scorching token ('hot' in every
    row) — the shape AQE cannot split (tiny input, quadratic join output)."""
    rows = [
        (i, "hot " + ["alpha", "beta", "gamma", "delta", "eps"][i % 5]
         + (" alpha" if i % 7 == 0 else ""))
        for i in range(200)
    ]
    return spark.createDataFrame(rows, ["id", "txt"])


def test_salted_join_identical_output(spark, skewed):
    """Salted and unsalted token joins must produce the same joined row
    multiset (projected to keys)."""
    tok = WhitespaceTokenizer(return_set=True)
    from py_stringsimjoin_spark.operators.token_ordering import add_ranked_tokens

    base = skewed.select(F.col("id").alias("_k"), tok.spark_col(F.col("txt")).alias("_tokens"))
    ordering = build_token_ordering([(base, "_tokens")])
    rk = add_ranked_tokens(base, ["_k"], "_tokens", ordering, "_r", "_n")
    ex_l = rk.select(F.col("_k").alias("_l_key"), F.explode("_r").alias("_tok"))
    ex_r = rk.select(F.col("_k").alias("_r_key"), F.explode("_r").alias("_tok"))
    # both sides explode the same token stream; measure it once
    hot = exploded_hot_token_ranks(ex_l, 4)
    assert hot
    plain = ex_l.join(ex_r, "_tok").groupBy("_l_key", "_r_key").count()
    salted = (
        salted_token_join(ex_l, ex_r, hot, l_salt_key="_l_key",
                          pin_partitions=4)
        .groupBy("_l_key", "_r_key").count()
    )
    a = {(r["_l_key"], r["_r_key"], r["count"]) for r in plain.collect()}
    b = {(r["_l_key"], r["_r_key"], r["count"]) for r in salted.collect()}
    assert a == b


def test_set_sim_join_salted_vs_plain(spark, skewed):
    """End-to-end: forcing the row-level path on the skewed corpus (salting
    active for the universal token) matches the brute-force score set."""
    tok = WhitespaceTokenizer(return_set=True)
    out = set_sim_join_pairs(
        "jaccard", skewed, skewed, "id", "id", "txt", "txt", tok, 0.5,
        allow_empty=False, self_join_dedup=True, value_dedup=False,
    )
    got = {(r["_l_key"], r["_r_key"], round(r["_sim_score"], 12)) for r in out.collect()}
    rows = {r["id"]: set(r["txt"].split()) for r in skewed.collect()}
    exp = set()
    for li, lt in rows.items():
        for ri, rt in rows.items():
            if li < ri:
                j = len(lt & rt) / len(lt | rt)
                if j >= 0.5:
                    exp.add((li, ri, round(j, 12)))
    assert got == exp
