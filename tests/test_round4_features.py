"""Round-4 features: key-dtype output invariance, bounded-sample plan
stats, sampled hot-token salting, prepared corpora."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from py_stringsimjoin_spark.functions.tokenizers import WhitespaceTokenizer
from py_stringsimjoin_spark.plans.stats import sample_plan_stats

_WS = WhitespaceTokenizer(return_set=True)


def _string_keyed(df):
    """The same table with its long ``id`` cast to string."""
    return df.withColumn("id", F.col("id").cast("string"))


def test_key_dtype_output_invariant(spark):
    """Long keys and the same keys as strings give the same pairs and
    scores."""
    from py_stringsimjoin_spark.operators.set_sim_join import set_sim_join_pairs

    rows = [
        (i, f"{a} {b}")
        for i, (a, b) in enumerate(
            [(x, y) for x in "abcdef" for y in "abcdef"] * 3
        )
    ]
    long_keyed = spark.createDataFrame(rows, "id long, s string")

    def run(table):
        out = set_sim_join_pairs(
            "jaccard", table, table, "id", "id", "s", "s", _WS, 0.5,
            self_join_dedup=False, value_dedup=False,
        )
        return sorted(
            (str(r["_l_key"]), str(r["_r_key"]), round(r["_sim_score"], 9))
            for r in out.collect()
        )

    on = run(long_keyed)
    assert on == run(_string_keyed(long_keyed)) and len(on) > 0


def test_edit_distance_key_dtype_invariant(spark, person_tables):
    """Edit-distance join: long keys vs the same keys as strings."""
    from py_stringsimjoin_spark.operators.edit_distance_join import (
        edit_distance_join,
    )

    A, B = person_tables
    # a1..a7 -> 1..7, b1..b8 -> 101..108
    la = A.select(F.substring("ID", 2, 9).cast("long").alias("id"), "name")
    lb = B.select((F.substring("ID", 2, 9).cast("long") + 100).alias("id"), "name")

    def run(a, b):
        out = edit_distance_join(
            a, b, "id", "id", "name", "name", 3, value_dedup=False,
        )
        return sorted(
            (str(r["l_id"]), str(r["r_id"]), r["_sim_score"]) for r in out.collect()
        )

    on = run(la, lb)
    assert on == run(_string_keyed(la), _string_keyed(lb)) and len(on) > 0


def test_sample_plan_stats(spark):
    df = spark.createDataFrame(
        [(i, "a b c" if i % 2 == 0 else "d e") for i in range(1000)],
        "id long, s string",
    )
    st = sample_plan_stats([(df, "s")])
    assert st["n"] == 1000
    assert 1 <= st["nd"] <= 3
    # sample cap honored
    st2 = sample_plan_stats([(df, "s")], sample_rows=100)
    assert st2["n"] == 100
    # exact mode
    st3 = sample_plan_stats([(df, "s")], sample_rows=0)
    assert st3["n"] == 1000


def test_overlap_salt_sampling_invariant(spark):
    from py_stringsimjoin_spark.operators.overlap_join import overlap_join

    rows = [(i, f"t{i % 5} t{(i + 1) % 5} common") for i in range(200)]
    tbl = spark.createDataFrame(rows, "id long, s string")

    def run(fraction):
        spark.conf.set("spark.py_stringsimjoin.saltSampleFraction", fraction)
        try:
            out = overlap_join(
                tbl, tbl, "id", "id", "s", "s", _WS, 2, value_dedup=False
            ).where(F.col("l_id") < F.col("r_id"))
            return sorted((r["l_id"], r["r_id"], r["_sim_score"]) for r in out.collect())
        finally:
            spark.conf.unset("spark.py_stringsimjoin.saltSampleFraction")

    exact = run("1.0")
    sampled = run("0.05")
    assert exact == sampled and len(exact) > 0


def _pairs_set(df):
    return sorted(
        (r["_l_key"], r["_r_key"], round(r["_sim_score"], 9)) for r in df.collect()
    )


def test_prepared_corpus_matches_direct(spark, tmp_path):
    from py_stringsimjoin_spark.operators.prepared import PreparedSetSimCorpus
    from py_stringsimjoin_spark.operators.set_sim_join import set_sim_join_pairs

    rows = [
        (i, f"{a} {b} {c}")
        for i, (a, b, c) in enumerate(
            [(x, y, z) for x in "abcd" for y in "abcd" for z in "abcd"]
        )
    ]
    tbl = spark.createDataFrame(rows, "id long, s string")

    corpus = PreparedSetSimCorpus(tbl, "id", "s", _WS)
    for measure, t in (("jaccard", 0.5), ("cosine", 0.7), ("dice", 0.6)):
        direct = set_sim_join_pairs(
            measure, tbl, tbl, "id", "id", "s", "s", _WS, t,
            self_join_dedup=True, value_dedup=False,
        )
        prepared = corpus.join_pairs(measure, t, self_join_dedup=True)
        assert _pairs_set(prepared) == _pairs_set(direct), (measure, t)
        assert len(_pairs_set(prepared)) > 0

    # path-persisted variant: reload from parquet, same results
    p = str(tmp_path / "corpus")
    corpus2 = PreparedSetSimCorpus(tbl, "id", "s", _WS, path=p)
    direct = set_sim_join_pairs(
        "jaccard", tbl, tbl, "id", "id", "s", "s", _WS, 0.5,
        self_join_dedup=True, value_dedup=False,
    )
    assert _pairs_set(corpus2.join_pairs("jaccard", 0.5, self_join_dedup=True)) == _pairs_set(direct)

    # cross-session reload: load() must skip preparation (no ordering/rank
    # rebuild) and reproduce the direct join exactly
    corpus3 = PreparedSetSimCorpus.load(tbl, "id", "s", _WS, p)
    assert _pairs_set(corpus3.join_pairs("jaccard", 0.5, self_join_dedup=True)) == _pairs_set(direct)


def test_prepared_corpus_bucketed(spark, tmp_path):
    from py_stringsimjoin_spark.operators.prepared import PreparedSetSimCorpus
    from py_stringsimjoin_spark.operators.set_sim_join import set_sim_join_pairs

    rows = [(i, f"w{i % 6} w{(i + 2) % 6}") for i in range(60)]
    tbl = spark.createDataFrame(rows, "id long, s string")
    p = str(tmp_path / "bk")
    corpus = PreparedSetSimCorpus(
        tbl, "id", "s", _WS, path=p, buckets=2, table_name="t_r4_bucketed"
    )
    try:
        direct = set_sim_join_pairs(
            "jaccard", tbl, tbl, "id", "id", "s", "s", _WS, 0.5,
            self_join_dedup=True, value_dedup=False,
        )
        got = corpus.join_pairs("jaccard", 0.5, self_join_dedup=True)
        assert _pairs_set(got) == _pairs_set(direct)
    finally:
        spark.sql("DROP TABLE IF EXISTS t_r4_bucketed")
