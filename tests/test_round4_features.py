"""Round-4 features: pair-key packing, bounded-sample plan stats, sampled
hot-token salting."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import IntegerType, LongType

from py_stringsimjoin_spark.functions.tokenizers import WhitespaceTokenizer
from py_stringsimjoin_spark.plans.pairkey import PairPacker, resolve_pair_packer
from py_stringsimjoin_spark.plans.stats import sample_plan_stats

_WS = WhitespaceTokenizer(return_set=True)

I32_MAX = (1 << 31) - 1
I32_MIN = -(1 << 31)


def test_pair_packer_roundtrip(spark):
    cases = [
        (0, 0),
        (1, 2),
        (-1, 3),
        (5, -3),
        (-7, -9),
        (I32_MAX, I32_MIN),
        (I32_MIN, I32_MAX),
        (I32_MAX, I32_MAX),
        (I32_MIN, I32_MIN),
    ]
    df = spark.createDataFrame(cases, "l long, r long")
    p = PairPacker(LongType(), LongType())
    out = df.select(
        "l",
        "r",
        p.unpack_l(p.pack(F.col("l"), F.col("r"))).alias("ul"),
        p.unpack_r(p.pack(F.col("l"), F.col("r"))).alias("ur"),
    ).collect()
    for row in out:
        assert (row["ul"], row["ur"]) == (row["l"], row["r"]), row
    # packing is injective over the case set
    packed = df.select(p.pack(F.col("l"), F.col("r")).alias("pk")).collect()
    assert len({r["pk"] for r in packed}) == len(cases)


def test_pair_packer_int_types(spark):
    df = spark.createDataFrame([(7, -8)], "l int, r int")
    p = PairPacker(IntegerType(), IntegerType())
    row = df.select(
        p.unpack_l(p.pack(F.col("l"), F.col("r"))).alias("ul"),
        p.unpack_r(p.pack(F.col("l"), F.col("r"))).alias("ur"),
    ).first()
    assert (row["ul"], row["ur"]) == (7, -8)
    assert row.__fields__ and df.select(
        p.pack(F.col("l"), F.col("r"))
    ).schema[0].dataType == LongType()


def test_resolve_pair_packer(spark):
    ok = spark.createDataFrame([(1, "a"), (2, "b")], "k long, v string")
    assert resolve_pair_packer(ok, ok, "k", "k", True) is not None
    # long keys out of i32 range -> refuse
    big = spark.createDataFrame([(1 << 40, "a")], "k long, v string")
    assert resolve_pair_packer(big, big, "k", "k", True) is None
    # either side out of range -> refuse (non-self path)
    assert resolve_pair_packer(ok, big, "k", "k", False) is None
    # NULL keys would collapse pairs -> refuse
    nullk = spark.createDataFrame([(None, "a"), (2, "b")], "k long, v string")
    assert resolve_pair_packer(nullk, nullk, "k", "k", True) is None
    # non-integral keys -> refuse without any job
    s = spark.createDataFrame([("x", "a")], "k string, v string")
    assert resolve_pair_packer(s, s, "k", "k", True) is None
    # int keys are statically safe (no bounds job)
    ints = spark.createDataFrame([(1, "a")], "k int, v string")
    assert resolve_pair_packer(ints, ints, "k", "k", True) is not None


def _string_keyed(df):
    """The same table with its long ``id`` cast to string: never packed."""
    return df.withColumn("id", F.col("id").cast("string"))


def test_packing_output_invariant(spark):
    """Long keys (packed) and the same keys as strings (never packed) give
    the same pairs and scores."""
    from py_stringsimjoin_spark.operators.set_sim_join import set_sim_join_pairs

    rows = [
        (i, f"{a} {b}")
        for i, (a, b) in enumerate(
            [(x, y) for x in "abcdef" for y in "abcdef"] * 3
        )
    ]
    packed = spark.createDataFrame(rows, "id long, s string")
    unpacked = _string_keyed(packed)
    assert resolve_pair_packer(packed, packed, "id", "id", True) is not None
    assert resolve_pair_packer(unpacked, unpacked, "id", "id", True) is None

    def run(table):
        out = set_sim_join_pairs(
            "jaccard", table, table, "id", "id", "s", "s", _WS, 0.5,
            self_join_dedup=False, value_dedup=False,
        )
        return sorted(
            (str(r["_l_key"]), str(r["_r_key"]), round(r["_sim_score"], 9))
            for r in out.collect()
        )

    on = run(packed)
    assert on == run(unpacked) and len(on) > 0


def test_edit_distance_packing_invariant(spark, person_tables):
    """Edit-distance join: long keys (packed) vs the same keys as strings
    (never packed)."""
    from py_stringsimjoin_spark.operators.edit_distance_join import (
        edit_distance_join,
    )

    A, B = person_tables
    # a1..a7 -> 1..7, b1..b8 -> 101..108
    la = A.select(F.substring("ID", 2, 9).cast("long").alias("id"), "name")
    lb = B.select((F.substring("ID", 2, 9).cast("long") + 100).alias("id"), "name")
    assert resolve_pair_packer(la, lb, "id", "id", False) is not None

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
    # the packer decision is resolved once and memoized across the sweep
    assert corpus3.resolve_packer() is corpus3.resolve_packer()


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
