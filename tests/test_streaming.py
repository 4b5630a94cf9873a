"""Stateless operators run unchanged on a structured stream."""

from pyspark.sql import types as T


def test_streaming_fs_scoring(spark, tmp_path):
    """Fellegi–Sunter agreement + scoring + decision bands are stateless
    projections, so they run unchanged on a structured stream of candidate
    pairs (score-as-you-block at ingest time)."""
    import os as _os

    from py_stringsimjoin_spark.operators.fellegi_sunter import (
        FSParams,
        agreement_vectors,
        classify_pairs,
        exact_comparison,
        levenshtein_comparison,
        score_pairs,
    )

    pair_schema = T.StructType([
        T.StructField("l_id", T.IntegerType()),
        T.StructField("r_id", T.IntegerType()),
        T.StructField("l_name", T.StringType()),
        T.StructField("r_name", T.StringType()),
        T.StructField("l_zip", T.StringType()),
        T.StructField("r_zip", T.StringType()),
    ])
    src = str(tmp_path / "fs_pairs")
    _os.makedirs(src)
    spark.createDataFrame(
        [
            (1, 2, "robert", "robert", "53703", "53703"),
            (3, 4, "ashcraft", "zzzzzzzz", "78701", "10001"),
        ],
        pair_schema,
    ).write.parquet(src, mode="overwrite")

    comps = [
        levenshtein_comparison("name", "l_name", "r_name", (0, 2)),
        exact_comparison("zip", "l_zip", "r_zip"),
    ]
    params = FSParams(
        lam=0.2,
        m={"name": [0.02, 0.18, 0.80], "zip": [0.1, 0.9]},
        u={"name": [0.9, 0.08, 0.02], "zip": [0.95, 0.05]},
    )
    stream = spark.readStream.schema(pair_schema).parquet(src)
    scored = classify_pairs(
        score_pairs(agreement_vectors(stream, comps), comps, params),
        upper=2.0, lower=0.0,
    )
    q = (
        scored.writeStream.format("memory")
        .queryName("fs_sink")
        .outputMode("append")
        .start()
    )
    try:
        q.processAllAvailable()
        rows = {
            (r["l_id"], r["r_id"]): r["decision"]
            for r in spark.sql("select * from fs_sink").collect()
        }
    finally:
        q.stop()
    assert rows == {(1, 2): "match", (3, 4): "nonmatch"}
