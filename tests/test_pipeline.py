import json
import os

import pytest
from pyspark.sql import functions as F

from py_stringsimjoin_spark.plans.pipeline import LinkagePipeline, Stage, pairwise_f1
from py_stringsimjoin_spark.sources.pages import (
    extract_text,
    generate_pages,
    labeled_pairs,
)


@pytest.fixture(scope="module")
def pages(spark):
    df = generate_pages(spark, n_base=120, dup_fraction=0.4, seed=42).persist()
    df.count()
    return df


def test_pages_deterministic_and_invariant(spark, pages):
    # deterministic across partitioning
    again = generate_pages(spark, n_base=120, dup_fraction=0.4, seed=42, num_partitions=7)
    a = {r["url"]: r["text"] for r in pages.collect()}
    b = {r["url"]: r["text"] for r in again.collect()}
    assert a == b
    # per-row invariant: extract_text(html) == text, byte-identical
    for r in pages.limit(50).collect():
        assert extract_text(bytes(r["html"])) == r["text"]


def test_pipeline_end_to_end_f1(spark, pages, tmp_path_factory):
    wd = str(tmp_path_factory.mktemp("pipeline"))
    pipe = LinkagePipeline(spark, wd, threshold=0.6)
    clusters = pipe.run(pages.drop("cluster_id"))
    labels = labeled_pairs(pages).persist()
    f1 = pairwise_f1(clusters, labels)
    assert f1 >= 0.99, f"pairwise F1 {f1} < 0.99"
    m = pipe.metrics()
    assert m["03_scoring"]["candidate_pairs_per_sec"] > 0
    assert m["02_blocking"]["n_rows"] >= m["03_scoring"]["n_rows"]


def test_pipeline_resume_skips_done_stages(spark, pages, tmp_path_factory):
    wd = str(tmp_path_factory.mktemp("pipeline_resume"))
    pipe = LinkagePipeline(spark, wd, threshold=0.6)
    pages_in = pages.drop("cluster_id")
    pipe.run(pages_in)
    m1 = pipe.metrics()
    # second run must reuse manifests (same fingerprints, no rewrite)
    mtimes = {
        n: os.path.getmtime(os.path.join(wd, f"{n}.manifest.json"))
        for n in ("01_extract", "02_blocking", "03_scoring", "04_clusters")
    }
    pipe2 = LinkagePipeline(spark, wd, threshold=0.6)
    pipe2.run(pages_in)
    for n, t in mtimes.items():
        assert os.path.getmtime(os.path.join(wd, f"{n}.manifest.json")) == t, n
    # changing a param invalidates downstream stages
    pipe3 = LinkagePipeline(spark, wd, threshold=0.7)
    pipe3.run(pages_in)
    assert pipe3.metrics()["02_blocking"]["fingerprint"] != m1["02_blocking"]["fingerprint"]


def test_manifest_lineage_fields(spark, pages, tmp_path_factory):
    wd = str(tmp_path_factory.mktemp("pipeline_m"))
    pipe = LinkagePipeline(spark, wd, threshold=0.6)
    pipe.extract(pages.drop("cluster_id"))
    with open(os.path.join(wd, "01_extract.manifest.json")) as f:
        m = json.load(f)
    assert m["n_rows"] > 0
    assert m["n_partitions"] >= 1
    # partition lineage is capped: top-N heaviest partitions verbatim plus
    # quantile stats — bounded driver traffic at any partition count
    assert len(m["partition_rows"]) <= Stage.TOP_PARTITIONS
    assert sum(m["partition_rows"].values()) <= m["n_rows"]
    stats = m["partition_row_stats"]
    assert stats["max"] == max(m["partition_rows"].values())
    assert stats["min"] >= 0 and stats["p50"] <= stats["max"]
    if m["n_partitions"] <= Stage.TOP_PARTITIONS:
        assert sum(m["partition_rows"].values()) == m["n_rows"]


def _check_lineage(spark, wd):
    for name in ("01_extract", "02_blocking", "03_scoring", "04_clusters"):
        st = Stage(wd, name)
        m = st.manifest()
        assert m["n_rows"] == spark.read.parquet(st.dir).count(), name
        # a partition is one non-empty part file, keyed by its name
        assert len(m["partition_rows"]) == min(m["n_partitions"], Stage.TOP_PARTITIONS)
        for part, n in m["partition_rows"].items():
            assert os.path.isfile(os.path.join(st.dir, part)), (name, part)
            assert n > 0
        if m["n_partitions"] <= Stage.TOP_PARTITIONS:
            assert sum(m["partition_rows"].values()) == m["n_rows"], name


def test_manifest_lineage_matches_written_rows(spark, pages, tmp_path_factory):
    """Footer lineage equals what Spark reads back, after a run and after
    each of two increments (which append their part files to 01_extract)."""
    h = F.abs(F.xxhash64("url")) % 10
    pages_in = pages.drop("cluster_id")
    wd = str(tmp_path_factory.mktemp("pipeline_lineage"))
    pipe = LinkagePipeline(spark, wd, threshold=0.6)
    pipe.run(pages_in.where(h < 6))
    _check_lineage(spark, wd)
    pipe.increment(pages_in.where(h.between(6, 7)))
    _check_lineage(spark, wd)
    pipe.increment(pages_in.where(h > 7))
    _check_lineage(spark, wd)
    assert pipe.metrics()["01_extract"]["n_rows"] == pages_in.count()


def test_manifest_of_empty_stage(spark, tmp_path):
    df = spark.createDataFrame([], "url string, n long")
    m = Stage(str(tmp_path), "empty").write(df, "fp")
    assert (m["n_rows"], m["n_partitions"], m["partition_rows"]) == (0, 0, {})
    assert set(m["partition_row_stats"].values()) == {None}


def test_stage_write_runs_no_job_beyond_the_write(spark, pages, tmp_path):
    """The manifest's lineage comes from the part files' footers: a
    ``Stage.write`` runs exactly the jobs of a bare parquet write."""
    sc = spark.sparkContext
    df = pages.select("url", "lang").repartition(3, "url")

    def jobs(group, fn):
        sc.setJobGroup(group, group)
        try:
            fn()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        return len(sc.statusTracker().getJobIdsForGroup(group))

    bare = jobs("bare-write", lambda: df.write.parquet(str(tmp_path / "bare")))
    staged = jobs("stage-write", lambda: Stage(str(tmp_path), "st").write(df, "fp"))
    assert bare >= 1 and staged == bare


def test_scoring_reads_the_ranked_store_not_the_text(spark, pages, tmp_path):
    """Scoring verifies blocking's candidates against blocking's stored
    ranked arrays: with 01_extract moved away and a tokenizer that cannot
    run, it gives exactly ``verify_pairs``' rows and scores over the text."""
    from py_stringsimjoin_spark.functions.tokenizers import WhitespaceTokenizer
    from py_stringsimjoin_spark.operators.matcher import verify_pairs

    wd = str(tmp_path)
    pipe = LinkagePipeline(spark, wd, threshold=0.6)
    pipe.extract(pages.drop("cluster_id"))
    pipe.blocking()
    st_ext = Stage(wd, "01_extract")
    docs = st_ext.read(spark)
    cand = Stage(wd, "02_blocking").read(spark).select(
        F.col("_l_key").alias("l_url"), F.col("_r_key").alias("r_url")
    )
    expected = verify_pairs(
        cand, "l_url", "r_url", docs, docs, "url", "url", "text", "text",
        pipe.tokenizer, "jaccard", 0.6,
    ).collect()
    os.rename(st_ext.dir, st_ext.dir + "__aside")

    class UnusableTokenizer(WhitespaceTokenizer):
        def spark_col(self, col):
            raise AssertionError("scoring tokenized text")

    pipe.tokenizer = UnusableTokenizer()
    m = pipe.scoring()
    got = Stage(wd, "03_scoring").read(spark).collect()
    assert expected and sorted(map(tuple, got)) == sorted(map(tuple, expected))
    assert m["n_rows"] == len(expected)
    assert m["candidates_scored"] == pipe.metrics()["02_blocking"]["n_rows"]


def test_pages_table_io_roundtrip(spark, tmp_path):
    from py_stringsimjoin_spark.sources.io import read_pages_table, write_pages_table
    from py_stringsimjoin_spark.sources.pages import generate_pages

    pages = generate_pages(spark, 50, seed=7)
    out = str(tmp_path / "pages_pq")
    write_pages_table(pages, out, bucket_cols=["url"], n_buckets=4)
    back = read_pages_table(spark, out)
    assert back.count() == pages.count()
    assert set(c for c in ["url", "warc_ts", "html", "text", "lang"]) <= set(back.columns)
