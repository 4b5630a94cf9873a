"""Incremental pipeline: increment(delta) ≡ full run over (base ∪ delta)."""

import os

import pytest
from pyspark.sql import functions as F

from py_stringsimjoin_spark.plans.pipeline import LinkagePipeline
from py_stringsimjoin_spark.sources.pages import generate_pages


@pytest.fixture(scope="module")
def corpus(spark):
    df = generate_pages(spark, n_base=100, dup_fraction=0.5, seed=7).persist()
    df.count()
    return df


def _clusters_dict(df):
    return {r.url: r.cluster_id for r in df.collect()}


def test_increment_equals_full_run(spark, corpus, tmp_path_factory):
    pages = corpus.drop("cluster_id")
    # split on a deterministic url hash: ~70% base crawl, ~30% increment
    is_base = F.abs(F.xxhash64("url")) % 10 < 7
    base, delta = pages.where(is_base), pages.where(~is_base)

    wd_inc = str(tmp_path_factory.mktemp("pipe_inc"))
    pipe = LinkagePipeline(spark, wd_inc, threshold=0.6)
    pipe.run(base)
    ext = os.path.join(wd_inc, "01_extract")
    before = _files(ext)
    got = _clusters_dict(pipe.increment(delta))

    wd_full = str(tmp_path_factory.mktemp("pipe_full"))
    want = _clusters_dict(
        LinkagePipeline(spark, wd_full, threshold=0.6).run(pages)
    )
    assert got == want
    # and the manifest records the increment epoch
    assert pipe.metrics()["04_clusters"]["increment"] == 1
    # the delta is appended: the corpus's part files are not rewritten
    after = _files(ext)
    assert {n: after.get(n) for n in before} == before
    assert len(after) > len(before)


def _files(d):
    """name → (size, mtime) of every file in ``d``."""
    return {
        n: (os.stat(os.path.join(d, n)).st_size, os.stat(os.path.join(d, n)).st_mtime_ns)
        for n in os.listdir(d)
    }


def test_second_increment_and_recrawl_dedup(spark, corpus, tmp_path_factory):
    pages = corpus.drop("cluster_id")
    h = F.abs(F.xxhash64("url")) % 10
    p1, p2, p3 = pages.where(h < 5), pages.where(h.between(5, 7)), pages.where(h > 7)

    wd = str(tmp_path_factory.mktemp("pipe_inc2"))
    pipe = LinkagePipeline(spark, wd, threshold=0.6)
    pipe.run(p1)
    pipe.increment(p2)
    # recrawl overlap: second increment re-delivers some of p2 — the
    # append-only corpus must keep one row per url
    got = _clusters_dict(pipe.increment(p3.unionByName(p2.limit(20))))

    wd_full = str(tmp_path_factory.mktemp("pipe_full2"))
    want = _clusters_dict(
        LinkagePipeline(spark, wd_full, threshold=0.6).run(pages)
    )
    assert got == want
    assert pipe.metrics()["04_clusters"]["increment"] == 2


def test_pipeline_title_blocking(spark, corpus, tmp_path_factory):
    """join_attr='title' runs end to end: blocking/scoring/clustering on
    the extracted <title> (the north star blocks on titles/urls/text)."""
    from py_stringsimjoin_spark.sources.pages import extract_title

    pages = corpus.drop("cluster_id")
    wd = str(tmp_path_factory.mktemp("pipe_title"))
    pipe = LinkagePipeline(spark, wd, threshold=0.6, join_attr="title")
    clusters = pipe.run(pages)
    assert clusters.count() == pages.count()
    # extract stage emits the title column, byte-equal to the pure fn
    ext = spark.read.parquet(f"{wd}/01_extract")
    assert "title" in ext.columns
    row = ext.orderBy("url").first()
    html = pages.where(F.col("url") == row.url).first().html
    assert extract_title(bytes(html)) == row.title
    # title-blocked clustering still groups the seeded near-dups
    n_nontrivial = (
        clusters.groupBy("cluster_id").count().where(F.col("count") > 1).count()
    )
    assert n_nontrivial > 0


def _split(pages):
    is_base = F.abs(F.xxhash64("url")) % 10 < 7
    return pages.where(is_base), pages.where(~is_base)


@pytest.fixture(scope="module")
def full_run(spark, corpus, tmp_path_factory):
    wd = str(tmp_path_factory.mktemp("pipe_full_ref"))
    return _clusters_dict(
        LinkagePipeline(spark, wd, threshold=0.6).run(corpus.drop("cluster_id"))
    )


def test_increment_crash_at_each_rename_recovers(
    spark, corpus, full_run, tmp_path_factory, monkeypatch
):
    """A crash at any rename of the increment's commit, then a re-run of
    the same increment, ends equal to the full run: never a stage without
    data, never the delta's urls extracted but left unclustered."""
    import shutil

    base, delta = _split(corpus.drop("cluster_id"))
    wd_base = str(tmp_path_factory.mktemp("pipe_crash_base"))
    LinkagePipeline(spark, wd_base, threshold=0.6).run(base)

    real = {"rename": os.rename, "replace": os.replace}
    calls = []

    def spy(name):
        def f(src, dst):
            calls.append(dst)
            return real[name](src, dst)
        return f

    wd = str(tmp_path_factory.mktemp("pipe_crash_count")) + "/wd"
    shutil.copytree(wd_base, wd)
    monkeypatch.setattr(os, "rename", spy("rename"))
    monkeypatch.setattr(os, "replace", spy("replace"))
    LinkagePipeline(spark, wd, threshold=0.6).increment(delta)
    monkeypatch.undo()
    n_renames = len(calls)
    assert n_renames >= 2  # at least 01_extract and 04_clusters
    # the delta's part files move into 01_extract, one rename each
    assert any(
        os.path.dirname(d).endswith("/01_extract") and d.endswith(".parquet")
        for d in calls
    )

    for k in range(n_renames):
        wd = str(tmp_path_factory.mktemp(f"pipe_crash_{k}")) + "/wd"
        shutil.copytree(wd_base, wd)
        pipe = LinkagePipeline(spark, wd, threshold=0.6)
        seen = []

        def crash(name):
            def f(src, dst):
                seen.append(name)
                if len(seen) == k + 1:
                    raise OSError(f"injected crash at rename {k}")
                return real[name](src, dst)
            return f

        monkeypatch.setattr(os, "rename", crash("rename"))
        monkeypatch.setattr(os, "replace", crash("replace"))
        with pytest.raises(OSError, match="injected crash"):
            pipe.increment(delta)
        monkeypatch.undo()
        got = _clusters_dict(pipe.increment(delta))
        assert got == full_run, f"crash at rename {k}"
        assert not [n for n in os.listdir(wd) if "__next" in n or "__old" in n]


def test_increment_job_bound_and_delta_only_tokenize(
    spark, corpus, full_run, tmp_path_factory
):
    """The increment is one delta join: a bounded number of Spark jobs, and
    the tokenizer sees the new docs' text only — the corpus side is read
    from the stored ranked arrays, never re-tokenized."""
    from pyspark.accumulators import AccumulatorParam

    from py_stringsimjoin_spark.functions.tokenizers import WhitespaceTokenizer

    class SetParam(AccumulatorParam):
        def zero(self, v):
            return set()

        def addInPlace(self, a, b):
            return a | b

    class SpyTokenizer(WhitespaceTokenizer):
        """Whitespace tokens; every string it tokenizes lands in ``acc``."""

        acc = None

        def spark_col(self, col):
            acc = self.acc

            def seen(s):
                acc.add({s})
                return s

            return super().spark_col(F.udf(seen, "string")(col))

    sc = spark.sparkContext
    tok = SpyTokenizer()
    tok.acc = sc.accumulator(set(), SetParam())
    base, delta = _split(corpus.drop("cluster_id"))
    wd = str(tmp_path_factory.mktemp("pipe_jobs"))
    pipe = LinkagePipeline(spark, wd, threshold=0.6, tokenizer=tok)
    pipe.run(base)
    assert len(tok.acc.value) > 0  # the spy sees the base run's corpus

    tok.acc = sc.accumulator(set(), SetParam())
    group = "increment-job-count"
    sc.setJobGroup(group, "increment job count")
    try:
        got = _clusters_dict(pipe.increment(delta))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert got == full_run
    jobs = sc.statusTracker().getJobIdsForGroup(group)
    assert len(jobs) <= 21, f"{len(jobs)} jobs"
    delta_text = {r.text for r in delta.select("text").collect()}
    seen = tok.acc.value
    assert seen and seen <= delta_text, (
        f"{len(seen - delta_text)} tokenized strings are not delta text"
    )
