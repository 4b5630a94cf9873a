"""Physical-plan regression guards for the scale properties the docs claim.

These don't check RESULTS (the oracle suite does); they check the PLAN:
joins must stay entirely JVM-side (a Python eval node in the hot path is the
round-2 anti-scaling regression), and parquet scans must prune to the
columns the join actually needs (a scan reading 9 columns for a 2-column
join multiplies IO 4x at 100 TB).
"""

from __future__ import annotations

import re

import pytest
from pyspark.sql import functions as F

from py_stringsimjoin_spark import (
    QgramTokenizer,
    WhitespaceTokenizer,
    edit_distance_join,
    jaccard_join,
    overlap_join,
)

PART = "/root/testdata/sf0.001/part.parquet"

_PY_NODES = ("BatchEvalPython", "ArrowEvalPython", "MapInPandas", "FlatMapGroupsInPandas")


def _plan(df, mode="extended") -> str:
    qe = df._jdf.queryExecution()
    return df.sparkSession._jvm.PythonSQLUtils.explainString(qe, mode)


@pytest.fixture(scope="module")
def part(spark):
    return spark.read.parquet(PART)


def test_set_sim_join_plan_is_python_free(part):
    out = jaccard_join(
        part, part, "p_partkey", "p_partkey", "p_name", "p_name",
        WhitespaceTokenizer(), 0.5,
    )
    plan = _plan(out)
    for node in _PY_NODES:
        assert node not in plan, f"{node} in jaccard join plan"


def test_edit_distance_join_plan_is_python_free(part):
    out = edit_distance_join(
        part, part, "p_partkey", "p_partkey", "p_name", "p_name", 2,
        tokenizer=QgramTokenizer(qval=2),
    )
    plan = _plan(out)
    for node in _PY_NODES:
        assert node not in plan, f"{node} in edit-distance join plan"


def test_overlap_join_plan_is_python_free(part):
    out = overlap_join(
        part, part, "p_partkey", "p_partkey", "p_name", "p_name",
        WhitespaceTokenizer(), 2,
    )
    plan = _plan(out)
    for node in _PY_NODES:
        assert node not in plan, f"{node} in overlap join plan"


def test_join_scan_prunes_to_needed_columns(part):
    """part has 9 columns; a join using (p_partkey, p_name) with no
    out_attrs must never scan the other 7."""
    assert len(part.columns) > 2
    out = jaccard_join(
        part, part, "p_partkey", "p_partkey", "p_name", "p_name",
        WhitespaceTokenizer(), 0.5,
    )
    plan = _plan(out)
    scan_lines = [ln for ln in plan.splitlines() if "ReadSchema" in ln]
    assert scan_lines, "no parquet scan in plan"
    for ln in scan_lines:
        for col in ("p_brand", "p_type", "p_retailprice", "p_comment", "p_mfgr"):
            assert col not in ln, f"unpruned column {col}: {ln.strip()}"


def test_out_attrs_widen_scan_only_with_request(part):
    out = jaccard_join(
        part, part, "p_partkey", "p_partkey", "p_name", "p_name",
        WhitespaceTokenizer(), 0.5,
        l_out_attrs=["p_brand"], r_out_attrs=["p_brand"],
    )
    assert "l_p_brand" in out.columns and "r_p_brand" in out.columns
    plan = _plan(out)
    assert "p_brand" in plan  # requested attr is read...
    scan_lines = [ln for ln in plan.splitlines() if "ReadSchema" in ln]
    for ln in scan_lines:
        assert "p_comment" not in ln  # ...but unrequested ones still are not


def test_topk_window_rank_stays_jvm(part):
    from py_stringsimjoin_spark import topk_sim_join

    out = topk_sim_join(
        part, part, "p_partkey", "p_partkey", "p_name", "p_name",
        WhitespaceTokenizer(), 3, 0.5,
    )
    plan = _plan(out)
    for node in _PY_NODES:
        assert node not in plan, f"{node} in top-k join plan"
    assert "Window" in plan


def test_fs_agreement_and_counts_plan_is_python_free(spark, part):
    """FS agreement vectors + pattern counts must stay entirely JVM-side
    and the count aggregate must have a map-side partial phase."""
    from py_stringsimjoin_spark.operators.fellegi_sunter import (
        agreement_vectors,
        exact_comparison,
        levenshtein_comparison,
        pattern_counts,
    )

    l = part.select(
        F.col("p_partkey").alias("l_p_partkey"),
        F.col("p_type").alias("l_p_type"),
        F.col("p_brand").alias("l_p_brand"),
    )
    r = part.select(
        F.col("p_partkey").alias("r_p_partkey"),
        F.col("p_type").alias("r_p_type"),
        F.col("p_brand").alias("r_p_brand"),
    )
    pairs = l.join(r, F.col("l_p_brand") == F.col("r_p_brand"))
    comps = [
        levenshtein_comparison("type", "l_p_type", "r_p_type", (0, 4)),
        exact_comparison("brand", "l_p_brand", "r_p_brand"),
    ]
    pc = pattern_counts(agreement_vectors(pairs, comps), comps)
    plan = _plan(pc)
    for node in _PY_NODES:
        assert node not in plan, f"{node} in FS pattern-count plan"
    assert "partial_count" in plan or "partial" in plan.lower()


def test_soundex_blocking_plan_is_python_free(spark, part):
    from py_stringsimjoin_spark.operators.phonetic import soundex_blocking_pairs

    out = soundex_blocking_pairs(
        part, part, "p_partkey", "p_partkey", "p_name", "p_name",
        max_block_size=100,
    )
    plan = _plan(out)
    for node in _PY_NODES:
        assert node not in plan, f"{node} in soundex blocking plan"
    # the block-size keep-list is explicitly broadcast
    assert "BroadcastHashJoin" in plan or "BroadcastExchange" in plan


def test_canonical_url_groups_plan_is_python_free_and_pruned(spark, part):
    from py_stringsimjoin_spark import canonical_url_groups

    df = spark.read.parquet(PART).select(
        "p_partkey", F.concat(F.lit("https://ex.com/"), "p_name").alias("url")
    )
    out = canonical_url_groups(df, "p_partkey", "url")
    plan = _plan(out)
    for node in _PY_NODES:
        assert node not in plan, f"{node} in canonical_url_groups plan"
    # scan must prune to the two columns the operator touches
    fmt = _plan(out, "formatted")
    assert "p_retailprice" not in fmt


def test_update_components_remap_is_broadcast(spark):
    from py_stringsimjoin_spark import update_components

    assign = spark.range(100).select(
        F.col("id").alias("node"), (F.col("id") % 10).alias("component")
    )
    # each delta edge joins two nodes of one component: the contracted
    # graph is empty, and so is the locally labelled remap, which Spark
    # prunes with its join
    delta = spark.range(5).select(
        F.col("id").alias("src"), (F.col("id") + 50).alias("dst")
    )
    plan = _plan(update_components(assign, delta))
    for node in _PY_NODES:
        assert node not in plan, f"{node} in update_components plan"
    assert "SortMergeJoin" not in plan
    # each delta edge joins components i and i+1: a non-empty remap
    delta = spark.range(5).select(
        F.col("id").alias("src"), (F.col("id") + 51).alias("dst")
    )
    out = update_components(assign, delta)
    plan = _plan(out)
    for node in _PY_NODES:
        assert node not in plan, f"{node} in update_components plan"
    # the assignment-table update must join against the remap via broadcast
    # (the remap is delta-bounded; a sort-merge join here would shuffle the
    # full assignment table)
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan
    got = {r.node: r.component for r in out.collect()}
    assert got == {n: 0 if n % 10 <= 5 else n % 10 for n in range(100)}


def test_textclean_plans_are_python_free(spark):
    from py_stringsimjoin_spark.operators.textclean import (
        dedup_spans,
        repetition_stats,
    )

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet").select(
        "doc_id", "text"
    )
    for out in (
        repetition_stats(docs, ngram_n=2),
        dedup_spans(docs, span_words=5),
    ):
        plan = _plan(out)
        for node in _PY_NODES:
            assert node not in plan, f"{node} in textclean plan"
    # the dedup count aggregate must partially aggregate map-side (hot
    # boilerplate segments collapse before the shuffle)
    plan = _plan(dedup_spans(docs, span_words=5))
    assert "partial_count" in plan or "partial count" in plan.lower()


_AGG_KEYS = re.compile(r"Aggregate\(keys=\[([^\]]*)\]")


def _pair_aggregates(df) -> list[str]:
    """Key lists of physical aggregates grouped on the candidate pair: both
    ``_l_key`` and ``_r_key``, or a packed ``_pk``."""
    found = []
    for keys in _AGG_KEYS.findall(_plan(df)):
        names = {k.strip().split("#")[0] for k in keys.split(",")}
        if {"_l_key", "_r_key"} <= names or "_pk" in names:
            found.append(keys)
    return found


def test_prefix_kernels_emit_pairs_without_pair_aggregate(spark, part):
    """Every prefix-filter kernel keeps a joined row only at the pair's
    first shared prefix token, so no plan may dedup pairs with an
    aggregate after the token join."""
    from py_stringsimjoin_spark import PreparedSetSimCorpus, containment_join

    ws = WhitespaceTokenizer()
    names = part.select("p_partkey", "p_name")
    corpus = PreparedSetSimCorpus(names, "p_partkey", "p_name", ws)
    delta = names.limit(20).select(
        (F.col("p_partkey") + 1_000_000).alias("p_partkey"), "p_name"
    )
    plans = {
        "jaccard_join": jaccard_join(
            part, part, "p_partkey", "p_partkey", "p_name", "p_name", ws, 0.5,
        ),
        "blocking": corpus.join_pairs(
            "jaccard", 0.5, verify=False, self_join_dedup=True
        ),
        "join_delta_pairs": corpus.join_delta_pairs(delta, "jaccard", 0.5),
        "containment_join": containment_join(
            part, part, "p_partkey", "p_partkey", "p_name", "p_name", ws, 0.5,
        ),
        "edit_distance_join": edit_distance_join(
            part, part, "p_partkey", "p_partkey", "p_name", "p_name", 2,
            tokenizer=QgramTokenizer(qval=2), value_dedup=False,
        ),
    }
    for name, df in plans.items():
        assert _pair_aggregates(df) == [], f"pair aggregate in {name} plan"
