"""Checkpointed, independently-resumable record-linkage pipeline.

BASELINE.json north_star: blocking → pairwise scoring → transitive clustering
over the Common-Crawl-style pages table, with every stage writing parquet +
a manifest so each stage resumes independently (a re-run skips any stage whose
manifest fingerprint matches its params + upstream fingerprint).

Stages
  01_extract   pages → (url, join_attr, lang); text re-derived from html
               JVM-side (byte-identical invariant asserted on a sample)
  02_blocking  self-join candidate pairs via the prefix/size/position plan
               (set_sim_join kernel with l<r dedup)  → (l_url, r_url)
  03_scoring   vectorized verify (jaccard by default) → (l_url, r_url, score)
  04_clusters  connected components over match edges → (url, cluster_id)

Manifests record row counts, per-stage partition counts and per-partition row
lineage, wall-clock, and candidate-pairs/sec for the scoring stage — the
metrics surface BASELINE.md requires.
"""

from __future__ import annotations

import json
import os
import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.tokenizers import WhitespaceTokenizer
from ..operators.connected_components import connected_components
from .cache import engine_cache_scope
from ..operators.set_sim_join import set_sim_join_pairs
from ..sources.pages import extract_text_col, extract_title_col


def _fingerprint(params: dict) -> str:
    import hashlib

    return hashlib.sha256(json.dumps(params, sort_keys=True).encode()).hexdigest()[:16]


class Stage:
    def __init__(self, workdir: str, name: str):
        self.dir = os.path.join(workdir, name)
        self.manifest_path = os.path.join(workdir, f"{name}.manifest.json")

    def done(self, fingerprint: str) -> bool:
        if not os.path.exists(self.manifest_path):
            return False
        try:
            with open(self.manifest_path) as f:
                m = json.load(f)
            return m.get("fingerprint") == fingerprint
        except (json.JSONDecodeError, OSError):
            return False

    #: heaviest partitions recorded verbatim in the manifest; the rest are
    #: summarized as quantiles so the driver collect stays O(TOP_PARTITIONS)
    #: even at ~10^6 shuffle partitions.
    TOP_PARTITIONS = 8

    def write(self, df: DataFrame, fingerprint: str, extra: dict | None = None) -> dict:
        t0 = time.time()
        df.write.mode("overwrite").parquet(self.dir)
        spark = df.sparkSession
        written = spark.read.parquet(self.dir)
        per_part = (
            written.withColumn("_p", F.spark_partition_id())
            .groupBy("_p")
            .agg(F.count(F.lit(1)).alias("count"))
        )
        # Per-partition lineage without an O(#partitions) collect: one
        # summary row (counts + row-count quantiles) plus the TOP_PARTITIONS
        # heaviest partitions — bounded driver traffic at any scale, and
        # both branches collected in ONE action (the shared per-partition
        # count stage is computed once inside it; two separate collects paid
        # it twice plus an extra driver round-trip).
        summary_branch = per_part.agg(
            F.count(F.lit(1)).alias("n_partitions"),
            F.coalesce(F.sum("count"), F.lit(0)).alias("n_rows"),
            F.min("count").alias("p_min"),
            F.max("count").alias("p_max"),
            F.expr("percentile_approx(count, array(0.5, 0.9, 0.99))").alias("q"),
        ).select(
            F.lit(None).cast("int").alias("_p"),
            F.lit(None).cast("long").alias("count"),
            "n_partitions", "n_rows", "p_min", "p_max", "q",
        )
        top_branch = (
            per_part.orderBy(F.col("count").desc(), F.col("_p").asc())
            .limit(self.TOP_PARTITIONS)
            .select(
                "_p", "count",
                F.lit(None).cast("long").alias("n_partitions"),
                F.lit(None).cast("long").alias("n_rows"),
                F.lit(None).cast("long").alias("p_min"),
                F.lit(None).cast("long").alias("p_max"),
                F.lit(None).cast("array<double>").alias("q"),
            )
        )
        rows = summary_branch.unionByName(top_branch).collect()
        summary = next(r for r in rows if r["n_partitions"] is not None)
        top = [r for r in rows if r["_p"] is not None]
        q = summary["q"] or [None, None, None]
        manifest = {
            "fingerprint": fingerprint,
            "path": self.dir,
            "n_rows": int(summary["n_rows"]),
            "n_partitions": int(summary["n_partitions"]),
            "partition_rows": {int(r["_p"]): int(r["count"]) for r in top},
            "partition_row_stats": {
                "min": None if summary["p_min"] is None else int(summary["p_min"]),
                "p50": None if q[0] is None else int(q[0]),
                "p90": None if q[1] is None else int(q[1]),
                "p99": None if q[2] is None else int(q[2]),
                "max": None if summary["p_max"] is None else int(summary["p_max"]),
            },
            "wall_sec": round(time.time() - t0, 3),
        }
        manifest.update(extra or {})
        with open(self.manifest_path, "w") as f:
            json.dump(manifest, f, indent=2)
        return manifest

    def read(self, spark: SparkSession) -> DataFrame:
        return spark.read.parquet(self.dir)

    def manifest(self) -> dict:
        with open(self.manifest_path) as f:
            return json.load(f)


class LinkagePipeline:
    def __init__(
        self,
        spark: SparkSession,
        workdir: str,
        threshold: float = 0.6,
        measure: str = "jaccard",
        tokenizer=None,
        join_attr: str = "text",
        num_partitions: int | None = None,
    ):
        self.spark = spark
        self.workdir = workdir
        os.makedirs(workdir, exist_ok=True)
        self.threshold = threshold
        self.measure = measure
        self.tokenizer = tokenizer or WhitespaceTokenizer()
        self.join_attr = join_attr
        self.num_partitions = num_partitions
        self.params = {
            "threshold": threshold,
            "measure": measure,
            "tokenizer": repr(self.tokenizer),
            "join_attr": join_attr,
        }

    # ---------------------------------------------------------------- stages
    def extract(self, pages: DataFrame) -> dict:
        st = Stage(self.workdir, "01_extract")
        fp = _fingerprint({**self.params, "stage": "extract"})
        if st.done(fp):
            return st.manifest()
        # per-row invariant: extracted text must be byte-identical to the
        # stored text column (BASELINE.json input_hint). Asserted IN-PLAN
        # (assert_true fails the write task loudly on the first violating
        # row) instead of the previous url-self-join + limit(1).count(),
        # which materialized the whole upstream (here: the synthetic-page
        # generator, a Python stage) twice and shuffled the corpus once,
        # before the write then computed it a third time. One pass total,
        # nothing cached, no extra action — the 100 TB shape.
        ext_text = extract_text_col(F.col("html"))
        checked_text = F.when(
            F.assert_true(
                F.col("text").eqNullSafe(ext_text),
                "extract_text(html) != stored text for some url",
            ).isNull(),
            ext_text,
        )
        extracted = pages.select(
            "url",
            checked_text.alias("text"),
            extract_title_col(F.col("html")).alias("title"),
            "lang",
        )
        return st.write(extracted, fp)

    def blocking(self) -> dict:
        st_in = Stage(self.workdir, "01_extract")
        st = Stage(self.workdir, "02_blocking")
        upstream = st_in.manifest()["fingerprint"]
        fp = _fingerprint({**self.params, "stage": "blocking", "up": upstream})
        if st.done(fp):
            return st.manifest()
        docs = st_in.read(self.spark)
        if self.num_partitions:
            docs = docs.repartition(self.num_partitions, "url")
        # scope the engine caches to this stage: the join persists
        # ranked-token intermediates; the stage output is checkpointed to
        # parquet, so exactly the caches created here are freed on exit —
        # caches owned by the caller or by other in-flight engine plans
        # survive (plans/cache.engine_cache_scope)
        with engine_cache_scope():
            pairs = set_sim_join_pairs(
                self.measure,
                docs,
                docs,
                "url",
                "url",
                self.join_attr,
                self.join_attr,
                self.tokenizer,
                self.threshold,
                comp_op=">=",
                allow_empty=False,
                self_join_dedup=True,
                verify=False,
            )
            m = st.write(pairs.select("_l_key", "_r_key"), fp)
        return m

    def scoring(self) -> dict:
        st_block = Stage(self.workdir, "02_blocking")
        st_ext = Stage(self.workdir, "01_extract")
        st = Stage(self.workdir, "03_scoring")
        m_block = st_block.manifest()
        fp = _fingerprint({**self.params, "stage": "scoring", "up": m_block["fingerprint"]})
        if st.done(fp):
            return st.manifest()
        docs = st_ext.read(self.spark)
        cand = st_block.read(self.spark)
        # the blocking manifest already counted the candidates it wrote
        n_cand = m_block["n_rows"]
        t0 = time.time()
        from ..operators.matcher import verify_pairs

        scored = verify_pairs(
            cand.select(F.col("_l_key").alias("l_url"), F.col("_r_key").alias("r_url")),
            "l_url",
            "r_url",
            docs,
            docs,
            "url",
            "url",
            self.join_attr,
            self.join_attr,
            self.tokenizer,
            self.measure,
            self.threshold,
            comp_op=">=",
        )
        m = st.write(scored, fp)
        dt = max(time.time() - t0, 1e-9)
        m["candidates_scored"] = int(n_cand)
        m["candidate_pairs_per_sec"] = round(n_cand / dt, 1)
        with open(st.manifest_path, "w") as f:
            json.dump(m, f, indent=2)
        return m

    def clustering(self) -> dict:
        st_score = Stage(self.workdir, "03_scoring")
        st_ext = Stage(self.workdir, "01_extract")
        st = Stage(self.workdir, "04_clusters")
        upstream = st_score.manifest()["fingerprint"]
        fp = _fingerprint({**self.params, "stage": "clustering", "up": upstream})
        if st.done(fp):
            return st.manifest()
        edges = st_score.read(self.spark).select(
            F.col("l_url").alias("src"), F.col("r_url").alias("dst")
        )
        comp = connected_components(edges)
        urls = st_ext.read(self.spark).select("url")
        clusters = (
            urls.join(comp, urls["url"] == comp["node"], "left")
            .select(
                "url",
                F.coalesce(F.col("component"), F.col("url")).alias("cluster_id"),
            )
        )
        return st.write(clusters, fp)

    def increment(self, new_pages: DataFrame) -> DataFrame:
        """Fold a crawl increment into the linked state (delta linkage).

        Equivalent to re-running the FULL pipeline over (old ∪ new) pages —
        the incremental-vs-full equivalence is asserted in
        tests/test_pipeline_increment.py — but the work is delta-shaped:

        * extract only the new pages (urls already present are recrawls and
          keep their first version — the corpus is append-only);
        * candidate generation is the TWO-TABLE prefix-filter join
          new-vs-(old ∪ new): the corpus is scanned, never self-joined;
          old-old pairs were found by the original run and cannot change;
        * scoring verifies only the delta candidates;
        * clustering folds the delta match edges into the existing
          assignment with ``update_components`` (contracted-graph CC sized
          by the delta + broadcast remap) — no full re-cluster.

        Stage dirs are rewritten via write-to-``__next`` + atomic rename
        (the new 01_extract/04_clusters are derived FROM the old ones; an
        in-place overwrite would destroy its own input mid-plan). Each
        increment bumps an ``increment`` counter in the manifests, so a
        crashed increment re-runs from its own beginning while the base
        stages stay resumable as before.
        """
        import shutil

        from ..operators.connected_components import update_components
        from ..operators.matcher import verify_pairs

        st_ext = Stage(self.workdir, "01_extract")
        st_clu = Stage(self.workdir, "04_clusters")
        n_inc = int(st_clu.manifest().get("increment", 0)) + 1
        old_docs = st_ext.read(self.spark)
        new_docs = new_pages.select(
            "url",
            extract_text_col(F.col("html")).alias("text"),
            extract_title_col(F.col("html")).alias("title"),
            "lang",
        ).join(old_docs.select("url"), "url", "left_anti")
        all_docs = old_docs.unionByName(new_docs)

        with engine_cache_scope():
            cand = set_sim_join_pairs(
                self.measure,
                new_docs,
                all_docs,
                "url",
                "url",
                self.join_attr,
                self.join_attr,
                self.tokenizer,
                self.threshold,
                comp_op=">=",
                allow_empty=False,
                verify=False,
            )
            # two-table join emits new-new pairs in both orders and the
            # self pair; canonicalize to l<r once
            edges = (
                cand.select(
                    F.least("_l_key", "_r_key").alias("l_url"),
                    F.greatest("_l_key", "_r_key").alias("r_url"),
                )
                .where(F.col("l_url") != F.col("r_url"))
                .distinct()
            )
            scored = verify_pairs(
                edges, "l_url", "r_url", all_docs, all_docs,
                "url", "url", self.join_attr, self.join_attr,
                self.tokenizer, self.measure, self.threshold, comp_op=">=",
            )
            assign = st_clu.read(self.spark).select(
                F.col("url").alias("node"), F.col("cluster_id").alias("component")
            )
            updated = update_components(
                assign, scored, src_col="l_url", dst_col="r_url"
            )
            clusters = (
                all_docs.select("url")
                .join(updated, all_docs["url"] == updated["node"], "left")
                .select(
                    "url",
                    F.coalesce(F.col("component"), F.col("url")).alias("cluster_id"),
                )
            )

            # derived-from-input rewrites: materialize BOTH __next stages
            # first (each plan still reads the old dirs), then swap — an
            # in-place overwrite would destroy its own input mid-plan
            staged = []
            for st, df, extra in (
                (st_ext, all_docs, None),
                (st_clu, clusters, {"increment": n_inc}),
            ):
                nxt = Stage(self.workdir, os.path.basename(st.dir) + "__next")
                fp = _fingerprint(
                    {**self.params, "stage": os.path.basename(st.dir),
                     "increment": n_inc}
                )
                m = nxt.write(df, fp)
                if extra:
                    m.update(extra)
                staged.append((st, nxt, m))
        for st, nxt, m in staged:
            shutil.rmtree(st.dir)
            os.rename(nxt.dir, st.dir)
            with open(st.manifest_path, "w") as f:
                json.dump(m, f, indent=2)
            os.remove(nxt.manifest_path)
        return st_clu.read(self.spark)

    def run(self, pages: DataFrame) -> DataFrame:
        self.extract(pages)
        self.blocking()
        self.scoring()
        self.clustering()
        return Stage(self.workdir, "04_clusters").read(self.spark)

    def metrics(self) -> dict:
        out = {}
        for name in ("01_extract", "02_blocking", "03_scoring", "04_clusters"):
            p = Stage(self.workdir, name).manifest_path
            if os.path.exists(p):
                with open(p) as f:
                    out[name] = json.load(f)
        return out


def pairwise_f1(clusters: DataFrame, labeled: DataFrame) -> float:
    """Pairwise F1 of predicted clusters against labeled (l_url, r_url,
    is_match) pairs."""
    c1 = clusters.select(F.col("url").alias("l_url"), F.col("cluster_id").alias("_lc"))
    c2 = clusters.select(F.col("url").alias("r_url"), F.col("cluster_id").alias("_rc"))
    j = labeled.join(c1, "l_url").join(c2, "r_url")
    agg = j.agg(
        F.sum(((F.col("_lc") == F.col("_rc")) & (F.col("is_match") == 1)).cast("long")).alias("tp"),
        F.sum(((F.col("_lc") == F.col("_rc")) & (F.col("is_match") == 0)).cast("long")).alias("fp"),
        F.sum(((F.col("_lc") != F.col("_rc")) & (F.col("is_match") == 1)).cast("long")).alias("fn"),
    ).first()
    tp, fp, fn = agg["tp"] or 0, agg["fp"] or 0, agg["fn"] or 0
    if tp == 0:
        return 0.0
    prec = tp / (tp + fp)
    rec = tp / (tp + fn)
    return 2 * prec * rec / (prec + rec)
