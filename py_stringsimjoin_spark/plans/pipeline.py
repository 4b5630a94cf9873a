"""Checkpointed, independently-resumable record-linkage pipeline.

BASELINE.json north_star: blocking → pairwise scoring → transitive clustering
over the Common-Crawl-style pages table, with every stage writing parquet +
a manifest so each stage resumes independently (a re-run skips any stage whose
manifest fingerprint matches its params + upstream fingerprint).

Stages
  01_extract   pages → (url, join_attr, lang); text re-derived from html
               JVM-side (byte-identical invariant asserted on a sample)
  02_blocking  a PreparedSetSimCorpus over the extracted docs, self-joined
               by the prefix/size/position plan with l<r dedup
               → (l_url, r_url). Its global token ordering and ranked
               arrays are kept as the side tables 02_blocking__ordering and
               02_blocking__ranked, one parquet dir per epoch (0 here, one
               more per increment)
  03_scoring   the candidates joined to 02_blocking__ranked and scored by
               the prefix kernels' own expression (jaccard by default; no
               text read, no tokenizer) → (l_url, r_url, _sim_score)
  04_clusters  connected components over match edges → (url, cluster_id)

``increment`` folds a crawl delta into this state through the side tables:
only the delta is tokenized and ranked, one delta prefix join finds its
verified edges, and the delta's part files (appended to 01_extract),
04_clusters and the side tables' new epoch are published at one commit
point (``commit_swap``).

Manifests record row counts, per-stage partition counts and per-partition row
lineage, wall-clock, and candidate-pairs/sec for the scoring stage — the
metrics surface BASELINE.md requires. Counts and lineage are read from the
footers of the part files a stage wrote (``part_rows``), so a manifest costs
no Spark job.
"""

from __future__ import annotations

import json
import math
import os
import shutil
import time
from functools import partial

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from ..functions.tokenizers import WhitespaceTokenizer
from ..operators.connected_components import connected_components, update_components
from ..operators.matcher import score_pairs
from ..operators.prepared import PreparedSetSimCorpus
from .cache import engine_cache_scope
from .filter_math import set_sim_score_col
from ..sources.pages import extract_text_col, extract_title_col


def _fingerprint(params: dict) -> str:
    import hashlib

    return hashlib.sha256(json.dumps(params, sort_keys=True).encode()).hexdigest()[:16]


#: the swap journal: while it exists, its moves are committed
_SWAP_JOURNAL = "_swap.json"


def commit_swap(workdir: str, moves: list[tuple[str, str]]) -> None:
    """Move every staged path onto its live path, committed at ONE point.

    ``moves`` is ``[(staged, live), ...]`` — directories or files, all under
    ``workdir``. The commit point is the atomic rename of the journal that
    lists them; :func:`recover_swap` then performs the moves, and re-runs
    them after a crash at any later step, so either every live path is the
    staged one or none is.
    """
    journal = os.path.join(workdir, _SWAP_JOURNAL)
    with open(journal + "__next", "w") as f:
        json.dump(moves, f)
    os.replace(journal + "__next", journal)
    recover_swap(workdir)


def recover_swap(workdir: str) -> None:
    """Finish a committed :func:`commit_swap`, and drop uncommitted staging.

    A live directory is renamed ``__old`` aside before its staged copy takes
    its place, and asides are deleted only after every move landed — so a
    crash leaves no move half done that this cannot finish, and never zero
    copies. Without a journal nothing was committed: every ``__next`` entry
    of ``workdir`` is incomplete staging and is removed.
    """
    journal = os.path.join(workdir, _SWAP_JOURNAL)
    if os.path.exists(journal):
        with open(journal) as f:
            moves = json.load(f)
        for staged, live in moves:
            if not os.path.exists(staged):
                continue  # moved before the crash
            if os.path.isdir(staged):
                aside = live + "__old"
                if os.path.exists(live):
                    if os.path.exists(aside):
                        shutil.rmtree(aside)
                    os.rename(live, aside)
                os.makedirs(os.path.dirname(live), exist_ok=True)
                os.rename(staged, live)
            else:
                os.replace(staged, live)
        for _, live in moves:
            if os.path.exists(live + "__old"):
                shutil.rmtree(live + "__old")
        os.remove(journal)
    for name in os.listdir(workdir):
        if "__next" in name:
            path = os.path.join(workdir, name)
            if os.path.isdir(path):
                shutil.rmtree(path)
            else:
                os.remove(path)


def part_rows(path: str) -> dict[str, int]:
    """Rows of each parquet part file in the directory ``path``, by file
    name, read from the files' footers on the driver — no Spark job. The
    workdir is a local POSIX path (``commit_swap`` renames in it)."""
    import pyarrow.parquet as pq

    return {
        name: pq.read_metadata(os.path.join(path, name)).num_rows
        for name in sorted(os.listdir(path))
        if name.endswith(".parquet") and not name.startswith((".", "_"))
    }


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
    #: summarized as quantiles so the manifest stays O(TOP_PARTITIONS) even
    #: at ~10^6 part files.
    TOP_PARTITIONS = 8

    def write(self, df: DataFrame, fingerprint: str, extra: dict | None = None) -> dict:
        t0 = time.time()
        df.write.mode("overwrite").parquet(self.dir)
        return self.write_manifest(part_rows(self.dir), fingerprint, df.schema, t0, extra)

    def write_manifest(
        self, rows: dict, fingerprint: str, schema: StructType, t0: float, extra: dict | None = None
    ) -> dict:
        """Write the manifest of the part files ``rows`` (name → row count,
        ``part_rows``); a partition is one non-empty part file."""
        rows = {k: n for k, n in rows.items() if n}
        counts = sorted(rows.values())

        def q(p):  # nearest-rank quantile, as percentile_approx returns
            return counts[max(0, math.ceil(p * len(counts)) - 1)] if counts else None

        top = sorted(rows.items(), key=lambda kv: (-kv[1], kv[0]))[: self.TOP_PARTITIONS]
        manifest = {
            "fingerprint": fingerprint,
            "path": self.dir,
            "n_rows": sum(counts),
            "n_partitions": len(counts),
            "partition_rows": dict(top),
            "partition_row_stats": {
                k: q(p) for k, p in zip(("min", "p50", "p90", "p99", "max"), (0, 0.5, 0.9, 0.99, 1))
            },
            "wall_sec": round(time.time() - t0, 3),
            "schema": schema.jsonValue(),
        }
        manifest.update(extra or {})
        with open(self.manifest_path, "w") as f:
            json.dump(manifest, f, indent=2)
        return manifest

    def write_staged(
        self,
        df: DataFrame,
        fingerprint: str,
        extra: dict | None = None,
        side: dict[str, DataFrame] | None = None,
    ) -> list[tuple[str, str]]:
        """Write ``df``, its manifest and the ``side`` tables (suffix →
        DataFrame) to this stage's ``__next`` copy; return the
        ``(staged, live)`` moves that :func:`commit_swap` publishes."""
        nxt = Stage(os.path.dirname(self.dir), os.path.basename(self.dir) + "__next")
        moves = []
        for suffix, sdf in (side or {}).items():
            sdf.write.mode("overwrite").parquet(nxt.dir + suffix)
            moves.append((nxt.dir + suffix, self.dir + suffix))
        nxt.write(df, fingerprint, {**(extra or {}), "path": self.dir})
        return moves + [(nxt.dir, self.dir), (nxt.manifest_path, self.manifest_path)]

    def read(self, spark: SparkSession) -> DataFrame:
        # the manifest's schema spares the read its inference job
        schema = self.manifest().get("schema")
        reader = spark.read if schema is None else spark.read.schema(
            StructType.fromJson(schema)
        )
        return reader.parquet(self.dir)

    def manifest(self) -> dict:
        with open(self.manifest_path) as f:
            return json.load(f)

    def read_side(self, spark: SparkSession, name: str) -> DataFrame:
        """The side table ``name`` over all its epoch dirs, with the schema
        the manifest's ``side_schemas`` recorded (no inference job)."""
        schema = StructType.fromJson(self.manifest()["side_schemas"][name])
        return (
            spark.read.schema(schema)
            .option("recursiveFileLookup", "true")
            .parquet(f"{self.dir}__{name}")
        )


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
        # scope the engine caches to this stage: the prepared corpus persists
        # its ordering and ranked arrays; both are also written as the
        # stage's side tables, so exactly the caches created here are freed
        # on exit — caches owned by the caller or by other in-flight engine
        # plans survive (plans/cache.engine_cache_scope)
        with engine_cache_scope():
            corpus = PreparedSetSimCorpus(docs, "url", self.join_attr, self.tokenizer)
            side = {
                "ordering": corpus.ordering.select("token", "rank"),
                "ranked": corpus.ranked,
            }
            for name, df in side.items():
                # epoch 0 of the store; each increment adds its own epoch dir
                shutil.rmtree(f"{st.dir}__{name}", ignore_errors=True)
                df.write.parquet(f"{st.dir}__{name}/0")
            # the tiny-join gate's corpus row count, from the ranked table's
            # footers instead of a sampled-stats job
            corpus.stats = {"n": sum(part_rows(f"{st.dir}__ranked/0").values())}
            pairs = corpus.join_pairs(
                self.measure,
                self.threshold,
                comp_op=">=",
                allow_empty=False,
                self_join_dedup=True,
                verify=False,
            )
            m = st.write(
                pairs.select("_l_key", "_r_key"),
                fp,
                {"side_schemas": {n: df.schema.jsonValue() for n, df in side.items()}},
            )
        return m

    def scoring(self) -> dict:
        st_block = Stage(self.workdir, "02_blocking")
        st = Stage(self.workdir, "03_scoring")
        m_block = st_block.manifest()
        fp = _fingerprint({**self.params, "stage": "scoring", "up": m_block["fingerprint"]})
        if st.done(fp):
            return st.manifest()
        cand = st_block.read(self.spark)
        # the blocking manifest already counted the candidates it wrote
        n_cand = m_block["n_rows"]
        t0 = time.time()
        # each candidate's sets are blocking's stored ranked arrays, scored
        # by the prefix kernels' own expression: no text read, no tokenizer
        sets = st_block.read_side(self.spark, "ranked").select("_l_key", "_l_ranked")
        scored = score_pairs(
            cand.select(F.col("_l_key").alias("l_url"), F.col("_r_key").alias("r_url")),
            "l_url",
            "r_url",
            sets,
            sets,
            partial(set_sim_score_col, self.measure),
            self.threshold,
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
        tests/test_pipeline_increment.py — but only the delta is tokenized,
        ranked and joined:

        * extract only the new pages (urls already present are recrawls and
          keep their first version — the corpus is append-only);
        * rank the new docs against the stored ordering (the ``02_blocking``
          side tables): tokens never seen before get fixed new ranks
          (``PreparedSetSimCorpus._new_ranks``, ``_rank_delta``);
        * one delta prefix join against the stored ranked arrays ∪ the
          delta's own yields the verified new match edges, delta-internal
          pairs included (``_delta_pairs``); old-old pairs were found by the
          original run and cannot change;
        * clustering folds those edges into the existing assignment with
          ``update_components`` (contracted-graph CC sized by the delta +
          broadcast remap) — no full re-cluster.

        No corpus row is re-tokenized or rewritten. The delta's docs are
        written once, to a staged ``01_extract__next`` every step reads back;
        everything is staged under ``__next`` names and published at ONE
        commit point (``commit_swap``): the delta's part files move into
        ``01_extract`` beside the corpus files, and ``04_clusters`` and the
        side tables' new epoch replace or join the live ones. A crash before
        it leaves the old state, a crash after it is finished by the next
        call's ``recover_swap``. Each increment bumps an ``increment``
        counter in the manifests.
        """
        recover_swap(self.workdir)
        st_ext = Stage(self.workdir, "01_extract")
        st_block = Stage(self.workdir, "02_blocking")
        st_clu = Stage(self.workdir, "04_clusters")
        n_inc = int(st_clu.manifest().get("increment", 0)) + 1
        old_docs = st_ext.read(self.spark)

        def fp(st):
            return _fingerprint(
                {**self.params, "stage": os.path.basename(st.dir), "increment": n_inc}
            )

        t0 = time.time()
        nxt_ext = Stage(self.workdir, "01_extract__next")
        extracted = new_pages.select(
            "url",
            extract_text_col(F.col("html")).alias("text"),
            extract_title_col(F.col("html")).alias("title"),
            "lang",
        ).join(old_docs.select("url"), "url", "left_anti")
        extracted.write.mode("overwrite").parquet(nxt_ext.dir)
        new_docs = self.spark.read.schema(extracted.schema).parquet(nxt_ext.dir)
        # the delta's non-empty part files join the corpus files as they are;
        # the new manifest's lineage covers both
        delta_rows = {n: r for n, r in part_rows(nxt_ext.dir).items() if r}
        moves = [(f"{nxt_ext.dir}/{n}", f"{st_ext.dir}/{n}") for n in delta_rows]
        nxt_ext.write_manifest(
            {**part_rows(st_ext.dir), **delta_rows}, fp(st_ext), old_docs.schema, t0,
            {"path": st_ext.dir},
        )
        moves.append((nxt_ext.manifest_path, st_ext.manifest_path))
        # the store holds one dir per epoch: 0 from blocking, then one per
        # increment; new-token ranks are banded by epoch, so read it from
        # what is stored rather than from a counter
        store = {
            name: f"{st_block.dir}__{name}" for name in ("ordering", "ranked")
        }
        epoch = max(int(e) for e in os.listdir(store["ranked"]))
        corpus = PreparedSetSimCorpus._of(
            old_docs, "url", self.join_attr, self.tokenizer,
            *(st_block.read_side(self.spark, name) for name in store),
            epoch=epoch,
        )

        # stage the store's new epoch; each write is read back (its schema
        # known, so without an inference job) instead of recomputed
        def stage(name, df):
            staged = f"{st_block.dir}__next__{name}/{epoch + 1}"
            df.write.mode("overwrite").parquet(staged)
            moves.append((staged, f"{store[name]}/{epoch + 1}"))
            return self.spark.read.schema(df.schema).parquet(staged)

        new_ranks = stage("ordering", corpus._new_ranks(new_docs))
        ranked = stage("ranked", corpus._rank_delta(new_docs, new_ranks))
        edges = corpus._delta_pairs(
            ranked, self.measure, self.threshold, internal=True
        )
        # new docs enter the assignment as singletons, so the update covers
        # every url of the grown corpus
        assign = (
            st_clu.read(self.spark)
            .unionByName(new_docs.select("url", F.col("url").alias("cluster_id")))
            .select(F.col("url").alias("node"), F.col("cluster_id").alias("component"))
        )
        clusters = update_components(
            assign, edges, src_col="_l_key", dst_col="_r_key"
        ).select(F.col("node").alias("url"), F.col("component").alias("cluster_id"))
        moves += st_clu.write_staged(clusters, fp(st_clu), {"increment": n_inc})
        commit_swap(self.workdir, moves)
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
