"""Checkpointed corpus-curation pipeline for web-text training data.

The training-data counterpart of :class:`.pipeline.LinkagePipeline`: the
same Stage/manifest machinery (parquet + fingerprint per stage, each
stage independently resumable), composing this repo's hygiene operators
into the standard curation order a Common-Crawl-style corpus goes
through before it trains anything:

  01_canon    canonical-URL recrawl dedup — ONE row per canonical URL
              (latest ``warc_ts`` wins, ties by url) via
              functions/urls.normalize_url_expr
  02_neardup  MinHash-LSH near-duplicate clusters over ``text``
              (operators/dedup.minhash_dedup → connected components);
              one representative (min url) survives per cluster
  03_hygiene  site-level boilerplate line removal (grouped by url host)
              then the Gopher-style per-rule quality gate on the CLEANED
              text; dropped rows carry their reason in the manifest
  04_scrub    PII redaction (map-only regexp chain)
  05_splits   deterministic leakage-safe train/val/test assignment keyed
              on the url (operators/splits.assign_splits)

Every stage writes parquet + a manifest with row counts, per-partition
lineage, and wall-clock; a re-run skips stages whose fingerprint (params
+ stage name) matches — resume after a crash re-reads, never recomputes.
Each stage is pure DataFrame work that scales exactly as its operator's
own docstring describes; the pipeline adds no collects and no state
beyond the manifests.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.pii import redact_pii_expr
from ..functions.tokenizers import ShingleTokenizer
from ..functions.urls import normalize_url_expr, url_host_expr
from ..operators.dedup import (
    dedup_groups,
    minhash_band_rows,
    verify_jaccard_pairs,
)
from ..operators.splits import assign_splits
from ..operators.textclean import gopher_quality_filter, remove_boilerplate_lines
from .pipeline import Stage, _fingerprint, commit_swap, recover_swap


class CurationPipeline:
    def __init__(
        self,
        spark: SparkSession,
        workdir: str,
        neardup_threshold: float = 0.8,
        min_words: int = 5,
        max_words: int = 100000,
        boilerplate_min_pages: int = 5,
        split_weights: dict | None = None,
        split_seed: str = "curation",
    ):
        self.spark = spark
        self.workdir = workdir
        os.makedirs(workdir, exist_ok=True)
        self.params = {
            "neardup_threshold": neardup_threshold,
            "min_words": min_words,
            "max_words": max_words,
            "boilerplate_min_pages": boilerplate_min_pages,
            "split_weights": sorted((split_weights or {"train": 0.9, "val": 0.05, "test": 0.05}).items()),
            "split_seed": split_seed,
        }
        self.neardup_threshold = neardup_threshold
        self.min_words = min_words
        self.max_words = max_words
        self.boilerplate_min_pages = boilerplate_min_pages
        self.split_weights = split_weights or {"train": 0.9, "val": 0.05, "test": 0.05}
        self.split_seed = split_seed

    def _stage(self, name: str):
        return Stage(self.workdir, name), _fingerprint({**self.params, "stage": name})

    # ---------------------------------------------------------------- stages
    def canon(self, pages: DataFrame) -> dict:
        st, fp = self._stage("01_canon")
        if st.done(fp):
            return st.manifest()
        n_in = pages.count()
        canon = pages.withColumn("canonical_url", normalize_url_expr(F.col("url")))
        w = Window.partitionBy("canonical_url").orderBy(
            F.col("warc_ts").desc(), F.col("url").asc()
        )
        kept = (
            canon.withColumn("_rn", F.row_number().over(w))
            .where(F.col("_rn") == 1)
            .select("url", "canonical_url", "warc_ts", "text", "lang")
        )
        return st.write(kept, fp, {"n_in": int(n_in)})

    def neardup(self) -> dict:
        st, fp = self._stage("02_neardup")
        if st.done(fp):
            return st.manifest()
        prev = Stage(self.workdir, "01_canon")
        docs = prev.read(self.spark)
        tok = ShingleTokenizer(n=3)
        buckets = minhash_band_rows(docs, "url", "text", tok)
        cand = (
            buckets.alias("a")
            .join(buckets.alias("b"), ["_band", "_bucket"])
            .where(F.col("a.id") < F.col("b.id"))
            .select(F.col("a.id").alias("l_id"), F.col("b.id").alias("r_id"))
            .distinct()
        )
        pairs = verify_jaccard_pairs(
            cand, docs, "url", "text", tok, self.neardup_threshold
        ).select("l_id", "r_id")
        # side state for increments: the band buckets (so a delta probes
        # existing buckets instead of re-signing the corpus) and the
        # verified edges (so cluster membership can be rebuilt after
        # recrawl-replacements delete nodes). Written BEFORE the manifest:
        # a crash between leaves the stage not-done and it reruns whole.
        buckets.write.mode("overwrite").parquet(st.dir + "__buckets")
        pairs.write.mode("overwrite").parquet(st.dir + "__pairs")
        kept = self._survivors(docs, self.spark.read.parquet(st.dir + "__pairs"))
        # n_in == the previous stage's output count — read it from that
        # stage's manifest instead of paying another full-input count pass
        return st.write(kept, fp, {"n_in": int(prev.manifest()["n_rows"])})

    @staticmethod
    def _survivors(docs: DataFrame, pairs: DataFrame) -> DataFrame:
        groups = dedup_groups(docs, "url", pairs)
        rep = groups.groupBy("group_id").agg(F.min("id").alias("_rep"))
        keep = groups.join(rep, "group_id").where(F.col("id") == F.col("_rep"))
        return docs.join(keep.select(F.col("id").alias("url")), "url", "left_semi")

    def hygiene(self) -> dict:
        st, fp = self._stage("03_hygiene")
        if st.done(fp):
            return st.manifest()
        prev = Stage(self.workdir, "02_neardup")
        docs = prev.read(self.spark)
        sited = docs.withColumn("_site", url_host_expr(F.col("url")))
        clean = remove_boilerplate_lines(
            sited, "url", "text", "_site",
            min_pages=self.boilerplate_min_pages,
        ).select("url", F.col("clean_text"))
        merged = docs.drop("text").join(clean, "url")
        gate = gopher_quality_filter(
            merged, "url", "clean_text",
            min_words=self.min_words, max_words=self.max_words,
        ).select("url", "keep", "reason")
        reasons = {
            r["reason"]: int(r["n"])
            for r in gate.where(~F.col("keep"))
            .groupBy("reason")
            .agg(F.count(F.lit(1)).alias("n"))
            .collect()
        }
        kept = merged.join(
            gate.where(F.col("keep")).select("url"), "url", "left_semi"
        ).withColumnRenamed("clean_text", "text")
        return st.write(
            kept, fp,
            {"n_in": int(prev.manifest()["n_rows"]), "dropped_by_rule": reasons},
        )

    def scrub(self) -> dict:
        st, fp = self._stage("04_scrub")
        if st.done(fp):
            return st.manifest()
        docs = Stage(self.workdir, "03_hygiene").read(self.spark)
        out = docs.withColumn("text", redact_pii_expr(F.col("text")))
        return st.write(out, fp)

    def splits(self) -> dict:
        st, fp = self._stage("05_splits")
        if st.done(fp):
            return st.manifest()
        docs = Stage(self.workdir, "04_scrub").read(self.spark)
        out = assign_splits(
            docs, "url", self.split_weights, seed=self.split_seed
        )
        return st.write(out, fp)

    # ------------------------------------------------------------- increment
    def increment(self, delta_pages: DataFrame) -> DataFrame:
        """Fold a crawl increment into the curated state, delta-shaped.

        Equivalent to re-running the FULL pipeline over (old ∪ delta)
        pages — asserted in tests/test_curation.py — but the expensive
        stages only touch the delta:

        * canonical dedup: unaffected canonical keys pass through with an
          anti-join (delta keys broadcast); only affected keys re-window;
        * near-dup: only CHANGED docs (new keys + recrawl winners) are
          re-signed; their bands probe the PERSISTED bucket table, so the
          corpus is never re-signed. Edges touching replaced docs are
          dropped (their text left the corpus — groups may split), new
          verified edges join the persisted edge set, and connected
          components rebuild over the EDGE set only (edges ≪ corpus);
        * hygiene/scrub/splits recompute over the surviving set — they
          are single-pass map-heavy stages whose cost is one corpus scan
          (boilerplate counts are corpus-dependent, so true equivalence
          requires the recount; splits are per-key deterministic and
          cannot move).

        Stages and their side tables are staged under ``__next`` names
        (each new stage is derived FROM the old one) and published together
        at one commit point (``pipeline.commit_swap``); downstream manifests
        are removed so the tail stages recompute instead of wrongly
        resuming.
        """
        st_canon = Stage(self.workdir, "01_canon")
        st_nd = Stage(self.workdir, "02_neardup")
        recover_swap(self.workdir)
        n_inc = int(st_nd.manifest().get("increment", 0)) + 1

        old = st_canon.read(self.spark)
        delta = delta_pages.withColumn(
            "canonical_url", normalize_url_expr(F.col("url"))
        ).select("url", "canonical_url", "warc_ts", "text", "lang")
        affected = delta.select("canonical_url").distinct()
        untouched = old.join(affected, "canonical_url", "left_anti")
        contested = old.join(affected, "canonical_url", "left_semi")
        w = Window.partitionBy("canonical_url").orderBy(
            F.col("warc_ts").desc(), F.col("url").asc()
        )
        winners = (
            contested.unionByName(delta)
            .withColumn("_rn", F.row_number().over(w))
            .where(F.col("_rn") == 1)
            .drop("_rn")
        )
        new_canon = untouched.unionByName(winners)
        # changed = winners not identical to an existing row (new keys, or
        # keys where the delta crawl won); replaced = old rows that lost.
        # Compare a text fingerprint as well as (url, warc_ts): a delta row
        # re-delivering the same url+timestamp with DIFFERENT text must be
        # re-signed or its stale LSH buckets/edges would silently survive.
        changed = winners.join(
            old.select(
                "url",
                F.col("warc_ts").alias("_ots"),
                F.md5(F.col("text")).alias("_omd5"),
            ),
            "url",
            "left",
        ).where(
            F.col("_ots").isNull()
            | (F.col("warc_ts") != F.col("_ots"))
            | (F.md5(F.col("text")) != F.col("_omd5"))
        ).drop("_ots", "_omd5")
        # stale = old rows that left the corpus or whose text changed: every
        # contested old url EXCEPT a winner that is the old row unchanged
        # (the delta lost — its buckets and edges remain valid)
        unchanged_winners = winners.join(
            changed.select("url"), "url", "left_anti"
        ).select("url")
        stale_urls = contested.select("url").join(
            unchanged_winners, "url", "left_anti"
        ).distinct()

        tok = ShingleTokenizer(n=3)
        old_buckets = self.spark.read.parquet(st_nd.dir + "__buckets")
        old_pairs = self.spark.read.parquet(st_nd.dir + "__pairs")
        live_old_buckets = old_buckets.join(
            stale_urls.select(F.col("url").alias("id")), "id", "left_anti"
        )
        new_buckets = minhash_band_rows(changed, "url", "text", tok)
        all_buckets = live_old_buckets.unionByName(new_buckets)
        cand = (
            new_buckets.alias("a")
            .join(all_buckets.alias("b"), ["_band", "_bucket"])
            .where(F.col("a.id") != F.col("b.id"))
            .select(
                F.least(F.col("a.id"), F.col("b.id")).alias("l_id"),
                F.greatest(F.col("a.id"), F.col("b.id")).alias("r_id"),
            )
            .distinct()
        )
        new_pairs = verify_jaccard_pairs(
            cand, new_canon, "url", "text", tok, self.neardup_threshold
        ).select("l_id", "r_id")
        live_old_pairs = old_pairs.join(
            stale_urls.select(F.col("url").alias("l_id")), "l_id", "left_anti"
        ).join(stale_urls.select(F.col("url").alias("r_id")), "r_id", "left_anti")
        all_pairs = live_old_pairs.unionByName(new_pairs).distinct()
        survivors = self._survivors(new_canon, all_pairs)

        fp_inc = {"increment": n_inc}
        moves = []
        for st, df, side in (
            (st_canon, new_canon, {}),
            (st_nd, survivors, {"__buckets": all_buckets, "__pairs": all_pairs}),
        ):
            fp = _fingerprint(
                {**self.params, "stage": os.path.basename(st.dir), **fp_inc}
            )
            moves += st.write_staged(df, fp, fp_inc, side)
        commit_swap(self.workdir, moves)
        # tail stages are derived from 02_neardup: force their recompute
        for name in ("03_hygiene", "04_scrub", "05_splits"):
            p = Stage(self.workdir, name).manifest_path
            if os.path.exists(p):
                os.remove(p)
        self.hygiene()
        self.scrub()
        self.splits()
        return Stage(self.workdir, "05_splits").read(self.spark)

    # ------------------------------------------------------------------ run
    def run(self, pages: DataFrame) -> DataFrame:
        self.canon(pages)
        self.neardup()
        self.hygiene()
        self.scrub()
        self.splits()
        return Stage(self.workdir, "05_splits").read(self.spark)

    def metrics(self) -> dict:
        out = {}
        for name in ("01_canon", "02_neardup", "03_hygiene", "04_scrub", "05_splits"):
            st = Stage(self.workdir, name)
            if os.path.exists(st.manifest_path):
                m = st.manifest()
                out[name] = {
                    k: m[k]
                    for k in ("n_rows", "n_in", "wall_sec", "dropped_by_rule")
                    if k in m
                }
        return out
