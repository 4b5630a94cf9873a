"""Prepared (pre-tokenized, pre-ranked) corpora for repeated set-sim joins.

The expensive, threshold-INDEPENDENT part of every set-similarity self-join
is the corpus preparation: tokenize → global token ordering → ranked int
arrays. Pipelines that join the same corpus repeatedly — threshold sweeps,
multi-measure scoring, periodic re-dedup — pay that preparation once per
join call unless it is factored out. ``PreparedSetSimCorpus`` materializes
it once:

    corpus = PreparedSetSimCorpus(df, "doc_id", "text", tok)
    a = corpus.join_pairs("jaccard", 0.8, self_join_dedup=True)
    b = corpus.join_pairs("cosine", 0.7, self_join_dedup=True)   # no re-rank

Both joins read the SAME persisted ranked table and ordering; only the
prefix lengths / filters / verify (pure column arithmetic over the stored
rank arrays) differ per call. With ``path=`` the prepared tables are also
written to parquet and re-read from disk, so a later session (or another
job on the cluster) skips preparation entirely; ``buckets=`` additionally
writes the ranked table with ``bucketBy(key)`` via ``saveAsTable`` so
downstream key-equi-joins (output assembly, candset filtering, the
value-expansion joins) read pre-bucketed data with no shuffle on that side.
The token-equi-join itself shuffles by TOKEN, so bucketing-by-key cannot
remove that exchange — the preparation reuse (no tokenize, no ordering
build, no rank groupBy) is the main saving, measured in BENCH.md.

Scope: SELF-joins only. Two independently prepared corpora cannot be joined
against each other — each has its own token→rank mapping, and re-ranking
one side against the other's ordering would silently drop unseen tokens.
Corpora are row-level by construction; for dup-heavy corpora prepare over
``df.select(key, attr).distinct()`` yourself and expand afterwards.

The reference has no analogous surface (every join call re-tokenizes and
rebuilds its ordering dict, join/set_sim_join.py:16-139); this is the
bucketed-pre-partitioning pattern any warehouse engine uses for repeated
co-located joins, applied Spark-first.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.tokenizers import Tokenizer
from ..plans.cache import persist_tracked
from ..plans.stats import sample_plan_stats
from ..plans import filter_math as fm
from .set_sim_join import as_set_tokenizer, set_sim_join_pairs
from .token_ordering import add_ranked_tokens, build_token_ordering


class PreparedSetSimCorpus:
    """Tokenized + globally-ranked + persisted self-join corpus."""

    def __init__(
        self,
        table: DataFrame,
        key_attr: str,
        join_attr: str,
        tokenizer: Tokenizer,
        path: str | None = None,
        buckets: int | None = None,
        table_name: str | None = None,
    ):
        self.table = table
        self.key_attr = key_attr
        self.join_attr = join_attr
        self.tokenizer = as_set_tokenizer(tokenizer)
        spark = table.sparkSession

        proj = table.select(
            F.col(key_attr).alias("_l_key"), F.col(join_attr).alias("_l_str")
        )
        nn = proj.where(F.col("_l_str").isNotNull()).withColumn(
            "_tokens", self.tokenizer.spark_col(F.col("_l_str"))
        )
        ordering = build_token_ordering([(nn, "_tokens")])
        ranked = add_ranked_tokens(
            nn, ["_l_key"], "_tokens", ordering, "_l_ranked", "_l_size"
        ).select("_l_key", "_l_ranked", "_l_size")

        if path is not None:
            # materialize to storage once; downstream joins (this session or
            # any later one via ``load``) scan parquet instead of recomputing
            ordering.write.mode("overwrite").parquet(f"{path}/ordering")
            if buckets:
                name = table_name or "ssj_prepared_ranked"
                (
                    ranked.write.mode("overwrite")
                    .bucketBy(buckets, "_l_key")
                    .sortBy("_l_key")
                    .option("path", f"{path}/ranked")
                    .saveAsTable(name)
                )
                ranked = spark.table(name)
            else:
                ranked.write.mode("overwrite").parquet(f"{path}/ranked")
                ranked = spark.read.parquet(f"{path}/ranked")
            ordering = spark.read.parquet(f"{path}/ordering")
        else:
            ordering = persist_tracked(ordering)
            ranked = persist_tracked(ranked)
        self.ordering = ordering
        self.ranked = ranked
        # the sampled row count every join over this corpus hands to the
        # kernel's tiny-join gate
        self.stats = sample_plan_stats([(proj, "_l_str")])

    @classmethod
    def load(
        cls,
        table: DataFrame,
        key_attr: str,
        join_attr: str,
        tokenizer: Tokenizer,
        path: str,
        table_name: str | None = None,
    ) -> "PreparedSetSimCorpus":
        """Reconstruct a prepared corpus from a prior ``path=``
        materialization WITHOUT re-tokenizing or re-ranking.

        ``table`` must be the same corpus the materialization was built from
        (its rows are what join outputs refer to); ``tokenizer`` must be the
        one used at prepare time — neither is re-derivable from the stored
        tables, so both are caller-supplied and unvalidated. Pass
        ``table_name`` to read a ``buckets=`` materialization through the
        metastore (bucketed scan) instead of plain parquet. The only job
        this runs is the bounded-sample stats probe; the tokenize / ordering
        / rank work is skipped entirely.
        """
        self = cls.__new__(cls)
        self.table = table
        self.key_attr = key_attr
        self.join_attr = join_attr
        self.tokenizer = as_set_tokenizer(tokenizer)
        spark = table.sparkSession
        self.ordering = spark.read.parquet(f"{path}/ordering")
        if table_name is not None:
            self.ranked = spark.table(table_name)
        else:
            self.ranked = spark.read.parquet(f"{path}/ranked")
        proj = table.select(
            F.col(key_attr).alias("_l_key"), F.col(join_attr).alias("_l_str")
        )
        self.stats = sample_plan_stats([(proj, "_l_str")])
        return self

    def resolve_packer(self):
        """Pair-key packer for self-joins over this corpus, resolved ONCE.

        For long-typed keys ``plans.pairkey.resolve_pair_packer`` costs a
        column-pruned min/max job; its answer is a property of the corpus,
        not of the threshold — so threshold sweeps over a prepared corpus
        must not re-pay it per call.
        """
        if not hasattr(self, "_packer_resolved"):
            from ..plans.pairkey import resolve_pair_packer

            self._packer = resolve_pair_packer(
                self.table, self.table, self.key_attr, self.key_attr, True
            )
            self._packer_resolved = True
        return self._packer

    def join_pairs(
        self,
        measure: str,
        threshold: float,
        comp_op: str = ">=",
        allow_empty: bool = True,
        allow_missing: bool = False,
        position_filter: bool = True,
        self_join_dedup: bool = False,
        verify: bool = True,
        shuffle_partitions: int | None = None,
    ) -> DataFrame:
        """Self-join this corpus → DataFrame(_l_key, _r_key, _sim_score).

        Identical semantics to ``set_sim_join_pairs`` on the original table
        (oracle-checked in tests); preparation stages are skipped."""
        return set_sim_join_pairs(
            measure,
            self.table,
            self.table,
            self.key_attr,
            self.key_attr,
            self.join_attr,
            self.join_attr,
            self.tokenizer,
            threshold,
            comp_op=comp_op,
            allow_empty=allow_empty,
            allow_missing=allow_missing,
            position_filter=position_filter,
            self_join_dedup=self_join_dedup,
            verify=verify,
            value_dedup=False,
            shuffle_partitions=shuffle_partitions,
            _prepared=self,
        )

    def join_delta_pairs(
        self,
        delta: DataFrame,
        measure: str,
        threshold: float,
        comp_op: str = ">=",
        delta_key_attr: str | None = None,
        delta_join_attr: str | None = None,
    ) -> DataFrame:
        """Join NEW rows against this prepared corpus without re-preparing it.

        The incremental-crawl pattern: the corpus (N rows) is prepared once;
        each increment (n ≪ N rows) joins against it in one pass — no corpus
        re-tokenize, no ordering rebuild, no corpus-side shuffle beyond the
        probe join against the persisted ranked table. Returns
        ``(_l_key, _r_key, _sim_score)`` with ``_l_key`` from the delta and
        ``_r_key`` from the corpus (delta-internal pairs are NOT included —
        fold the increment into a new prepared corpus periodically).

        Correctness with unseen tokens: delta tokens absent from the corpus
        vocabulary cannot match any corpus row, but they DO count in the
        delta row's set size — so sizes come from the FULL token set while
        the overlap is computed on the known-rank arrays (exact: the
        intersection can only contain known tokens). The candidate probe is
        the full prefix-filter + PPJoin position bound, both sides: extend
        the corpus's total order by placing unseen tokens AFTER every known
        rank — corpus arrays are unchanged, and the delta row's sorted-set
        prefix of length p(|full set|) is then exactly
        ``slice(known_ranks, 1, p)`` as far as any corpus set can see (the
        unseen tail of the prefix intersects nothing). Any true pair's
        first common token is a known rank inside both prefixes, so no
        pair is missed; the position bound at that token uses the KNOWN
        remaining count on the delta side (the overlap is a subset of the
        known ranks), which is tighter than |full| − pos − 1 and still an
        upper bound.

        allow_empty semantics are the ``False`` variant (no empty-empty
        score-1.0 pairs) — an increment row with no tokens matches nothing.

        Skew: the probe join is a plain shuffle join on the rank (not the
        exploded-amplification shape the measured per-token salting
        targets), so AQE's skew-join split covers hot tokens here; for
        small increments Catalyst broadcasts the delta side and skew is
        moot. If the "increment" approaches corpus size, re-prepare and
        run the full kernel instead — that is the salted, measured path.
        """
        from .set_sim_join import _COMP_COL_FN

        dk = delta_key_attr or self.key_attr
        da = delta_join_attr or self.join_attr
        d = (
            delta.select(F.col(dk).alias("_l_key"), F.col(da).alias("_s"))
            .where(F.col("_s").isNotNull())
            .withColumn("_dt", self.tokenizer.spark_col(F.col("_s")))
            .select("_l_key", F.size("_dt").alias("_l_full"), "_dt")
        )
        # one ordering lookup serves both the probe and the known-rank arrays
        exr = (
            d.select("_l_key", F.explode("_dt").alias("token"))
            .join(self.ordering.select("token", "rank"), "token")
            .select("_l_key", "rank")
        )
        known = exr.groupBy("_l_key").agg(
            F.array_sort(F.collect_list("rank")).alias("_l_ranked")
        )
        dr = (
            d.join(known, "_l_key", "left")
            .withColumn(
                "_l_ranked",
                F.coalesce(F.col("_l_ranked"), F.array().cast("array<long>")),
            )
            .select("_l_key", "_l_full", "_l_ranked")
        )
        # corpus prefix: a slice of the persisted ranked arrays — the only
        # corpus-wide work per call, and it is pure column arithmetic
        pref = (
            self.ranked.withColumn(
                "_pfx", fm.prefix_length_col(F.col("_l_size"), measure, threshold)
            )
            .select(
                F.col("_l_key").alias("_r_key"),
                F.col("_l_size").alias("_r_size"),
                F.posexplode(F.expr("slice(_l_ranked, 1, _pfx)")).alias(
                    "_r_pos", "rank"
                ),
            )
        )
        # delta prefix: length from the FULL size (unseen tokens sort last in
        # the extended order, so the known part of the true prefix is exactly
        # this slice); position within the known array IS the position within
        # the full sorted set for every known token
        probe = (
            dr.withColumn(
                "_pfx", fm.prefix_length_col(F.col("_l_full"), measure, threshold)
            )
            .select(
                "_l_key",
                "_l_full",
                F.size("_l_ranked").alias("_l_known"),
                F.posexplode(F.expr("slice(_l_ranked, 1, _pfx)")).alias(
                    "_l_pos", "rank"
                ),
            )
        )
        # PPJoin position bound (set_sim_join.py's per-row formulation): the
        # pair's min-rank shared token attains the maximum of the bound, so
        # filtering rows before the distinct loses no qualifying pair
        pos_ub = F.lit(1) + F.least(
            F.col("_l_known") - F.col("_l_pos") - 1,
            F.col("_r_size") - F.col("_r_pos") - 1,
        )
        cand = (
            probe.join(pref, "rank")
            .where(
                (F.col("_r_size")
                 >= fm.size_lower_bound_col(F.col("_l_full"), measure, threshold))
                & (F.col("_r_size")
                   <= fm.size_upper_bound_col(F.col("_l_full"), measure, threshold))
                & (pos_ub >= fm.overlap_threshold_col(
                    F.col("_l_full"), F.col("_r_size"), measure, threshold))
            )
            .select("_l_key", "_r_key")
            .distinct()
        )
        corpus_r = self.ranked.select(
            F.col("_l_key").alias("_r_key"),
            F.col("_l_ranked").alias("_r_ranked"),
            F.col("_l_size").alias("_r_size"),
        )
        j = cand.join(dr, "_l_key").join(corpus_r, "_r_key")
        ov = F.size(F.array_intersect("_l_ranked", "_r_ranked")).cast("double")
        ls = F.col("_l_full").cast("double")
        rs = F.col("_r_size").cast("double")
        if measure == "jaccard":
            score = ov / (ls + rs - ov)
        elif measure == "cosine":
            score = ov / F.sqrt(ls * rs)
        elif measure == "dice":
            score = F.lit(2.0) * ov / (ls + rs)
        else:
            raise ValueError(f"unsupported measure for delta join: {measure}")
        return (
            j.withColumn("_sim_score", score)
            .where(_COMP_COL_FN[comp_op](F.col("_sim_score"), F.lit(threshold)))
            .select("_l_key", "_r_key", "_sim_score")
        )
