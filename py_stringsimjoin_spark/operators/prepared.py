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

Scope: ``join_pairs`` is a SELF-join. Two independently prepared corpora
cannot be joined against each other — each has its own token→rank mapping.
New rows join a prepared corpus through ``join_delta_pairs`` instead: they
are ranked against the stored ordering, their unseen tokens get fixed new
ranks below every stored rank, and one delta kernel joins the delta
prefixes against the corpus prefixes (and, for
``LinkagePipeline.increment``, against the delta's own, so delta-internal
pairs come out of the same join). Corpora are row-level by construction;
for dup-heavy corpora prepare over ``df.select(key, attr).distinct()``
yourself and expand afterwards.

The reference has no analogous surface (every join call re-tokenizes and
rebuilds its ordering dict, join/set_sim_join.py:16-139); this is the
bucketed-pre-partitioning pattern any warehouse engine uses for repeated
co-located joins, applied Spark-first.
"""

from __future__ import annotations

from functools import cached_property

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions.tokenizers import Tokenizer
from ..plans.cache import persist_tracked
from ..plans.stats import sample_plan_stats
from .set_sim_join import (
    _filter_and_verify,
    _prefix_explode,
    as_set_tokenizer,
    set_sim_join_pairs,
)
from .token_ordering import add_ranked_tokens, build_token_ordering

# rank layout of tokens first seen in an increment (``_rank_delta``)
_BAND_BITS = 48
_BUCKET_BITS = 10


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
        self._epoch = 0

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
        metastore (bucketed scan) instead of plain parquet. It runs no job:
        the tokenize / ordering / rank work is skipped entirely, and the
        sampled stats wait for the first ``join_pairs``.
        """
        spark = table.sparkSession
        ranked = (
            spark.table(table_name)
            if table_name is not None
            else spark.read.parquet(f"{path}/ranked")
        )
        return cls._of(
            table, key_attr, join_attr, tokenizer,
            spark.read.parquet(f"{path}/ordering"), ranked,
        )

    @classmethod
    def _of(
        cls,
        table: DataFrame,
        key_attr: str,
        join_attr: str,
        tokenizer: Tokenizer,
        ordering: DataFrame,
        ranked: DataFrame,
        epoch: int = 0,
    ) -> "PreparedSetSimCorpus":
        """A corpus over already-built tables: ``ordering`` (token, rank)
        and ``ranked`` (_l_key, _l_ranked, _l_size), into whose ranks
        ``epoch`` increments have been folded (``_new_ranks``)."""
        self = cls.__new__(cls)
        self.table = table
        self.key_attr = key_attr
        self.join_attr = join_attr
        self.tokenizer = as_set_tokenizer(tokenizer)
        self.ordering = ordering
        self.ranked = ranked
        self._epoch = epoch
        return self

    @cached_property
    def stats(self) -> dict:
        """The sampled row count every self-join over this corpus hands to
        the kernel's tiny-join gate; one bounded-sample job, paid by the
        first ``join_pairs`` (the delta kernel never reads it). A caller
        that knows the non-NULL row count assigns ``{"n": rows}`` instead,
        as ``LinkagePipeline.blocking`` does from parquet footers."""
        proj = self.table.select(
            F.col(self.key_attr).alias("_l_key"),
            F.col(self.join_attr).alias("_l_str"),
        )
        return sample_plan_stats([(proj, "_l_str")])

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
        each increment (n ≪ N rows) is tokenized and ranked against the
        stored ordering (``_new_ranks``, ``_rank_delta``) and its prefixes
        probe the stored ranked arrays (``_delta_pairs``) — no corpus
        re-tokenize, no ordering rebuild. Returns ``(_l_key, _r_key, _sim_score)`` with ``_l_key``
        from the delta and ``_r_key`` from the corpus; the delta-internal
        pairs the same kernel finds are not included here.

        allow_empty semantics are the ``False`` variant (no empty-empty
        score-1.0 pairs) — an increment row with no tokens matches nothing;
        NULL rows are dropped.
        """
        attrs = (delta_key_attr, delta_join_attr)
        ranked = self._rank_delta(delta, self._new_ranks(delta, *attrs), *attrs)
        return self._delta_pairs(ranked, measure, threshold, comp_op)

    def _delta_tokens(
        self, delta: DataFrame, key_attr: str | None, join_attr: str | None
    ) -> DataFrame:
        """``(_l_key, token)``, one row per token of each delta row; NULL and
        empty rows have none — under allow_empty=False they match nothing."""
        return delta.select(
            F.col(key_attr or self.key_attr).alias("_l_key"),
            F.explode(
                self.tokenizer.spark_col(F.col(join_attr or self.join_attr))
            ).alias("token"),
        )

    def _new_ranks(
        self,
        delta: DataFrame,
        key_attr: str | None = None,
        join_attr: str | None = None,
    ) -> DataFrame:
        """``(token, rank)`` for the delta's tokens that the stored ordering
        lacks: the rows that extend it when the delta is folded in.

        Unseen tokens rank BELOW every stored rank: the increment after
        ``self._epoch`` folds owns the band ``[-e·2^48, -(e-1)·2^48)``,
        e = ``self._epoch + 1``; inside it a token's rank is its hash bucket
        ``<< 38`` plus its dense rank among that bucket's new tokens in token
        order. Ranks are therefore distinct, fixed once written, and found
        by a partitioned window — no collect and no max-rank job. Prefix and
        position filtering are exact under ANY fixed total token order
        applied to both sides of a pair (AllPairs/PPJoin); stored arrays
        contain no unseen token, so they are already sorted in the extended
        order. Putting the delta's new — hence rare — tokens first also
        keeps the frequency heuristic: they lead the delta prefixes and
        match only delta rows that share them. Bounds: < 2^15 increments,
        < 2^38 new tokens per bucket per increment.
        """
        bucket = F.pmod(F.xxhash64("token"), F.lit(1 << _BUCKET_BITS))
        # window first, then distinct: the window's exchange on the bucket
        # already clusters (bucket, token), so the distinct adds none
        return (
            self._delta_tokens(delta, key_attr, join_attr)
            .join(self.ordering.select("token"), "token", "left_anti")
            .withColumn("_b", bucket)
            .select(
                "_b",
                "token",
                (
                    F.lit(-((self._epoch + 1) << _BAND_BITS))
                    + F.shiftleft(F.col("_b"), _BAND_BITS - _BUCKET_BITS)
                    + F.dense_rank().over(Window.partitionBy("_b").orderBy("token"))
                    - 1
                ).alias("rank"),
            )
            .distinct()
            .select("token", "rank")
        )

    def _rank_delta(
        self,
        delta: DataFrame,
        new_ranks: DataFrame,
        key_attr: str | None = None,
        join_attr: str | None = None,
    ) -> DataFrame:
        """The delta's ranked rows ``(_l_key, _l_ranked, _l_size)``, like
        ``self.ranked``, under the stored ordering extended by ``new_ranks``
        (``_new_ranks`` of the same delta) — complete: every token has a
        rank, so sizes and overlaps come from one array."""
        return (
            self._delta_tokens(delta, key_attr, join_attr)
            .join(
                self.ordering.select("token", "rank").unionByName(new_ranks),
                "token",
            )
            .groupBy("_l_key")
            .agg(F.array_sort(F.collect_list("rank")).alias("_l_ranked"))
            .select("_l_key", "_l_ranked", F.size("_l_ranked").alias("_l_size"))
        )

    def _delta_pairs(
        self,
        ranked: DataFrame,
        measure: str,
        threshold: float,
        comp_op: str = ">=",
        internal: bool = False,
    ) -> DataFrame:
        """The delta kernel: prefixes of ``ranked`` (``_rank_delta``) probe
        the corpus prefixes → ``(_l_key, _r_key, _sim_score)``.

        It runs the prefix explode, size and position filters,
        first-shared-token test and inline verify of ``set_sim_join_pairs``
        (``_prefix_explode`` / ``_filter_and_verify``), so each pair comes
        out once with no pair distinct; the corpus side is a slice of the
        stored ranked arrays, pure column arithmetic. The stored and delta
        arrays are sorted in one extended token order (``_new_ranks``), which
        is all the first-shared-token test needs. With ``internal=True`` the
        right side is corpus ∪ delta, tagged ``_r_delta``, and the
        delta-internal pairs come out once each, ``_l_key < _r_key``.

        Skew: the probe join is a plain shuffle join on the rank, so AQE's
        skew-join split covers hot tokens; for small increments Catalyst
        broadcasts the delta side. An "increment" near corpus size belongs
        in the full, salted kernel instead.
        """

        def right(rk):
            return _prefix_explode(
                rk.select(
                    F.col("_l_key").alias("_r_key"),
                    F.col("_l_ranked").alias("_r_ranked"),
                    F.col("_l_size").alias("_r_size"),
                ),
                "r", measure, threshold,
            )

        pr, pair_pred = right(self.ranked), None
        if internal:
            pr = pr.withColumn("_r_delta", F.lit(False)).unionByName(
                right(ranked).withColumn("_r_delta", F.lit(True))
            )
            pair_pred = ~F.col("_r_delta") | (F.col("_l_key") < F.col("_r_key"))
        pl = _prefix_explode(ranked, "l", measure, threshold)
        return _filter_and_verify(
            pl.join(pr, "_tok"), measure, threshold, comp_op, pair_pred=pair_pred
        ).select("_l_key", "_r_key", "_sim_score")
