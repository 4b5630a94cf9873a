"""Stateful streaming exact dedup: first-seen wins, across micro-batches.

This module answers the EXACT-duplicate question against everything the
stream itself has already seen — "has any earlier micro-batch carried this
same content?" — which needs keyed state that outlives a micro-batch. That is precisely what
Structured Streaming's ``applyInPandasWithState`` provides: the stream is
hash-partitioned by content fingerprint, each key's state (the canonical
first-seen record id and a seen-count) lives in the state store, and the
per-key kernel is an Arrow-batched pandas function (no per-row Python).

Semantics (deterministic, replay-stable):

* fingerprint = ``md5(text)`` (JVM expression, computed before the shuffle);
* the FIRST record ever seen for a fingerprint is canonical; every later
  record is emitted with ``is_duplicate=true`` and ``canonical_id`` set to
  the first record's id;
* within a single micro-batch, ties are broken by ascending record id (the
  arrival order inside a batch is not deterministic, the id order is), so
  re-running the same batches always yields the same canonical choices;
* state store / checkpoint semantics give exactly-once across restarts —
  the pytest suite re-starts the query on the same checkpoint dir and
  asserts the state survived.

Scale shape: one shuffle on the fingerprint (same key the state store is
partitioned by), state size = one (long, long) per DISTINCT content — the
same cardinality an exact-dedup parquet table would hold, spread across
executors. The reference engine has no streaming surface at all
(SURVEY.md §2.5); the batch twin of this operator is
``operators/dedup.exact_duplicates``.
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

_STATE_SCHEMA = T.StructType(
    [
        T.StructField("first_id", T.LongType()),
        T.StructField("n_seen", T.LongType()),
    ]
)


def _output_schema() -> T.StructType:
    return T.StructType(
        [
            T.StructField("id", T.LongType()),
            T.StructField("fingerprint", T.StringType()),
            T.StructField("is_duplicate", T.BooleanType()),
            T.StructField("canonical_id", T.LongType()),
            T.StructField("n_seen_before", T.LongType()),
        ]
    )


def _dedup_kernel(
    key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    """Per-fingerprint kernel. key = (fingerprint,). Emits one row per input
    record; first-seen (lowest id on the canonical batch) is non-duplicate."""
    rows = pd.concat(list(pdfs), ignore_index=True).sort_values("_id")
    if state.exists:
        first_id, n_seen = state.get
    else:
        first_id, n_seen = int(rows["_id"].iloc[0]), 0
    ids = rows["_id"].to_numpy()
    out = pd.DataFrame(
        {
            "id": ids,
            "fingerprint": key[0],
            "is_duplicate": [not (n_seen == 0 and i == first_id) for i in ids],
            "canonical_id": first_id,
            "n_seen_before": n_seen + pd.RangeIndex(len(ids)).to_numpy(),
        }
    )
    state.update((first_id, n_seen + len(ids)))
    yield out


def streaming_exact_dedup(
    stream: DataFrame,
    id_col: str,
    text_col: str,
) -> DataFrame:
    """Append-mode streaming DataFrame flagging exact-content duplicates.

    Output columns: ``id, fingerprint, is_duplicate, canonical_id,
    n_seen_before`` (how many records with this content preceded this one).
    NULL-text records pass through as non-duplicates with a NULL
    fingerprint — the same carve-out every batch operator applies to
    missing join attrs.
    """
    keyed = (
        stream.where(F.col(text_col).isNotNull())
        .select(
            F.col(id_col).cast("long").alias("_id"),
            F.md5(F.col(text_col).cast("binary")).alias("_fp"),
        )
    )
    deduped = keyed.groupBy("_fp").applyInPandasWithState(
        _dedup_kernel,
        _output_schema(),
        _STATE_SCHEMA,
        "append",
        GroupStateTimeout.NoTimeout,
    )
    nulls = stream.where(F.col(text_col).isNull()).select(
        F.col(id_col).cast("long").alias("id"),
        F.lit(None).cast("string").alias("fingerprint"),
        F.lit(False).alias("is_duplicate"),
        F.col(id_col).cast("long").alias("canonical_id"),
        F.lit(0).cast("long").alias("n_seen_before"),
    )
    return deduped.unionByName(nulls)


def exact_dedup_replay(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Batch replay of ``streaming_exact_dedup``: the exact output the
    streaming query produces when the same records arrive in ascending-id
    micro-batch order (first-seen = lowest id per fingerprint; within-batch
    ties already break by id in the streaming kernel, so any batch split of
    an id-ordered replay yields this same table).

    Same schema, same NULL-text carve-out. One shuffle, partitioned by the
    fingerprint — the key the streaming state store hashes on — so the batch
    and streaming plans shard identically at scale. Used by the equivalence
    pytest AND as the driver-oracle form of the streaming surface (the
    CORRECTNESS gate can't run an unbounded query; this is its replay twin).
    """
    from pyspark.sql import Window

    keyed = df.where(F.col(text_col).isNotNull()).select(
        F.col(id_col).cast("long").alias("id"),
        F.md5(F.col(text_col).cast("binary")).alias("fingerprint"),
    )
    w = Window.partitionBy("fingerprint").orderBy("id")
    out = keyed.select(
        "id",
        "fingerprint",
        (F.row_number().over(w) > 1).alias("is_duplicate"),
        F.min("id").over(Window.partitionBy("fingerprint")).alias("canonical_id"),
        (F.row_number().over(w) - 1).cast("long").alias("n_seen_before"),
    )
    nulls = df.where(F.col(text_col).isNull()).select(
        F.col(id_col).cast("long").alias("id"),
        F.lit(None).cast("string").alias("fingerprint"),
        F.lit(False).alias("is_duplicate"),
        F.col(id_col).cast("long").alias("canonical_id"),
        F.lit(0).cast("long").alias("n_seen_before"),
    )
    return out.unionByName(nulls)
