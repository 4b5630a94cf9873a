"""Shared pre-plan statistics for the engine's value-dedup decision.

The joins make one cost-based choice Catalyst cannot (it is domain logic,
not a relational rewrite): *value dedup* — run the join over distinct
join-attr VALUES when the corpus is duplicate-heavy. The set-sim kernels'
tiny-join gate reads the same row count when it is already paid for.

Round 3 computed these with full-corpus driver-blocking jobs per join call
(count + approx_count_distinct over every join attr). Round 4 replaced them
with ONE bounded-sample job: each side contributes at most
``spark.py_stringsimjoin.statsSampleRows`` rows (default 100k) via
``limit()``, which Spark satisfies by reading a handful of input partitions
— the job's cost is O(sample), independent of corpus size. The decision
these estimates feed is a pure physical-plan choice; both plans produce
identical output, so a sampling miss costs performance, never correctness.
Set the conf to ``0`` to restore exact full-corpus statistics, or pass
``value_dedup=`` explicitly to skip the job entirely.

NOTE ON EAGERNESS: the stats job still runs at PLAN TIME (the physical plan
shape depends on the answer, so it cannot be deferred) — but it is a
bounded read, not a corpus scan.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

DEFAULT_SAMPLE_ROWS = 100_000


from contextlib import contextmanager  # noqa: E402


@contextmanager
def util_shuffle_scope(spark):
    """Run a PLAN-TIME utility job (vocab probe, sampled stats, hot-token
    sample) with a reduced ``spark.sql.shuffle.partitions``.

    The kernels size their shuffles by WORKLOAD (e.g. the bench pins 256
    for the row-level joins); utility jobs aggregate vocabulary- or
    sample-sized data and don't need kernel-sized reduce fan-out —
    cached-plan materializations in particular never AQE-coalesce
    (canChangeCachedPlanOutputPartitioning defaults false).
    ``spark.py_stringsimjoin.utilShufflePartitions`` (default
    ``max(32, shuffle_partitions // 8)``) keeps them wide enough for real
    corpora (the default scales with the session's own sizing) while
    avoiding near-empty task waves locally.

    Caveat (documented, same policy as engine_cache_scope): the conf is
    session-global for the duration of the eager job — a concurrent
    thread PLANNING a query in the same session may pick it up. Join
    EXECUTION is unaffected (the kernels' exchanges read the conf at their
    own action time, outside any scope).
    """
    key = "spark.sql.shuffle.partitions"
    old = spark.conf.get(key)
    util = spark.conf.get("spark.py_stringsimjoin.utilShufflePartitions", "")
    n = int(util) if util else max(32, int(old) // 8)
    if n >= int(old):
        yield
        return
    spark.conf.set(key, str(n))
    try:
        yield
    finally:
        spark.conf.set(key, old)


def _sample_rows_conf(df: DataFrame) -> int:
    return int(
        df.sparkSession.conf.get(
            "spark.py_stringsimjoin.statsSampleRows", str(DEFAULT_SAMPLE_ROWS)
        )
    )


def sample_plan_stats(
    sides: list[tuple[DataFrame, str]], sample_rows: int | None = None
) -> dict:
    """ONE bounded Spark job → ``{"n", "nd"}``: per-side row count and
    per-side approx-distinct of the join attr, each summed across sides
    (the round-2 per-side semantics). Each side is capped at
    ``sample_rows`` rows (``limit`` — a bounded read of the first input
    partitions, not a corpus scan); ``sample_rows<=0`` means exact
    full-table statistics.
    """
    if sample_rows is None:
        sample_rows = _sample_rows_conf(sides[0][0])
    u = None
    for i, (df, col) in enumerate(sides):
        p = df.where(F.col(col).isNotNull()).select(
            F.col(col).alias("_v"), F.lit(i).alias("_side")
        )
        if sample_rows > 0:
            p = p.limit(sample_rows)
        u = p if u is None else u.unionByName(p)
    with util_shuffle_scope(u.sparkSession):
        rows = u.groupBy("_side").agg(
            F.count("*").alias("n"), F.approx_count_distinct("_v").alias("nd")
        ).collect()
    return {"n": sum(r["n"] for r in rows), "nd": sum(r["nd"] for r in rows)}


def value_hash_col(col) -> Column:
    """16-byte content key for a string value: ``unhex(md5(utf8_bytes))``.

    Used by the value-dedup expansion joins so the shuffle keys are fixed
    16-byte binaries instead of whole document texts (at web scale the raw
    join-attr bytes dominate the expansion shuffle otherwise). 128-bit
    collision probability at 10^12 distinct values is < 10^-13 (birthday
    bound) — the standard content-addressing trade every dedup system makes.
    """
    return F.unhex(F.md5(F.encode(col, "UTF-8")))
