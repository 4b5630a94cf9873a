"""SparkSession factory tuned for this engine.

Local-mode defaults mirror the sandbox (local[N] threads, AQE on, Arrow on).
On a real cluster the same builder works; only master/memory change.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession
from pyspark.sql.functions import col as F_col


def _tmpfs_has_headroom(path: str) -> bool:
    """True when ``path`` is a directory with enough free bytes to serve as a
    shuffle local dir (spill must never be what OOMs the box)."""
    min_gb = float(os.environ.get("SPARK_GRAFT_SHM_MIN_GB", "32"))
    try:
        st = os.statvfs(path)
        return os.path.isdir(path) and st.f_bavail * st.f_frsize >= min_gb * (1 << 30)
    except OSError:
        return False


def get_spark(
    master: str | None = None,
    app_name: str = "py_stringsimjoin_spark",
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession with engine defaults.

    AQE + skew-join handling are enabled because the prefix-token equi-join at
    the heart of the engine is skew-prone (hot tokens); Arrow is enabled for
    the pandas-UDF verify stage.
    """
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 4))
    if master is None:
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        # size shuffles to actual parallelism, not the 200 default
        n = master[master.find("[") + 1 : master.find("]")] if "[" in master else ""
        shuffle_partitions = cpus if n in ("", "*") else int(n)
    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.default.parallelism", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # NOTE: spark.sql.optimizer.canChangeCachedPlanOutputPartitioning
        # stays at its default (false) DELIBERATELY: letting AQE coalesce
        # cached plans by byte size collapses the ranked-corpus persist
        # (tiny bytes, huge downstream per-row compute) to one partition
        # and serializes the join map side — measured 4.8s -> 42.8s on the
        # x2 kernel. Tiny utility caches are instead materialized under
        # plans/stats.util_shuffle_scope.
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # larger Arrow batches amortize per-batch numpy/factorize overhead in
        # the verify UDFs (~25% on verify-heavy joins, measured in BENCH.md)
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "50000")
        .config("spark.sql.session.timeZone", "UTC")
        # real Python tracebacks when an Arrow/pandas worker dies
        .config("spark.python.worker.faulthandler.enabled", "true")
        .config("spark.sql.execution.pyspark.udf.faulthandler.enabled", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "8g"))
    )
    # Shuffle spill/local dir: the exploding token joins make the distinct/
    # groupBy exchange the dominant stage, and on this sandbox /tmp sits on a
    # virtio disk whose writeback serializes 32 concurrent shuffle writers in
    # the kernel (measured: the candidate distinct ran 111 s disk-bound at
    # local[32] and stopped scaling entirely). Local mode therefore defaults
    # spark.local.dir to tmpfs when available — the local-mode stand-in for
    # the NVMe local dirs any production cluster provisions for shuffle.
    # Guard (advisor finding): tmpfs is RAM-backed and often tiny (64 MB in a
    # default Docker container), and spill landing in RAM defeats its purpose
    # — so the default only fires when /dev/shm has plenty of free space
    # (≥ SPARK_GRAFT_SHM_MIN_GB, default 32 GiB; this sandbox's is 126 GiB).
    # $SPARK_LOCAL_DIRS (Spark's own env) or extra_conf override either way.
    if (
        master.startswith("local")
        and "SPARK_LOCAL_DIRS" not in os.environ
        and not (extra_conf or {}).get("spark.local.dir")
        and _tmpfs_has_headroom("/dev/shm")
    ):
        builder = builder.config("spark.local.dir", "/dev/shm/spark-local")
    # InferFiltersFromGenerate synthesizes `size(arr)>0 AND arr IS NOT NULL`
    # below every non-outer explode. Every explode in this engine is over a
    # COMPUTED array (tokenize / q-gram / shingle expressions), so the
    # inferred filter duplicates the full tokenizer per row — and, being
    # pushable, it drags that work below widening/repartition exchanges back
    # onto the narrow scan (measured: the simhash signature map stage kept a
    # 3.2 s single-task tokenize below the exchange purely from the inferred
    # filter). Empty token arrays are vanishingly rare in text corpora and
    # explode drops them anyway; excluding the rule removes the duplicated
    # expression, it never changes results.
    builder = builder.config(
        "spark.sql.optimizer.excludedRules",
        "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromGenerate",
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    _warm_session(spark)
    return spark


def _warm_session(spark: SparkSession) -> None:
    """Finish SparkSession initialization eagerly, once per process.

    ``getOrCreate`` returns before the session is actually ready to run a
    query: session-state construction (analyzer/optimizer/catalog), the
    first whole-stage-codegen compile, exchange/AQE machinery and the
    executor-side task runtime are all initialized lazily by the FIRST
    action — measured at 2-2.5 s on this sandbox's JVM, charged to whatever
    query happens to run first. Any long-lived deployment (Thrift server,
    notebook kernels, spark-connect services) pays this once per
    application; running one metadata-free bootstrap job at build time
    moves that one-time cost into session construction where it belongs.
    Touches no user data. ``SPARK_GRAFT_WARM_SESSION=0`` disables."""
    if os.environ.get("SPARK_GRAFT_WARM_SESSION", "1") == "0":
        return
    if getattr(spark, "_ssj_warmed", False):
        return
    try:
        spark.sql("SELECT 1").collect()  # session state + parser/analyzer
        # one tiny shuffle: codegen compile, exchange + AQE stage machinery,
        # task scheduler and serializer warm-up (2 partitions, 100 rows)
        spark.range(0, 100, 1, 2).groupBy((F_col("id") % 2).alias("k")).count().collect()
        spark._ssj_warmed = True
    except Exception:
        pass
