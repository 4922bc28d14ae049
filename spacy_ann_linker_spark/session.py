"""SparkSession factory with scale-appropriate defaults.

Local sandbox runs single-JVM local[N]; the configs below are the ones that
also matter on a 1000-executor cluster (AQE, skew join, shuffle partitions,
Arrow batching). Reference has no session concept — its parallelism is an
nmslib thread pool (candidate_generator.py:41,109); here parallelism is
Spark's task scheduler.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def _default_driver_mem() -> str:
    """24g, or half the host's RAM when that is less: G1 grows the heap
    toward its maximum before collecting hard, so a 24g heap on a 16 GB
    host is OOM-killed by the kernel instead of collecting its garbage."""
    ram_mb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") // 2**20
    return f"{min(24 * 1024, ram_mb // 2)}m"


def get_spark(
    app_name: str = "spacy_ann_linker_spark",
    cores: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession.

    cores defaults to $SPARK_GRAFT_CPUS (driver contract) or all local cores.
    shuffle_partitions defaults to 2x cores locally; on a real cluster this
    would be sized to keep post-shuffle partitions ~128-512 MB.
    """
    if cores is None:
        cores = int(os.environ.get("SPARK_GRAFT_CPUS", "0")) or os.cpu_count() or 8
    if shuffle_partitions is None:
        shuffle_partitions = max(2 * cores, 8)

    builder = (
        SparkSession.builder.master(f"local[{cores}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # AQE coalescing defaults (parallelismFirst=true) are the right
        # cluster behavior: tiny dimension shuffles coalesce via the 1 MB
        # minPartitionSize, while wide stages keep one partition per core —
        # measured: size-first coalescing (16m advisory) capped the 800k-turn
        # argmax shuffle at ~7 partitions and flattened core-count scaling
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # SQL exchanges have no map-side aggregator, so every shuffle with
        # <= 200 partitions takes the BypassMergeSortShuffleWriter, which
        # opens one file PER REDUCE PARTITION per map task (64 creates +
        # 32k buffers x 32 map tasks here) — measured 11.5 CPU-s / 0.63 s
        # for a 100k-row distinct vs 1.0 CPU-s / 0.20 s with the sort-based
        # writer (one spill file per task). Clusters with >= 200 shuffle
        # partitions never take the bypass path, so forcing the sort writer
        # everywhere just makes small shuffles behave like scale does.
        .config("spark.shuffle.sort.bypassMergeThreshold", "1")
        # let AQE coalescing apply to CACHED/persisted plans too (default
        # false for output-partitioning compatibility only): the link
        # path's memo tables (mentions, text->alias maps) are
        # small, and without this they materialize at the static
        # shuffle-partition count — every downstream stage then inherits
        # 2x-cores empty tasks per memo (measured: a union of four memo
        # branches ran 256 tasks over 6k rows; the cold exact link carried
        # 5.6s of inter-job scheduling for 58 jobs). On a real cluster the
        # same memos would otherwise cache as hundreds of near-empty
        # blocks. Consumers here never rely on cached output partitioning
        # (memos join by broadcast).
        .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true")
        .config("spark.sql.session.timeZone", "UTC")
        # generated-class cache (static, default 100): one link call
        # compiles ~120 classes, so with the default the next call's
        # classes were evicted and compiled again — measured on kb_scale:
        # the second call compiled 124 -> 0 classes, 5.68 -> 3.51 s
        .config("spark.sql.codegen.cache.maxEntries", "2000")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", _default_driver_mem()))
        # AQE may legitimately pick a broadcast for a multi-million-row
        # dimension (e.g. the distinct-mention candidate map at 10^6+
        # distinct strings); don't let the default 1g result cap kill it
        .config("spark.driver.maxResultSize", "6g")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark
