"""SparkSession factory tuned for this engine.

Local-mode testing uses ``local[$SPARK_GRAFT_CPUS]``; on a real cluster the
same builder is driven by spark-submit conf. AQE is on (skew-join splitting is
the backstop behind our explicit salting, SURVEY.md section 4).

Local defaults are sized from the machine the session starts on: the core
count from ``os.cpu_count()`` and the driver heap from the physical memory
(``$SPARK_GRAFT_CPUS`` and ``$BELA_SPARK_DRIVER_MEM`` override them). A fixed
heap larger than the box gets the driver JVM OOM-killed mid-run.
"""

from __future__ import annotations

import os

from pyspark.sql import Column, DataFrame, Observation, SparkSession

# local-mode driver heap: this share of physical memory, within these bounds
# (the rest is left to the Python workers, the page cache and the OS)
DRIVER_MEM_SHARE = 0.5
DRIVER_MEM_MIN_MB = 1024
DRIVER_MEM_MAX_MB = 24 * 1024

# generated-class cache entries (spark.sql.codegen.cache.maxEntries, stock
# 100). One run_linkage pass or one ingest micro-batch generates ~170
# distinct classes; a cache smaller than that evicts a job's classes before
# the job runs again, so every repeat recompiles them in Janino and runs the
# fresh classes interpreted until the JIT catches up (~1 s of a 4-5 s
# micro-batch, and uneven times across repeated micro-batches). Sized to
# hold several job shapes at once.
CODEGEN_CACHE_ENTRIES = 1024


def default_cpus() -> int:
    """Local core count: ``$SPARK_GRAFT_CPUS``, else the machine's cores."""
    return int(os.environ.get("SPARK_GRAFT_CPUS") or os.cpu_count() or 1)


def default_driver_memory(meminfo: str = "/proc/meminfo") -> str:
    """``$BELA_SPARK_DRIVER_MEM``, else DRIVER_MEM_SHARE of the meminfo
    file's MemTotal within the bounds above (the lower bound when there is
    no such file)."""
    override = os.environ.get("BELA_SPARK_DRIVER_MEM")
    if override:
        return override
    mb = DRIVER_MEM_MIN_MB
    try:
        with open(meminfo) as f:
            total_kb = next(int(ln.split()[1]) for ln in f if ln.startswith("MemTotal:"))
        mb = int(total_kb / 1024 * DRIVER_MEM_SHARE)
    except (OSError, StopIteration):
        pass
    return f"{min(DRIVER_MEM_MAX_MB, max(DRIVER_MEM_MIN_MB, mb))}m"


def release(*frames) -> None:
    """Free what each frame holds in executor storage: its cache and, for a
    frame made by ``localCheckpoint``, the checkpoint's blocks.

    ``unpersist`` and ``clearCache`` leave checkpoint blocks resident until
    the ContextCleaner notices the RDD is unreachable; only unpersisting the
    checkpointed RDD under the frame's ``LogicalRDD`` frees them at once. A
    frame read after its checkpoint is freed fails loud
    (``CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND``); it never recomputes. ``None``
    entries are skipped."""
    for df in frames:
        if df is None:
            continue
        df.unpersist()
        plan = df._jdf.queryExecution().analyzed()
        if plan.getClass().getSimpleName() == "LogicalRDD":
            plan.rdd().unpersist(False)


def observed_cut(df: DataFrame, **aggs: Column) -> tuple[DataFrame, tuple]:
    """(an eager ``localCheckpoint`` of `df`, the values of `aggs` over it).

    Each keyword is an aggregate expression observed (``DataFrame.observe``)
    on the rows as the cut writes them, so a gate reads its measurements off
    a cut the code takes anyway, at no extra Spark job. Values come back in
    keyword order. An aggregate over no rows reads as SQL does (count 0, max
    null): wrap it in ``coalesce`` where the caller needs a number. Free the
    cut with ``release``."""
    obs = Observation()
    cut = df.observe(obs, *[c.alias(name) for name, c in aggs.items()]).localCheckpoint()
    got = obs.get
    return cut, tuple(got[name] for name in aggs)


def get_spark(
    app_name: str = "bela_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    arrow_batch_size: int = 10_000,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with scale-appropriate defaults.

    ``shuffle_partitions`` defaults to the local core count; on a cluster it
    should be ~2-3x total executor cores (set via spark-submit --conf).
    """
    cpus = default_cpus()
    master = master or os.environ.get("BELA_SPARK_MASTER", f"local[{cpus}]")
    if shuffle_partitions is None:
        n = master[master.find("[") + 1 : master.find("]")] if "[" in master else str(cpus)
        shuffle_partitions = 32 if n == "*" else max(8, int(n))

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", str(arrow_batch_size))
        .config("spark.driver.memory", default_driver_memory())
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.codegen.cache.maxEntries", str(CODEGEN_CACHE_ENTRIES))
        # NOTE on spark.cleaner.periodicGC.interval (left at the stock 30min
        # here, deliberately): the ContextCleaner frees shuffle files and
        # dropped checkpoint blocks only after a JVM GC notices the dead
        # reference, so a LONG iterative job accumulates dead scratch for up
        # to the interval — a 16M-row linkage run filled 80 GB of local disk
        # that way. Jobs that run for tens of minutes must shorten it
        # (submit_linkage.py pins 5min; the 16M robustness run used 2min via
        # extra_conf). It is NOT shortened globally because the forced
        # System.gc() stalls every executor thread: measured +5% on a
        # 16-thread pair-stage pass (31.7s vs 30.0s best-of-3) — a pure tax
        # on the short jobs (tests, bench, oracle sweeps) this factory
        # mostly serves, which never live long enough for disk to bind.
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    # release() frees localCheckpoint blocks on purpose, and the RDD warns
    # on each ("locally checkpointed, its lineage has been truncated") —
    # every linkage pass and micro-batch would log several. Only that
    # logger is raised to ERROR; every other warning stays.
    jvm = spark.sparkContext._jvm
    jvm.org.apache.logging.log4j.core.config.Configurator.setLevel(
        "org.apache.spark.rdd.MapPartitionsRDD", jvm.org.apache.logging.log4j.Level.ERROR
    )
    return spark
