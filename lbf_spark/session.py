"""SparkSession factory with scale-oriented defaults.

The reference parallelizes nothing but a samtools subprocess
(``/root/reference/src/lbfextract/utils.py:187-190``); every knob here
exists to make the same logical pipeline run on a 1000-executor cluster:
AQE for runtime re-planning + skew-join splitting, Arrow for every
pandas-UDF boundary, and shuffle-partition counts sized to cores rather
than the 200 default.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_SHUFFLE_PARTITIONS = 32

# Entries of Spark's generated-class cache (static conf, default 100).
# One perfbench dedup_table pass alone fills ~190 entries of it,
# so the default LRU recompiled nearly all of them on every repeat
# (Janino, then a fresh round of JIT). Measured on Spark 4.1.2 with an
# unbounded cache: the two perfbench workloads plus every bench.py line
# (sf0.1, flagship, 10x docs) fill 517 entries in one JVM; 1500 covers
# that with 2.9x headroom.
CODEGEN_CACHE_ENTRIES = 1500


def default_driver_memory(ram_bytes: int) -> str:
    """``spark.driver.memory`` for a host with ``ram_bytes`` of RAM: the
    smaller of 24g and 60 % of it, in MiB. In local mode the driver JVM
    is also the executor, and a heap allowed past physical RAM gets the
    process OOM-killed instead of spilling."""
    return f"{min(24 << 10, int(ram_bytes * 0.6) >> 20)}m"


def _launcher_keys() -> set[str]:
    """The conf keys spark-submit set when it started this driver: it
    launches the JVM first and hands Python the gateway port. Empty
    from plain Python, where the builder launches the JVM itself."""
    if "PYSPARK_GATEWAY_PORT" not in os.environ:
        return set()
    from pyspark import SparkConf, SparkContext

    SparkContext._ensure_initialized()
    return {k for k, _ in SparkConf().getAll()}


def get_spark(
    app_name: str = "lbf_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession tuned for this engine.

    When a SparkContext is already running, its session is returned
    with only what the caller passed (``shuffle_partitions``,
    ``extra_conf``) set on it: the engine defaults were applied when it
    was built, and re-applying them would undo settings made since.
    ``app_name`` and ``master`` cannot change a running context.

    Otherwise ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (or
    ``local[*]``) and ``shuffle_partitions`` to
    ``$LBF_SHUFFLE_PARTITIONS`` (or 32).
    When spark-submit started the driver, every key the launcher set
    (``--master``, ``--conf``, ``--driver-memory``, spark-defaults)
    keeps the launcher's value, and this function's settings, the
    arguments and ``extra_conf`` included, fill in only the keys it
    left unset, except ``spark.driver.memory``, which the running
    driver JVM can no longer take. From plain Python nothing is set
    yet, so all of them apply.

    Static confs (the codegen cache size, the driver memory) only take
    effect when this call creates the JVM: an already running
    SparkContext keeps its own values, and the codegen cache, built
    once per JVM, also outlives a ``stop()`` + ``get_spark()`` restart.
    """
    from pyspark import SparkContext

    if SparkContext._active_spark_context is not None:
        conf = dict(extra_conf or {})
        if shuffle_partitions is not None:
            conf["spark.sql.shuffle.partitions"] = str(shuffle_partitions)
        return _build(conf)
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS")
        master = f"local[{cpus}]" if cpus else "local[*]"
    if shuffle_partitions is None:
        shuffle_partitions = int(
            os.environ.get("LBF_SHUFFLE_PARTITIONS", DEFAULT_SHUFFLE_PARTITIONS)
        )

    conf = {
        "spark.app.name": app_name,
        "spark.master": master,
        # AQE: runtime coalescing of small shuffle partitions and skew-join
        # splitting — the distributed answer to the reference's hand-tuned
        # single-pass samtools scan (SURVEY.md §4).
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.coalescePartitions.enabled": "true",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        # AQE's coalescing floor is BYTE-based (1m default), but many of
        # this engine's reduce stages are CPU-dense over tiny rows
        # (array_intersect verification, as-of merge, rank statistics):
        # a 10 MB exchange would coalesce to ~10 tasks and idle the
        # other cores (measured r7: the q24 verify stage ran 16/32
        # tasks, 85 s CPU over 29 MB). 64k keeps such stages at full
        # width; at warehouse scale partitions are GBs and the floor is
        # inert. Env-overridable for deployments that want the default.
        "spark.sql.adaptive.coalescePartitions.minPartitionSize":
            os.environ.get("LBF_AQE_MIN_PARTITION_SIZE", "64k"),
        # Scan-split size. Sandbox/test inputs are single-digit-MB,
        # few-row-group files where a 128m split serializes the scan
        # (sf1.0 lineitem: 131.8 MB ⇒ 2 tasks); 16m reaches row-group
        # granularity. Production at TB scale should raise this to
        # 128m-1g (guide §6: fewer, larger map tasks) via the env or
        # spark-submit --conf.
        "spark.sql.files.maxPartitionBytes":
            os.environ.get("LBF_MAX_PARTITION_BYTES", "16m"),
        # Arrow on both directions of every pandas UDF. Batch size 2048:
        # with KB-scale binary payloads, 10k-row batches mean ~30 MB
        # pandas frames per worker — measured 2× slower than 2k batches
        # at 32 workers (allocator churn); 2048 keeps batches ~6 MB.
        "spark.sql.execution.arrow.pyspark.enabled": "true",
        "spark.sql.execution.arrow.maxRecordsPerBatch": "2048",
        "spark.sql.shuffle.partitions": str(shuffle_partitions),
        # Timestamps in the engine are int64 event-times; keep session TZ
        # fixed so timestamp-typed test tables hash identically everywhere.
        "spark.sql.session.timeZone": "UTC",
        # Local mode: the driver JVM IS the executor. 8g forced the q23
        # pair aggregation through ~1.7 GB of map+reduce spill (measured
        # r7 on a 128 GiB host, where 24g kept hash aggregations
        # in-memory); smaller hosts get 60 % of their RAM. On a real
        # cluster executor memory is sized by spark-submit, not here
        # (guide §5).
        "spark.driver.memory": os.environ.get("LBF_DRIVER_MEM")
        or default_driver_memory(
            os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
        ),
        # Generated code compiles once per JVM (CODEGEN_CACHE_ENTRIES).
        # The cache key is the source text. By default each whole-stage
        # class name carries its codegen stage id, which AQE hands out
        # in stage-completion order, so a repeat of the same stage under
        # another id would miss the cache.
        "spark.sql.codegen.cache.maxEntries": str(CODEGEN_CACHE_ENTRIES),
        "spark.sql.codegen.useIdInClassName": "false",
        "spark.ui.enabled": "false",
        **(extra_conf or {}),
    }
    return _build(conf)


def _build(conf: dict[str, str]) -> SparkSession:
    """Create or fetch the session with ``conf`` set, minus the keys
    spark-submit's launcher set, and ship the package to executors."""
    launcher = _launcher_keys()
    if launcher:
        # spark-submit already started the driver JVM with its heap, so
        # a filled-in driver memory could not apply and would only make
        # the reported conf overstate the heap
        conf.pop("spark.driver.memory", None)
    builder = SparkSession.builder
    for k, v in conf.items():
        if k not in launcher:
            builder = builder.config(k, v)
    spark = builder.getOrCreate()
    # ship the package to executors (spark-submit --py-files equivalent),
    # so UDFs unpickle no matter where the driver was launched from
    from lbf_spark.packaging import ship_package

    ship_package(spark)
    return spark
