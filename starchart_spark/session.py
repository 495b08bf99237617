"""SparkSession factory tuned for the crawl engine.

Local-mode defaults mirror what we'd set on a real cluster: AQE on (runtime
re-plan + skew-join backstop), Arrow on (every UDF in this package is a
vectorized pandas/Arrow UDF — per-row Python is banned by design), shuffle
partitions sized to cores rather than the 200 default.

On a production cluster the same builder is used via ``spark-submit
--py-files starchart_spark.zip`` with ``master`` left to the cluster manager
and an Iceberg catalog configured (see ``snapstore.py`` for the sandbox
fallback used when the Iceberg runtime jar is absent).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_SHUFFLE_PARTITIONS = 32
CODEGEN_CACHE_ENTRIES = 1000


def _default_driver_mem() -> str:
    """Half the machine's RAM, at most 32g. A heap cap above physical RAM
    lets G1 grow the heap until the kernel kills the JVM: with a fixed 32g
    cap on a 15 GiB box the test session's JVM reached 14.7 GB RSS and
    was killed mid-suite."""
    ram = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    return f"{max(1, min(32, ram // 2 >> 30))}g"


def get_spark(
    app_name: str = "starchart_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the session.

    ``master=None`` defers to ``spark-submit`` / an existing session; tests
    and bench pass ``local[N]`` explicitly so the same job can be measured
    at two parallelism levels (the sandbox proxy for N vs 4N executors).
    """
    if master is None:
        master = os.environ.get("STARCHART_SPARK_MASTER", "local[*]")
    if shuffle_partitions is None:
        shuffle_partitions = int(
            os.environ.get("STARCHART_SHUFFLE_PARTITIONS", DEFAULT_SHUFFLE_PARTITIONS)
        )

    # local-mode shuffles hit spark.local.dir hard; tmpfs (RAM-backed) is the
    # sandbox equivalent of the NVMe-local shuffle dirs a real cluster uses.
    # tmpfs pages and the JVM heap charge the same physical RAM though — if
    # shm is already tight, fall back to /tmp instead of inviting the OOM
    # killer into the Python workers (round-1 bench crash).
    local_dir = os.environ.get("STARCHART_LOCAL_DIR", "/dev/shm/spark-local")
    try:
        os.makedirs(local_dir, exist_ok=True)
        if local_dir.startswith("/dev/shm"):
            import shutil

            free_gib = shutil.disk_usage("/dev/shm").free / (1 << 30)
            if free_gib < 16:
                local_dir = "/tmp/spark-local"
                os.makedirs(local_dir, exist_ok=True)
    except OSError:
        local_dir = None

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # bigger Arrow batches: pandas string ops amortize much better at
        # 64k rows/batch than the 10k default
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "65536")
        .config("spark.sql.session.timeZone", "UTC")
        # runtime bloom-filter join: complements our explicit partitioned
        # bloom seen-filter for large anti-joins
        .config("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
        # Generated-code cache sized to the engine's working set: one
        # frontier pass is ~140 classes and init_state plus one cold crawl
        # ~295. A cache smaller than that (Spark's default is 100) evicts
        # what the next pass or batch needs, which then compiles its Java
        # again. A static SQL conf: it takes effect only when get_spark
        # creates the session, not on one that already exists.
        .config("spark.sql.codegen.cache.maxEntries", str(CODEGEN_CACHE_ENTRIES))
        .config("spark.ui.enabled", "false")
        # per-call Python call-site capture (error enrichment) walks the
        # stack + importlib on EVERY DataFrame method — ~0.5 s of a
        # 6 s engine micro-batch went to it. Errors still carry the full
        # Python traceback; only the JVM-side origin annotation is lost.
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
        # Python-worker crash forensics (round-1 driver bench died with
        # "Python worker exited unexpectedly" and no traceback)
        .config("spark.python.worker.faulthandler.enabled", "true")
        .config("spark.sql.execution.pyspark.udf.faulthandler.enabled", "true")
        .config("spark.python.worker.reuse", "true")
        # local mode: the driver heap IS the cluster memory; size it for the
        # parallelism (32 tasks × shuffle/persist buffers starve an 8g heap)
        .config(
            "spark.driver.memory",
            os.environ.get("STARCHART_DRIVER_MEM", _default_driver_mem()),
        )
        # long sessions running many queries accumulate broadcast/shuffle
        # state that ContextCleaner only releases after a driver GC; the
        # 30min default periodicGC never fires inside a ~25min bench run,
        # so the heap fills until multi-second stop-the-world collections
        # land inside timed queries (observed: the same query 2-3 s in a
        # fresh session, 12-49 s late in a long one). Trigger cleanup
        # every 90 s and make the explicit GC a CONCURRENT G1 cycle so the
        # periodic trigger itself never stops the world.
        .config(
            "spark.cleaner.periodicGC.interval",
            os.environ.get("STARCHART_PERIODIC_GC", "90s"),
        )
        .config(
            "spark.driver.extraJavaOptions",
            os.environ.get(
                "STARCHART_DRIVER_JAVA_OPTS",
                "-XX:+ExplicitGCInvokesConcurrent -XX:G1HeapRegionSize=32m",
            ),
        )
    )
    if local_dir:
        builder = builder.config("spark.local.dir", local_dir)
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def codegen_compiles(spark: SparkSession) -> int:
    """Classes the driver JVM has compiled from generated code so far.

    Reads Spark's own ``CodegenMetrics`` counter (one sample per cache
    miss); it runs no Spark job. Take the difference of two reads to count
    the compiles of the work in between."""
    metrics = spark.sparkContext._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return int(metrics.METRIC_COMPILATION_TIME().getCount())
