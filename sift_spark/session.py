"""SparkSession factory tuned for this engine.

Local testing runs on ``local[N]`` but every setting here is chosen to
also make sense on a large cluster: AQE for runtime re-planning (skew
joins, partition coalescing), Arrow for the few Pandas-UDF paths, and
a shuffle-partition count sized to the active parallelism rather than
the 200 default.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def shuffle_partitions_for(data_dir: str, cpus: int | None = None) -> int:
    """Size-aware shuffle-partition count for a dataset directory: one
    partition per ~4 MB of on-disk parquet (≈16 MB uncompressed at the
    typical 4× parquet expansion), clamped to [8, cpus] (the floor of
    8 wins below 8 cores — extra partitions just queue).

    This is the sizing rule "size spark.sql.shuffle.partitions so
    partitions fit in executor memory at the target SF" applied
    downward as well as upward: on a ~17 MB-on-disk scale factor, 32
    reduce tasks per stage is pure scheduling overhead (interleaved
    A/B measured ~5-8% of a 180-query sweep), while from sf1 up the
    clamp returns the full core count and nothing changes. On a real
    cluster the same rule is input_bytes / target_partition_size
    bounded by total cores.
    """
    cpus = cpus or int(os.environ.get("SPARK_GRAFT_CPUS", "0")) or (os.cpu_count() or 8)
    total = 0
    try:
        for root, _dirs, files in os.walk(data_dir):
            for f in files:
                try:
                    total += os.path.getsize(os.path.join(root, f))
                except OSError:
                    pass
    except OSError:
        return cpus
    if total <= 0:
        return cpus
    return int(max(8, min(cpus, total // (4 * 1024 * 1024))))


def python_worker_conf(master: str) -> dict[str, str]:
    """Python-worker confs for ``master``: on ``local[...]`` the daemon
    is :mod:`sift_spark.worker_daemon`, imported from this checkout.
    Other masters keep ``pyspark.daemon``: the package reaches their
    executors only through ``addPyFile``, after the daemon has started."""
    if not master.startswith("local["):
        return {}
    # Each Python task's importlib.invalidate_caches() re-read the
    # central directories of pyspark.zip, py4j and the spark-core jar
    # (16 zip importers, 0.1-0.2 s per task before its kernel starts);
    # the daemon re-reads an archive only after it changes on disk.
    # Measured (4 cores): 0 instead of 16 re-reads per task, and
    # catalog_sf0.01 wall_s median 2.98 → 2.34 s over 10 interleaved
    # pairs. The executorEnv entry lets the daemon and every
    # sift_spark UDF import from any driver cwd.
    return {
        "spark.python.daemon.module": "sift_spark.worker_daemon",
        "spark.executorEnv.PYTHONPATH": os.path.dirname(
            os.path.dirname(os.path.abspath(__file__))),
    }


def get_spark(app_name: str = "sift_spark", shuffle_partitions: int | None = None,
              extra_conf: dict[str, str] | None = None) -> SparkSession:
    """``extra_conf`` overlays builder configs LAST (so a caller can
    re-enable the UI for REST stage-metrics accounting, point the
    warehouse elsewhere, etc.). Builder-time only: ``getOrCreate`` on
    an already-live session ignores it, like any Spark config."""
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "0")) or (os.cpu_count() or 8)
    if shuffle_partitions is None:
        shuffle_partitions = cpus
    # SIFT_SPARK_MASTER overrides the single-JVM default so the WHOLE
    # suite/bench can run multi-JVM (e.g. local-cluster[2,2,2048] or a
    # standalone master) — the package auto-ships to executor workers
    # below when the master is not local[*]
    master = os.environ.get("SIFT_SPARK_MASTER", f"local[{cpus}]")
    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # 8g default: right for the sf<=0.1 bench/test sessions (a
        # bigger heap measurably slows the floor-bound sweep via GC
        # on the session-shared caches). sf1 sessions need 16g so the
        # corpus artifacts (token arrays + shingle table, ~3GB
        # columnar) don't evict each other — scripts/amortization.py
        # sets SIFT_SPARK_DRIVER_MEM=16g when unset. A real 32-core
        # executor ships far more than either.
        .config("spark.driver.memory", os.environ.get("SIFT_SPARK_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # size scan splits so a map-heavy first stage (tokenize,
        # explode, md5) uses the full core count even on ~GB inputs:
        # the 128MB default gives a 1GB table only 8 tasks on 32
        # cores (measured 3-4x slowdown on every scan-rooted map
        # stage at sf1). 32MB, not smaller: 16MB quadrupled the task
        # count of every floor-bound small-SF query and cost ~+0.1s
        # each across a 180-query sweep. On a real cluster this is
        # sized to cores*executors vs input bytes the same way.
        .config("spark.sql.files.maxPartitionBytes", str(32 * 1024 * 1024))
        # no-op for the driver testdata (events.parquet is
        # timestamp[us] → plain TimestampType); kept so true
        # TIMESTAMP(NANOS) inputs read as int64 nanos instead of
        # erroring — operators type-detect via epoch_seconds()
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # PySpark 4's DataFrame-context error capture wraps EVERY
        # public DataFrame/Column call with a Python stack walk plus
        # ~3 Py4J round trips (PySparkCurrentOrigin.set / conf.get /
        # clear) purely to enrich error messages. For a driver
        # program issuing hundreds of thousands of API calls that is
        # pure per-call overhead (measured: 33.0s → 22.6s total
        # query-construction time across the 200-query sweep).
        # Debug-only feature; re-enable when diagnosing an
        # AnalysisException to get user-code call sites back.
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
        # Janino-compiled whole-stage classes live in an LRU cache of
        # 100 by default, less than one warm pass of either perfbench
        # workload needs, so every pass recompiled every class (then
        # re-warmed its JIT). 512 holds both working sets: compiles
        # per warm pass (codegen_compiles) 203-212 → 0 on
        # models_pipeline_sf0.1 and 83-99 → 0 on catalog_sf0.01,
        # wall_s 0.81x and 0.84x. Kept bounded: an unbounded cache
        # over a 200-query sweep run twice held ~2.4k classes, ~260 MB
        # more heap + 40 MB non-heap.
        .config("spark.sql.codegen.cache.maxEntries", "512")
    )
    for k, v in {**python_worker_conf(master), **(extra_conf or {})}.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    if not master.startswith("local["):
        from sift_spark.deploy import ship_package

        ship_package(spark)
    return spark


def codegen_compiles(spark: SparkSession) -> int:
    """Janino compilations this driver JVM has run so far: each
    generated-class cache miss compiles once, so the delta across a
    piece of work counts the classes it could not reuse."""
    metrics = spark.sparkContext._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return metrics.METRIC_COMPILATION_TIME().getCount()
