"""SparkSession factory.

One place to configure the session so tests, the bench harness, and the driver
entry all run with the same analytics-friendly settings.  Defaults are chosen
for correctness-vs-DuckDB comparisons (UTC timestamps) and local[{cpus}]
execution while remaining sane on a real cluster:

* AQE on — runtime coalescing of shuffle partitions, skew-join splitting, and
  dynamic join-strategy switching replace hand-tuned partition counts when the
  data is 1000x bigger than the local test scale.
* Arrow on — any toPandas()/createDataFrame(pandas) boundary is columnar.
* shuffle.partitions defaults to the local core count; on a cluster this should
  be overridden to ~2-3x total cores (AQE coalesces the excess).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# The directory that holds the ``efficient_trees_spark`` package.
_PACKAGE_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def get_spark(
    app_name: str = "efficient-trees-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Create (or fetch) a SparkSession with analytics defaults.

    :param master: Spark master; defaults to ``local[$SPARK_GRAFT_CPUS]``
        (falling back to ``local[*]``) when not already inside a session.
    :param shuffle_partitions: number of shuffle partitions; defaults to the
        local parallelism so tiny local runs don't fan out into 200 empty tasks.
    :param extra_conf: additional ``spark.*`` settings applied last, so
        they override any default here (e.g.
        ``spark.driver.extraJavaOptions`` for driver-JVM flags).
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS")
    if master is None:
        master = f"local[{cpus}]" if cpus else "local[*]"
    if shuffle_partitions is None:
        shuffle_partitions = int(cpus) if cpus else (os.cpu_count() or 8)

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # Deliberately NOT lowering adaptive.coalescePartitions.minPartitionSize:
        # a 64k floor (more post-shuffle tasks on small data) was A/B-measured
        # ~30% SLOWER on the depth-2 tree fit at sf0.1 — per-task overhead
        # dominates these sub-second stages.  The 1m default is right here and
        # immaterial at cluster scale where advisory size governs.
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # Per-task Arrow batch rows (Spark default 10000).  At a wide-fit
        # shape (190 float cols) every concurrent task pipelines a few
        # batches of this size through the JVM ArrowWriter plus the Python
        # worker, so aggregate transient memory scales as cores x batch
        # rows x row width.  The default is right for the local bench;
        # lower it (e.g. 2048, via extra_conf) to cap per-task memory when
        # many concurrent wide scans OOM a small executor heap — see
        # SCALE.md memory table.
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        # Split files at 16 MB (default 128 MB): a single-host bench reads
        # few, modest files — at 128 MB a 400 MB table scans with 4 of 32
        # cores.  On a real cluster the input has orders of magnitude more
        # splits than cores, so there this should be raised back toward
        # 128 MB (per-task overhead) via extra_conf.
        .config("spark.sql.files.maxPartitionBytes", "16m")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # Cap glibc malloc arenas in the long-lived Python workers: the
        # default (8 x cores) lets each daemon hold freed numpy pages in
        # per-thread arenas, ratcheting aggregate worker RSS far above live
        # data across tasks (measured ~9.4 GiB across 32 workers at the
        # wide-fit benchmark shape; the operators also malloc_trim at task
        # end — histogram._trim_malloc).  Standard practice for Python-on-
        # JVM executors; applies to real clusters via executorEnv too.
        .config("spark.executorEnv.MALLOC_ARENA_MAX", "2")
        # Pin the malloc->mmap threshold (glibc default DYNAMICALLY ratchets
        # it up to 32 MB the first time a large mmap'd block is freed, after
        # which the per-partition numpy matrices are carved from the arena
        # heap, fragment, and never return to the OS — the measured ramp was
        # ~0.2 GiB/s across one pack stage to ~9 GiB aggregate).  With a
        # fixed 128 KB threshold every matrix-sized buffer is mmap-backed
        # and freed straight back to the OS at task end; the page-fault cost
        # is noise next to the Arrow transfer itself.
        .config("spark.executorEnv.MALLOC_MMAP_THRESHOLD_", "131072")
        # Python workers fork from worker_daemon, which stops every task
        # re-reading the pyspark.zip / py4j / spark-core archive directories
        # on CPython < 3.12 (measured: an empty mapInArrow job 0.525 ->
        # 0.216 s on 4 vCPUs; SCALE.md).  The daemon starts before any
        # task ships code, so executors must import the package at
        # start-up: from this checkout via executorEnv.PYTHONPATH (a
        # worker's cwd is not the checkout when the driver runs
        # elsewhere), or installed.  Override spark.python.daemon.module=
        # pyspark.daemon through extra_conf where they cannot import it.
        .config("spark.python.daemon.module", "efficient_trees_spark.worker_daemon")
        .config("spark.executorEnv.PYTHONPATH", _PACKAGE_ROOT)
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        # Driver-JVM flags (local mode: driver == executors) come through
        # extra_conf, e.g. -XX:G1PeriodicGCInterval for the measured
        # high-heap GC-laziness transient — SCALE.md memory notes.
        .config("spark.driver.extraJavaOptions", "")
        .config("spark.ui.enabled", "false")
        # Generated-class cache (STATIC conf; Spark default 100 entries).
        # A long-lived session running many distinct plans — exactly what a
        # tree fit is: every level compiles fresh projection/histogram
        # sources — evicts the default cache between repeats, so each run
        # re-pays full Janino+C1 compilation of every generated class.
        # Measured on the 16-query bench session: the wide fit ran 19.6 s
        # (vs 10 s standalone) and the depth-2 exact fit 8.1 s (vs 4.6)
        # purely from this churn.  5000 entries ≈ a few hundred MB of
        # metaspace upper bound, trivial against any real driver.
        .config("spark.sql.codegen.cache.maxEntries", "5000")
    )
    for key, value in (extra_conf or {}).items():
        builder = builder.config(key, value)
    return builder.getOrCreate()
