"""SparkSession construction tuned for this engine.

Defaults target local[32] testing but every knob is chosen for cluster
scale: AQE (runtime re-planning, partition coalescing, skew-join
splitting), Arrow for pandas-UDF transfer, and a shuffle-partition count
that callers override per deployment.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "pyspark-mrdf-engine",
    master: str | None = None,
    shuffle_partitions: int | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession with engine defaults.

    AQE is on so runtime statistics drive partition coalescing and
    skew-join splitting — at 100 TB the static shuffle-partition number
    is only an upper bound, AQE right-sizes each stage.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    # Pin the PYTHON WORKERS' BLAS so tasks x threads ≈ machine cores.
    # Spark already parallelizes across tasks; without the pin, 32
    # concurrent workers each spawn an N-thread OpenBLAS gemm and the
    # oversubscription spin-wait is catastrophic — measured on the SQ8
    # serving kernel at n=500k: the identical per-slab gemm cost 507
    # core-seconds inside workers vs ~11 standalone (~45x), and the
    # contention dragged the single-threaded argpartition down ~8x
    # alongside it (A/B on the full 50-query bench: 105.0 s unpinned vs
    # 81.5 s pinned, same hour). Deliberately-undersubscribed local
    # runs (SPARK_GRAFT_CPUS below the core count, e.g. the 8-worker
    # n=300k MRDF row) keep cores/workers BLAS threads each, so the
    # leaf gemms still use the whole machine. Workers inherit these via
    # the JVM's environment (set BEFORE getOrCreate); the DRIVER's
    # NumPy is typically already imported with its own threading, so
    # driver-side training kernels keep their parallel BLAS.
    # spark.executorEnv.* must carry the SAME computed value: PySpark
    # copies executorEnv into sc.environment and hands it to every
    # Python worker in ALL deploy modes including local (ProcessBuilder
    # putAll overrides inherited env), so a hardcoded "1" there would
    # silently defeat the cores/workers sizing for undersubscribed
    # local runs. On a real cluster os.cpu_count()/n_workers should be
    # derived from the executor shape instead — 1 core/task deployments
    # land back at 1 either way.
    try:
        n_workers = max(1, int(cpus))
    except ValueError:  # e.g. SPARK_GRAFT_CPUS="*"
        n_workers = os.cpu_count() or 32
    worker_blas = str(max(1, (os.cpu_count() or 32) // n_workers))
    for var in (
        "OPENBLAS_NUM_THREADS",
        "OMP_NUM_THREADS",
        "MKL_NUM_THREADS",
        "VECLIB_MAXIMUM_THREADS",
        "NUMEXPR_NUM_THREADS",
    ):
        os.environ.setdefault(var, worker_blas)
    builder = (
        SparkSession.builder.appName(app_name)
        .config("spark.executorEnv.OPENBLAS_NUM_THREADS", worker_blas)
        .config("spark.executorEnv.OMP_NUM_THREADS", worker_blas)
        .config("spark.executorEnv.MKL_NUM_THREADS", worker_blas)
        # the remaining two backends pinned via executorEnv as well:
        # setdefault inheritance alone is defeated by a pre-existing
        # user export (e.g. NUMEXPR_NUM_THREADS=32 in the shell), which
        # would silently reintroduce worker oversubscription on those
        # backends (advisor r11)
        .config("spark.executorEnv.VECLIB_MAXIMUM_THREADS", worker_blas)
        .config("spark.executorEnv.NUMEXPR_NUM_THREADS", worker_blas)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions or 32))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        # Iterative drivers (MRDF's loop runs 1000+ stages per build)
        # retire a shuffle's files only when the ContextCleaner sees
        # its RDD unreferenced — which needs a JVM GC, and a mostly-
        # idle multi-GB heap can go the default 30 MINUTES without
        # one. Measured failure (r12, n=1M mixture): ~200 GB of dead
        # shuffle/checkpoint blocks accumulated in ~35 min and filled
        # the disk at MRDF stage ~1365 twice in a row. A 2-minute
        # periodic GC bounds dead-file residency at roughly
        # (bytes-shuffled-per-2min), turning disk use from
        # O(run length) into O(working set).
        .config("spark.cleaner.periodicGC.interval", "2min")
        # ...and reliable checkpoint dirs (spark.graft.checkpoint.
        # reliable) go the same way: off by default, every iterative
        # call would leave its rdd-* dirs behind for the session's life
        .config("spark.cleaner.referenceTracking.cleanCheckpoints", "true")
        # Scheduler mode stays FIFO (the default). FAIR was tried for
        # the background-index-build overlap (q56's exact-side thread)
        # but bare spark.scheduler.mode=FAIR is a no-op — without an
        # allocation file the auto-created default pool schedules FIFO
        # internally — and an A/B WITH a FAIR-pool allocation file
        # measured inside run-to-run noise at harness scale (12.3-14.6s
        # FIFO vs 12.5-12.9s FAIR on cold q56). A serving deployment
        # with many concurrent sessions should revisit FAIR with real
        # pools; at this scale it buys nothing measurable.
    )
    if master is not None:
        builder = builder.master(master)
    elif SparkSession.getActiveSession() is None:
        builder = builder.master(f"local[{cpus}]")
    return builder.getOrCreate()


def apply_engine_conf(spark: SparkSession) -> SparkSession:
    """Apply runtime-mutable engine settings to an externally created
    session (the verify driver hands us its own SparkSession).

    Only touches configs that are legal to set at runtime.
    """
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    try:
        spark.conf.set("spark.sql.adaptive.enabled", "true")
    except Exception:
        pass  # static conf on some builds; harmless
    try:
        spark.conf.set("spark.sql.execution.arrow.pyspark.enabled", "true")
    except Exception:
        pass
    return spark
