"""SparkSession factory with scale-oriented defaults.

Local testing runs on local[N]; the same config block is what we'd ship via
spark-submit --py-files to a multi-executor cluster (AQE, skew-join, Arrow).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def _default_driver_memory() -> str:
    """Half of physical RAM for the driver heap, which hosts every task in
    local mode; the rest stays free for the JVM's off-heap memory, the
    Python workers and the tmpfs shuffle directory below."""
    try:
        ram = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    except (AttributeError, ValueError, OSError):  # no sysconf on this OS
        return "4g"
    return f"{max(ram // 2 >> 20, 1024)}m"


def get_spark(
    master: str | None = None,
    app_name: str = "py_evalfilter_spark",
    shuffle_partitions: int | None = None,
) -> SparkSession:
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
    # SPARK_GRAFT_MASTER overrides the local[N] default — e.g.
    # local-cluster[4,8,22528] for multi-executor-JVM measurements where the
    # executor boundary (process isolation + netty shuffle) is real
    master = master or os.environ.get("SPARK_GRAFT_MASTER") or f"local[{cpus}]"
    if shuffle_partitions is None:
        n = os.cpu_count() or 8
        shuffle_partitions = n if cpus == "*" else max(int(cpus), 1)
    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_DRIVER_MEMORY") or _default_driver_memory(),
        )
        # UI off by default (driver overhead); SPARK_GRAFT_UI=true exposes
        # the REST status API so benches can read per-stage shuffle
        # bytes/records — the term that becomes NETWORK on a real cluster
        # and that wall-clock on one box (memory-bandwidth shuffle) hides
        .config(
            "spark.ui.enabled",
            # normalize: raw env strings like "1"/"True "/"yes" would either
            # throw at session build or silently disable the UI and make
            # every bench's shuffle_snapshot quietly return None (ADVICE r7)
            str(
                os.environ.get("SPARK_GRAFT_UI", "").strip().lower()
                in ("true", "1", "yes")
            ).lower(),
        )
        # straggler mitigation: this VM occasionally degrades a worker for
        # minutes (measured: 31/32 tasks in seconds, one task 15+ min);
        # speculation re-launches slow tasks — the same defense a real
        # cluster needs against slow executors
        .config("spark.speculation", "true")
        .config("spark.speculation.multiplier", "4")
        .config("spark.speculation.quantile", "0.9")
        # long-lived sessions running staged pipelines accumulate dead
        # shuffle files until a driver GC lets the ContextCleaner reclaim
        # them (default nudge: 30 min) — at 10M-doc scale that's tens of GB
        # of zombie disk between stages; tighten the nudge
        .config("spark.cleaner.periodicGC.interval", "2min")
        # JIT code cache: a session running many distinct queries
        # accumulates one generated WholeStageCodegen class per stage and
        # fills the default ~240 MB ReservedCodeCacheSize, after which the
        # JVM DISABLES the compiler and every later compute-heavy stage
        # runs interpreted (measured: the 14th bench query's HOF-heavy
        # plan 37-50 s with the default vs 5-12 s at 1g, same JVM, same
        # preceding 12 queries — and the row persists across reps because
        # the cache never empties).  This is the main driver of the
        # documented "degraded JVM" variance in long benchmark sessions;
        # any codegen-heavy driver/executor JVM needs the same headroom.
        .config(
            "spark.driver.extraJavaOptions", "-XX:ReservedCodeCacheSize=2g"
        )
    )
    exec_mem = os.environ.get("SPARK_GRAFT_EXECUTOR_MEMORY")
    if exec_mem:
        builder = builder.config("spark.executor.memory", exec_mem)
    if master.startswith("local-cluster"):
        # don't start timing against a partially-registered cluster
        builder = builder.config(
            "spark.scheduler.minRegisteredResourcesRatio", "1.0"
        ).config("spark.scheduler.maxRegisteredResourcesWaitingTime", "60s")
        # executor JVMs are separate processes: their Python workers need the
        # package on PYTHONPATH (a real cluster ships it via --py-files;
        # scripts/submit_job.py does exactly that)
        repo_root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
        builder = builder.config("spark.executorEnv.PYTHONPATH", repo_root)
        # one BLAS thread per Python worker: task slots are the unit of
        # parallelism, and un-pinned OpenBLAS threads make an n-core
        # executor silently use 2n cores in Arrow matmul stages — which
        # both oversubscribes a real node and inflates the small-N side of
        # any core-scaling measurement (measured: the semantic-family N→4N
        # efficiency read 0.55 un-pinned, because the 2-core level was
        # really running on ~4)
        for var in ("OPENBLAS_NUM_THREADS", "OMP_NUM_THREADS", "MKL_NUM_THREADS"):
            builder = builder.config(f"spark.executorEnv.{var}", "1")
        # each executor JVM must size its GC/JIT/netty pools for ITS cores,
        # not the whole box — exactly what a real cluster node would see
        try:
            cores = master.split("[")[1].split(",")[1].strip()
            builder = builder.config(
                "spark.executor.extraJavaOptions",
                # code-cache headroom for the same reason as the driver
                # (executor JVMs compile every stage's codegen class too)
                f"-XX:ActiveProcessorCount={int(cores)} "
                "-XX:ReservedCodeCacheSize=512m",
            )
        except (IndexError, ValueError):
            pass
    # local-mode shuffle through the overlay FS anti-scales with thread count
    # (measured 2.5x slower at local[32] than local[8]); tmpfs fixes it.
    # Real clusters use executor-local disks — this is a local-mode knob only.
    shm = "/dev/shm/spark-local"
    if os.path.isdir("/dev/shm") and os.access("/dev/shm", os.W_OK):
        os.makedirs(shm, exist_ok=True)
        builder = builder.config("spark.local.dir", shm)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def stop_spark() -> None:
    active = SparkSession.getActiveSession()
    if active is not None:
        active.stop()
