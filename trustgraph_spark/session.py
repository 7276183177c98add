"""SparkSession factory tuned for the KG-construction workload.

Local mode here; on a real cluster the same configs apply, with
``spark.sql.shuffle.partitions`` sized to ~2-3x total executor cores and
AQE coalescing the rest.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def _default_driver_memory() -> str:
    """48g, or half the host's physical memory when that is less: a heap
    cap above RAM lets a long-lived local JVM grow until the kernel's
    out-of-memory killer ends it."""
    try:
        phys = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    except (AttributeError, ValueError, OSError):
        return "48g"
    return f"{max(1, min(48, phys // 2 // 2**30))}g"


def get_spark(
    app_name: str = "trustgraph-spark",
    cores: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession.

    cores=None -> $SPARK_GRAFT_CPUS or local[*]. On a multi-executor
    cluster this function is a no-op passthrough to the session created by
    spark-submit; all tuning configs are safe to set there too.
    """
    if cores is None:
        env_cores = os.environ.get("SPARK_GRAFT_CPUS")
        master = f"local[{env_cores}]" if env_cores else "local[*]"
        n_cores = int(env_cores) if env_cores else (os.cpu_count() or 8)
    else:
        master = f"local[{cores}]"
        n_cores = cores

    if shuffle_partitions is None:
        shuffle_partitions = max(8, n_cores)

    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.default.parallelism", str(n_cores))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config("spark.ui.enabled", "false")
        # local mode = driver-only: the heap carries all executor state.
        # Undersizing it GC-stalls wide stages (measured: 8g at 32 cores on
        # a 1M-turn run degraded scaling efficiency from 0.79 to ~0.45, and
        # 24g GC-walled the 3M-turn scaling run — BENCH/BASELINE.md).  48g
        # default, capped to fit the host; on a cluster this is ordinary
        # per-executor memory sizing and the env var overrides.
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_DRIVER_MEMORY", _default_driver_memory()),
        )
        # Broadcast dimension tables (labels, vocab, mapping) aggressively;
        # at 100 TB the fact side never broadcasts, the dims always should.
        .config("spark.sql.autoBroadcastJoinThreshold", "64m")
        # Allow shuffled hash join when the per-partition build side fits
        # (optimization guide §3.1/§9): joins of a large candidate/fact
        # side against a mid-size keyed side otherwise flap between
        # broadcast and sort-merge as size estimates cross the broadcast
        # threshold, and the sort-merge arm pays two large sorts the
        # hash join skips.  The AQE threshold lets a planned sort-merge
        # downgrade to hash per-partition at runtime.
        .config("spark.sql.join.preferSortMergeJoin", "false")
        .config("spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold", "64m")
    )
    # Local-mode shuffle goes through spark.local.dir; all N "executor"
    # threads share ONE host disk, which serializes shuffle IO and destroys
    # core-scaling that a real cluster (per-executor disks) would have.
    # Use the tmpfs when present so shuffle IO scales with memory bandwidth,
    # like per-executor local SSDs do on a real cluster — unless the caller
    # names its own local dir (``extra_conf`` or $SPARK_LOCAL_DIRS, which
    # Spark prefers over spark.local.dir).
    own_local_dir = "spark.local.dir" in (extra_conf or {}) or os.environ.get(
        "SPARK_LOCAL_DIRS"
    )
    if (
        not own_local_dir
        and os.path.isdir("/dev/shm")
        and os.access("/dev/shm", os.W_OK)
    ):
        shm = "/dev/shm/spark-local"
        os.makedirs(shm, exist_ok=True)
        builder = builder.config("spark.local.dir", shm)
    if extra_conf:
        for k, v in extra_conf.items():
            builder = builder.config(k, str(v))

    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def stop_spark() -> None:
    active = SparkSession.getActiveSession()
    if active is not None:
        active.stop()
