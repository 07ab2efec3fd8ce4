"""SparkSession factory with the engine's default tuning.

Defaults mirror what the reference gets from ClickHouse for free
(columnar zstd storage, partition pruning, parallel inserts) expressed
as Spark conf:

- AQE on (runtime re-planning, skew-join splitting) — the analogue of
  ClickHouse adapting merge/read concurrency at runtime.
- zstd parquet compression — reference DDL uses ``CODEC(..., ZSTD(1))``
  on every column (reference test/network_flows_0.sql:3-37).
- UTC session timezone — the reference truncates observation times in
  UTC (reference pkg/inserter/worker.go:298-306).
- ``nanosAsLong`` — the driver's ``events`` table carries
  TIMESTAMP(NANOS) which Spark's vectorized parquet reader refuses by
  default; we read as long and convert (see tables.py).
- Driver-side file listing on ``local*`` masters — past 32 paths Spark
  lists files as a job, whose tasks run in this same JVM. That only
  adds a job to every stream trigger that picks up more than 32 landed
  files, and to every read of a table with more than 32 date
  partitions. Cluster masters keep Spark's default threshold, where
  the job spreads listing over executors; ``extra_conf`` overrides it.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def default_parallelism() -> int:
    return int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))


def default_driver_mem() -> str:
    """Local-mode driver heap default, derived from the machine actually
    running us rather than baked in: local mode runs executors INSIDE
    the driver JVM, so the one heap does all the work — but a fixed big
    number (48g) would fail JVM startup or invite the OS OOM-killer on
    smaller hosts (ADVICE r02). ~1/3 of physical RAM leaves room for
    Python workers (Arrow batches live in the pyspark daemons, off-heap)
    and the OS page cache; clamped to [2g, 48g]. Bench/scale tooling
    pins the measured-box value explicitly via SPARK_GRAFT_DRIVER_MEM,
    which always wins. A real cluster ignores this and sizes executors."""
    env = os.environ.get("SPARK_GRAFT_DRIVER_MEM")
    if env:
        return env
    try:
        with open("/proc/meminfo") as f:
            kb = int(
                next(ln for ln in f if ln.startswith("MemTotal")).split()[1]
            )
        return f"{max(2, min(48, kb // (3 * 1024 * 1024)))}g"
    except (OSError, StopIteration, ValueError, IndexError):
        return "4g"


def get_spark(
    app_name: str = "kubenetmon_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
    fair_scheduler: bool = False,
) -> SparkSession:
    """``fair_scheduler=True`` sets ``spark.scheduler.mode=FAIR`` so
    concurrent queries from different threads round-robin the cluster's
    task slots instead of queueing FIFO behind whichever job got there
    first — the serving posture for dashboard-style load, where one
    heavy rollup must not starve ten cheap top-talker panels
    (ClickHouse gives the reference this per-query fairness natively;
    see tools/concurrency_bench.py for the measured comparison)."""
    cpus = default_parallelism()
    if master is None:
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        # local mode: one shuffle partition per core; a real cluster would
        # size this to ~2-3x total cores (or rely on AQE coalescing).
        shuffle_partitions = cpus
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.parquet.compression.codec", "zstd")
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.sources.partitionOverwriteMode", "dynamic")
        # local mode runs executors INSIDE the driver JVM: size the one
        # heap from the actual machine (8g caused GC-lock thrash on
        # ~100M-row cached graphs at sf1 on the 128 GiB bench box; see
        # default_driver_mem for the derivation and the env override).
        .config("spark.driver.memory", default_driver_mem())
        .config("spark.ui.enabled", "false")
        # PySpark 4's per-expression call-site capture costs ~20 py4j
        # roundtrips PER Column op — measured 5,900 roundtrips (~0.9 s
        # driver-side) to construct one labeler plan, i.e. ~30% of a
        # small micro-batch's trigger time. An engine builds plans in
        # hot loops; it trades the debug-only DataFrame call-site
        # context away. Re-enable ad hoc when chasing a plan bug.
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
    )
    if master.startswith("local"):
        builder = builder.config(
            "spark.sql.sources.parallelPartitionDiscovery.threshold",
            str(2**31 - 1),
        )
    if fair_scheduler:
        builder = builder.config("spark.scheduler.mode", "FAIR")
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
