"""SparkSession factory with the engine's standard configuration.

Reference analog: the Hive/Presto session settings the Opay DAGs relied on
(map-side aggregation, auto mapjoin, dynamic partition overwrite) — here
expressed as their Spark equivalents (SURVEY.md §4 table). Config choices:

* UTC session timezone: fixture timestamps are timezone-naive; DuckDB (the
  correctness oracle) treats them as naive/UTC, so Spark must agree
  (SURVEY.md §5.3-4).
* Arrow enabled: all Python interop (toPandas, pandas UDFs) is
  Arrow-batched, never row-at-a-time pickling.
* shuffle.partitions=32 + AQE: at local/bench scale, 200 default shuffle
  partitions is pure scheduling overhead; AQE coalesces and re-plans at
  runtime, and at cluster scale handles skew joins.
* dynamic partition overwrite: the Spark equivalent of Hive
  ``INSERT OVERWRITE ... PARTITION`` the reference used for idempotent
  daily reloads.
* serialized shuffle writer (``bypassMergeThreshold=0``): with 32 SQL
  partitions, and 64 for the explicit repartitions, every exchange is
  under Spark's default bypass threshold of 200 and has no map-side
  combine, so ``SortShuffleManager`` would pick
  ``BypassMergeSortShuffleWriter``. That writer opens one temp file per
  reduce partition in each map task, then copies them all into the
  final ``shuffle_*.data`` file, so each shuffle byte hits disk twice.
  ``UnsafeShuffleWriter`` instead sorts record pointers by partition id
  in memory and moves its single spill into place: one write. The radix
  sort on partition id is stable, so shuffle contents and per-partition
  record order are unchanged.
* zstd for every byte stream the JVM writes. ``spark.io.compression.codec``
  covers shuffle, spill and broadcast blocks (default lz4);
  ``spark.sql.execution.arrow.compression.codec`` covers the Arrow IPC
  batches sent to Python, both for ``toPandas`` and for pandas/Arrow UDF
  workers (default: uncompressed). zstd at Spark's default levels (1 for
  blocks, 3 for Arrow) writes markedly fewer bytes than lz4 on these
  small, repetitive batches. pyarrow decompresses zstd IPC bodies on
  read, so the Python side needs no change; plans and results are
  untouched, only the encoding of bytes in flight changes.
* driver heap sized to the host: 40% of the memory this process may use
  (MemTotal, or a lower cgroup limit). A heap far above physical memory
  lets the JVM grow until the kernel kills it; callers that want another
  size pass ``spark.driver.memory`` in ``extra_conf``.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_SHUFFLE_PARTITIONS = 32

_CGROUP_LIMITS = (
    "/sys/fs/cgroup/memory.max",  # cgroup v2
    "/sys/fs/cgroup/memory/memory.limit_in_bytes",  # cgroup v1
)


def host_memory_bytes() -> int:
    """Memory this process may use: MemTotal, or a lower cgroup limit."""
    with open("/proc/meminfo") as f:
        limit = next(
            int(line.split()[1]) * 1024 for line in f if line.startswith("MemTotal:")
        )
    for path in _CGROUP_LIMITS:
        try:
            with open(path) as f:
                raw = f.read().strip()
        except OSError:
            continue
        if raw.isdigit():
            limit = min(limit, int(raw))
    return limit


def driver_heap() -> str:
    """The default ``spark.driver.memory``: 40% of ``host_memory_bytes()``,
    at least 1 GB, in MB."""
    return f"{max(1024, int(host_memory_bytes() * 0.4) >> 20)}m"


def get_spark(
    app_name: str = "opay-datalake-spark",
    cpus: str | int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Create (or get) the engine's SparkSession.

    ``cpus`` defaults to $SPARK_GRAFT_CPUS (driver contract) or '*'.
    Safe to call repeatedly: returns the active session if one exists.
    ``shuffle_partitions=None`` means "caller has no opinion": a new
    session gets DEFAULT_SHUFFLE_PARTITIONS, but a pre-existing active
    session (possibly built by the bench/driver harness with its own
    deliberate width) is left untouched.
    """
    active = SparkSession.getActiveSession()
    if active is not None:
        # Apply ONLY confs the caller explicitly asked for; mutating a
        # session we did not create would override its owner's settings.
        import warnings

        requested = dict(extra_conf or {})
        if shuffle_partitions is not None:
            requested["spark.sql.shuffle.partitions"] = str(shuffle_partitions)
        for key, val in requested.items():
            try:
                active.conf.set(key, val)
            except Exception:
                warnings.warn(
                    f"get_spark: conf {key!r} is static and the session is "
                    "already running; value ignored",
                    stacklevel=2,
                )
        return active
    cpus = cpus or os.environ.get("SPARK_GRAFT_CPUS") or "*"
    if shuffle_partitions is None:
        shuffle_partitions = DEFAULT_SHUFFLE_PARTITIONS
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.sources.partitionOverwriteMode", "dynamic")
        # events.parquet stores ts as TIMESTAMP(NANOS) which Spark's reader
        # rejects; read it as long and convert in io.load (ns -> us).
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.driver.memory", driver_heap())
        .config("spark.shuffle.sort.bypassMergeThreshold", "0")
        .config("spark.io.compression.codec", "zstd")
        .config("spark.sql.execution.arrow.compression.codec", "zstd")
        .config("spark.ui.enabled", "false")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
