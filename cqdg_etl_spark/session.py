"""SparkSession factory.

Sized from the host it runs on (local[N] over the usable CPUs, a driver
heap of half the physical or cgroup memory; ``SPARK_GRAFT_CPUS`` and
``SPARK_DRIVER_MEMORY`` override) while keeping every setting valid for a
real multi-executor cluster: AQE handles runtime re-planning (partition
coalescing, skew joins), Arrow accelerates any pandas-UDF exchange, and
the session timezone is pinned to UTC so results are comparable with
UTC-naive engines (DuckDB oracle).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

_CGROUP_MEMORY_LIMITS = (
    "/sys/fs/cgroup/memory.max",  # cgroup v2
    "/sys/fs/cgroup/memory/memory.limit_in_bytes",  # cgroup v1
)


def physical_memory_bytes() -> int:
    """The smaller of the host's memory and this process's cgroup limit."""
    limits = [os.sysconf("SC_PHYS_PAGES") * os.sysconf("SC_PAGE_SIZE")]
    for path in _CGROUP_MEMORY_LIMITS:
        try:
            with open(path) as fh:
                text = fh.read().strip()
        except OSError:
            continue
        if text.isdigit():  # "max" (v2) means no limit
            limits.append(int(text))
    return min(limits)


def default_cpus() -> int:
    """``SPARK_GRAFT_CPUS``, else the CPUs this process may run on."""
    return int(os.environ.get("SPARK_GRAFT_CPUS") or len(os.sched_getaffinity(0)))


def driver_memory() -> str:
    """``SPARK_DRIVER_MEMORY``, else half of physical memory: the rest is
    left to the JVM's off-heap use and the Python workers."""
    return os.environ.get("SPARK_DRIVER_MEMORY") or (
        f"{physical_memory_bytes() // 2 // 2**20}m"
    )


def s3a_dev_conf(
    endpoint: str = "http://localhost:9000",
    access_key: str | None = None,
    secret_key: str | None = None,
) -> dict[str, str]:
    """Dev-mode S3A preset for a local MinIO (reference:
    commands/SparkConfig.scala:21-26): path-style access against a local
    endpoint. Credentials come from the environment
    (``AWS_ACCESS_KEY_ID``/``AWS_SECRET_ACCESS_KEY``) unless passed
    explicitly — never hardcode them. Production clusters should not use
    this: they get credentials from instance profiles / IRSA and the
    default virtual-host addressing.

    Usage: ``get_spark(extra_conf=s3a_dev_conf())``.
    """
    conf = {
        "spark.hadoop.fs.s3a.endpoint": endpoint,
        "spark.hadoop.fs.s3a.path.style.access": "true",
        "spark.hadoop.fs.s3a.connection.ssl.enabled": str(
            endpoint.startswith("https")
        ).lower(),
    }
    access_key = access_key or os.environ.get("AWS_ACCESS_KEY_ID")
    secret_key = secret_key or os.environ.get("AWS_SECRET_ACCESS_KEY")
    if access_key:
        conf["spark.hadoop.fs.s3a.access.key"] = access_key
    if secret_key:
        conf["spark.hadoop.fs.s3a.secret.key"] = secret_key
    return conf


def get_spark(
    app_name: str = "cqdg-etl-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the singleton SparkSession.

    Scale notes (100 TB target):
    - AQE on: runtime shuffle-partition coalescing + skew-join splitting,
      so a fixed ``spark.sql.shuffle.partitions`` is only an upper bound.
    - Auto-broadcast threshold raised to 64 MB: the dimension tables of a
      star schema (region/nation/part/supplier, ontology term tables)
      should never go through a shuffle.
    - Parquet filter/column pushdown left on (defaults); partition sizing
      via maxPartitionBytes kept at 128 MB to match HDFS/S3 block reads.
    """
    cpus = default_cpus()
    master = master or os.environ.get("SPARK_MASTER", f"local[{cpus}]")
    shuffle = shuffle_partitions or cpus

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.files.maxPartitionBytes", str(128 * 1024 * 1024))
        .config("spark.driver.memory", driver_memory())
        .config("spark.ui.enabled", "false")
        .config("spark.sql.parquet.compression.codec", "zstd")
        # Testdata events.parquet carries TIMESTAMP(NANOS) which the
        # vectorized reader rejects; read as long and convert in load().
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
