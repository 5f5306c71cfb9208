"""SparkSession factory.

Local test profile runs ``local[$SPARK_GRAFT_CPUS]`` (default 32) in one JVM;
the config defaults are chosen to be cluster-safe at much larger scale:

- AQE on (runtime coalesce, skew-join splitting, dynamic broadcast demotion)
- shuffle partitions sized for the local profile but overridable — at cluster
  scale you'd set this ~2-3x total cores or rely on AQE coalescing
- session timezone pinned to UTC: the reference parses every timestamp with
  ``utc=True`` then strips the tz (reference shared/data_loader.py:23-28);
  pinning the session TZ gives the same naive-UTC semantics engine-wide.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_SHUFFLE_PARTITIONS = 32

# directory holding this package: Python workers (applyInPandas, pandas
# UDFs, stateful streaming) unpickle functions by module reference, and a
# worker's path holds the launch directory but not the driver's sys.path
# edits, so from any other working directory the import failed
_PACKAGE_PARENT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def env_positive_int(name: str, default: int) -> int:
    """Integer setting from the environment, ``default`` when unset or
    empty; anything but a positive integer raises a ValueError naming the
    variable and the value."""
    raw = os.environ.get(name, "").strip()
    if not raw:
        return default
    try:
        value = int(raw)
    except ValueError:
        value = 0
    if value < 1:
        raise ValueError(f"{name} must be a positive integer, got {raw!r}")
    return value


def get_spark(
    app_name: str = "basin-spark",
    shuffle_partitions: int | None = None,
) -> SparkSession:
    cpus = env_positive_int("SPARK_GRAFT_CPUS", 32)
    sp = shuffle_partitions or env_positive_int(
        "SPARK_GRAFT_SHUFFLE_PARTITIONS", DEFAULT_SHUFFLE_PARTITIONS
    )
    spark = configure(
        SparkSession.builder.master(f"local[{cpus}]").appName(app_name),
        shuffle_partitions=sp,
    ).getOrCreate()
    return _ship_package(spark)


def _ship_package(spark: SparkSession) -> SparkSession:
    """Put the package's parent directory on the Python workers' PYTHONPATH
    (``sc.environment`` is copied into every Python function the session
    creates afterwards).  Idempotent."""
    env = spark.sparkContext.environment
    paths = [p for p in env.get("PYTHONPATH", "").split(os.pathsep) if p]
    if _PACKAGE_PARENT not in paths:
        env["PYTHONPATH"] = os.pathsep.join([_PACKAGE_PARENT, *paths])
    return spark


# AQE partition-coalescing floor.  The default 1m floor coalesces a
# few-MB shuffle down to a handful of partitions — correct for
# byte-bound stages, but it throttles CPU-bound stages whose cost is
# rows/groups in PYTHON, not bytes (measured round 12:
# flags_via_applyinpandas 13.3 s -> 3.1 s at sf0.1 once the
# applyInPandas stage kept its parallelism).  64k keeps tiny shuffles
# coalesced while letting parallelismFirst reach defaultParallelism for
# the MB-scale ones; at cluster scale post-shuffle partitions are far
# above either floor, so the setting only ever binds on small inputs.
DEFAULT_AQE_MIN_PARTITION_SIZE = "64KB"


def _aqe_min_partition_size() -> str:
    return os.environ.get(
        "SPARK_GRAFT_AQE_MIN_PARTITION_SIZE", DEFAULT_AQE_MIN_PARTITION_SIZE
    )


# runtime SQL settings shared by configure() (sessions this engine builds)
# and tune_session() (a session the driver hands over); the shuffle
# partition count and the AQE floor are added per call by _runtime_conf
_RUNTIME_CONF = {
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
}


def _runtime_conf(shuffle_partitions: int) -> dict[str, str]:
    return {
        **_RUNTIME_CONF,
        "spark.sql.shuffle.partitions": str(shuffle_partitions),
        "spark.sql.adaptive.coalescePartitions.minPartitionSize": _aqe_min_partition_size(),
    }


def configure(builder: SparkSession.Builder, shuffle_partitions: int = DEFAULT_SHUFFLE_PARTITIONS):
    """Apply engine defaults to a builder: the shared runtime settings plus
    the ones only a session this engine creates gets (driver memory is
    fixed at JVM start)."""
    for k, v in _runtime_conf(shuffle_partitions).items():
        builder = builder.config(k, v)
    return (
        builder.config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.filterPushdown", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
    )


def tune_session(spark: SparkSession) -> SparkSession:
    """Best-effort runtime tuning for an externally-created session (the
    driver hands us one); only touches settings that are runtime-mutable."""
    _ship_package(spark)
    for k, v in _runtime_conf(DEFAULT_SHUFFLE_PARTITIONS).items():
        try:
            spark.conf.set(k, v)
        except Exception:
            pass  # immutable in this context; fine
    return spark
