"""Table catalog + IO helpers.

The reference stores every table as one CSV object on S3 and re-reads it
whole for each job (reference data_pipeline/upload_data.py:69-93).  The new
engine's at-rest format is Parquet (columnar, predicate/projection pushdown,
partition pruning); the test catalog is the driver-generated star schema at
``/root/testdata/sf*/`` (see TESTDATA.md).

At 100 TB these readers stay valid: ``spark.read.parquet`` over a partitioned
prefix with pushed filters is exactly the cluster path; nothing here collects
to the driver.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def normalize_event_ts(df: DataFrame) -> DataFrame:
    """Normalize the events ``ts`` column to TIMESTAMP (session-TZ=UTC)
    regardless of how the parquet writer encoded it: TIMESTAMP(NANOS) read
    as long via nanosAsLong, timestamp[us] without timezone (TIMESTAMP_NTZ),
    or an already-LTZ timestamp.  Different testdata generations have used
    different encodings; downstream operators all assume plain TIMESTAMP."""
    from pyspark.sql import functions as F

    t = dict(df.dtypes).get("ts")
    if t in ("bigint", "long"):
        # integer division — nanos (~1.7e18) overflow double precision, so a
        # float divide here would be off by ±1 µs
        return df.withColumn("ts", F.expr("timestamp_micros(ts div 1000)"))
    if t == "timestamp_ntz":
        # naive-UTC semantics: the cast keeps the wall-clock instant
        # bit-identical ONLY when the session TZ is UTC — fail loudly on a
        # session not built by session.get_spark() instead of skewing instants
        tz = df.sparkSession.conf.get("spark.sql.session.timeZone")
        if tz != "UTC":
            raise ValueError(
                f"normalize_event_ts requires spark.sql.session.timeZone=UTC "
                f"(got {tz!r}); NTZ->LTZ cast would shift instants"
            )
        return df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df


_SCHEMAS: dict[tuple, StructType] = {}


def parquet_schema(spark: SparkSession, path: str) -> StructType:
    """The schema of a parquet file or directory, inferred once per process.

    Inference (``spark.read.parquet`` without a schema) runs a Spark job that
    reads the footers, ~0.1 s of fixed cost on every read; a read with the
    schema given starts none.  The key holds the file's identity from
    ``os.stat``, so a table rewritten at the same path infers again, and the
    nanosAsLong setting, which changes how TIMESTAMP(NANOS) columns infer.
    Threads racing on a new key each infer once and store equal schemas."""
    path = os.path.abspath(path)
    st = os.stat(path)
    key = (
        path,
        st.st_ino,
        st.st_mtime_ns,
        st.st_size,
        spark.conf.get("spark.sql.legacy.parquet.nanosAsLong"),
    )
    schema = _SCHEMAS.get(key)
    if schema is None:
        schema = _SCHEMAS[key] = spark.read.parquet(path).schema
    return schema


def read_parquet(spark: SparkSession, path: str) -> DataFrame:
    """``spark.read.parquet(path)`` with the schema from :func:`parquet_schema`:
    no schema-inference job after the first read of a file."""
    return spark.read.schema(parquet_schema(spark, path)).parquet(path)


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; catalog: {TABLES}")
    if name == "events":
        # TIMESTAMP(NANOS) parquet is rejected by the vectorized reader;
        # read nanos as long (no-op for other encodings) and normalize.
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        return normalize_event_ts(read_parquet(spark, f"{sf_dir}/{name}.parquet"))
    return read_parquet(spark, f"{sf_dir}/{name}.parquet")


def load_all(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    return {t: load_table(spark, sf_dir, t) for t in TABLES}


def register_temp_views(spark: SparkSession, sf_dir: str) -> None:
    """Register every catalog table as a temp view for spark.sql queries."""
    for t in TABLES:
        load_table(spark, sf_dir, t).createOrReplaceTempView(t)


def write_table(df: DataFrame, path: str, partition_by: list[str] | None = None) -> None:
    """Overwrite-sink analog of the reference's full-table CSV overwrite
    (reference data_pipeline/upload_data.py:37-46), as parquet with optional
    date partitioning (the reference's monthly snapshot keying,
    pipeline_handler.py:343-354, becomes partitionBy)."""
    w = df.write.mode("overwrite")
    if partition_by:
        w = w.partitionBy(*partition_by)
    w.parquet(path)


# ---------------------------------------------------------------------------
# two-tier warehouse: per-process builder materialization
# ---------------------------------------------------------------------------
#
# The reference persists every derived table to S3 and downstream jobs READ
# the stored table instead of re-deriving it (data_pipeline/config.py:29-142
# catalog; e.g. combined_transaction_data.csv is built once by
# pipeline_handler.py:112-296 and consumed by ~10 later steps).  This engine
# keeps the same two-tier design: hot builder outputs are written to a
# per-process parquet warehouse on first use and every later consumer scans
# the stored table — at 100 TB these would be persisted bronze/silver tables
# with a real catalog; locally it's a temp dir cleaned at exit.
#
# Correctness is unaffected (parquet round-trips every output type exactly);
# set SPARK_GRAFT_NO_MATERIALIZE=1 to audit the raw builder plans
# (tests/test_plans.py does).

import atexit as _atexit
import functools as _functools
import hashlib as _hashlib
import shutil as _shutil
import tempfile as _tempfile
import threading as _threading

_WAREHOUSE_ROOT: str | None = None
_MATERIALIZED: dict[tuple[str, str], str] = {}
_MATERIALIZE_LOCKS: dict[tuple[str, str], _threading.Lock] = {}
_REGISTRY_LOCK = _threading.Lock()

# The driver testdata ships each table as ONE parquet row group, so a source
# scan is a single task no matter what maxPartitionBytes says.  Rewriting the
# warehouse tables across this many files gives every downstream consumer a
# parallel scan (measured ~2x on aggregation queries at sf0.1); on a cluster
# the same repartition-before-write is how you control output file sizing.
_WAREHOUSE_WRITE_PARTITIONS = 16


def _warehouse_root() -> str:
    global _WAREHOUSE_ROOT
    if _WAREHOUSE_ROOT is None:
        _WAREHOUSE_ROOT = _tempfile.mkdtemp(prefix="basin_spark_wh_")
        _atexit.register(_shutil.rmtree, _WAREHOUSE_ROOT, ignore_errors=True)
    return _WAREHOUSE_ROOT


_TRACKED_CACHES: list[DataFrame] = []


def tracked_persist(df: DataFrame) -> DataFrame:
    """``persist()`` with session hygiene.

    Catalyst plans a self-join (or two aggregations) over the same expensive
    subtree as independent subtrees — no exchange reuse across AQE stages —
    so without a cache the subtree computes once per consumer.  A bare
    ``persist()`` fixes that but pins executor storage for the rest of the
    session: a full-registry bench/correctness run accumulates every query's
    cache.  Tracked caches are released by :func:`release_caches`, which the
    query registry invokes before building the NEXT query — within-query
    reuse runs at memory speed, across queries nothing stays resident.
    Example: ``pagerank_proximity`` caches its proximity edge list, which
    every power-method round joins.

    A cache is not free on small inputs: every later stage scans all of its
    partitions (AQE cannot coalesce a cache scan), so a ~1k-row subtree
    recomputed per consumer can beat caching it.  Prefer deriving the
    consumers from one aggregation pass where the plan allows it.
    """
    df.persist()
    with _REGISTRY_LOCK:
        _TRACKED_CACHES.append(df)
    return df


def release_caches() -> None:
    """Unpersist every cache registered since the last call.  Safe if a
    consumer plan still references the data — Spark recomputes on demand."""
    with _REGISTRY_LOCK:
        caches = list(_TRACKED_CACHES)
        _TRACKED_CACHES.clear()
    for df in caches:
        try:
            df.unpersist()
        except Exception:
            pass  # session already stopped


def materialized(name: str):
    """Decorator for (spark, sf_dir) -> DataFrame builders: write the output
    parquet once per (process, sf_dir) and serve every subsequent call as a
    plain scan of the stored table."""

    def deco(fn):
        @_functools.wraps(fn)
        def wrapper(spark: SparkSession, sf_dir: str) -> DataFrame:
            if os.environ.get("SPARK_GRAFT_NO_MATERIALIZE"):
                return fn(spark, sf_dir)
            key = (os.path.abspath(sf_dir), name)
            if key not in _MATERIALIZED:
                # per-key lock: independent builders materialize concurrently
                # (bench loads them from threads), same-key callers build once
                with _REGISTRY_LOCK:
                    lock = _MATERIALIZE_LOCKS.setdefault(key, _threading.Lock())
                with lock:
                    if key not in _MATERIALIZED:
                        sfh = _hashlib.md5(key[0].encode()).hexdigest()[:8]
                        path = os.path.join(_warehouse_root(), f"{sfh}_{name}")
                        # coalesce, not repartition: the cap on output files
                        # is a file-count bound, and paying a full extra
                        # shuffle for it doubled the write cost of every
                        # materialization (measured 4.6s -> 2.3s on the
                        # transactions build at sf0.1).  When the final
                        # stage has fewer partitions than the cap, coalesce
                        # is a no-op and the natural layout is written;
                        # parquet row-group splitting keeps downstream scan
                        # parallelism regardless of file count.
                        fn(spark, sf_dir).coalesce(
                            _WAREHOUSE_WRITE_PARTITIONS
                        ).write.mode("overwrite").parquet(path)
                        _MATERIALIZED[key] = path
            return read_parquet(spark, _MATERIALIZED[key])

        wrapper.__wrapped__ = fn
        return wrapper

    return deco
