"""SparkSession construction with scale-appropriate defaults.

The session is configured for correctness-stable, large-scale
execution: AQE on (runtime coalescing + skew-join splitting), UTC
session timezone (oracle comparability), Arrow enabled for the
Pandas-UDF paths. ``spark.sql.shuffle.partitions`` defaults to the
local core count; on a real cluster it should be ~2-3x total cores
(AQE coalesces the excess, so erring high is safe).
"""

from __future__ import annotations

import os
from concurrent.futures import FIRST_EXCEPTION, ThreadPoolExecutor, wait

from pyspark import inheritable_thread_target
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

#: Session confs that query results depend on.
SESSION_PINS = {
    # oracle comparability: timestamp-literal parsing and epoch math
    "spark.sql.session.timeZone": "UTC",
    # non-ANSI: invalid arithmetic (x/0, bad casts) yields NULL —
    # matches the reference's NA-propagation model (SURVEY §1.3)
    "spark.sql.ansi.enabled": "false",
    # events.ts shipped as TIMESTAMP(NANOS) scans as a raw long
    "spark.sql.legacy.parquet.nanosAsLong": "true",
}


def get_spark(
    app_name: str = "data_frame_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the singleton SparkSession.

    Local test/bench runs use ``local[$SPARK_GRAFT_CPUS]``; on a
    cluster the master comes from the environment (spark-submit), so
    ``master`` is only applied when nothing is configured yet.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", str(os.cpu_count() or 8))
    if master is None:
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        shuffle_partitions = int(cpus)

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.files.maxPartitionBytes", str(128 * 1024 * 1024))
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    pin_session(spark)
    return spark


def pin_session(spark: SparkSession) -> None:
    """Set each :data:`SESSION_PINS` conf that differs. Queries may
    run under a session built elsewhere; once pinned, the session is
    only read."""
    for key, value in SESSION_PINS.items():
        if spark.conf.get(key, None) != value:
            spark.conf.set(key, value)


def build_parallel(spark: SparkSession, *thunks):
    """Run each zero-argument ``thunk`` on its own driver thread and
    return their results in argument order.

    Builders only read session state: the session is pinned here, on
    the calling thread, before any thunk starts. Each thunk carries
    the caller's job group, description and tags. The first failure
    is raised as soon as it happens; siblings still running are left
    to finish on their own.
    """
    pin_session(spark)
    pool = ThreadPoolExecutor(max_workers=len(thunks))
    try:
        futures = [
            pool.submit(inheritable_thread_target(spark)(thunk)) for thunk in thunks
        ]
        done, _ = wait(futures, return_when=FIRST_EXCEPTION)
        for f in done:
            f.result()  # re-raises a failure
        return [f.result() for f in futures]
    finally:
        pool.shutdown(wait=False, cancel_futures=True)


def local_frame(spark: SparkSession, rows, schema: StructType | str) -> DataFrame:
    """A small driver-side relation from ``rows`` (tuples in ``schema``
    order), built as an Arrow table so it plans as a
    ``LocalTableScan``: no RDD, and no tasks to ship it at action time.

    ``schema`` is a DDL string or a StructType. Columns go straight to
    Arrow, not through pandas, so a float ``NaN`` stays ``NaN`` and
    ``None`` stays NULL.
    """
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    if isinstance(schema, str):
        schema = StructType.fromDDL(schema)
    arrow = to_arrow_schema(schema)
    rows = list(rows)
    table = pa.Table.from_arrays(
        [
            pa.array([r[i] for r in rows], type=field.type)
            for i, field in enumerate(arrow)
        ],
        schema=arrow,
    )
    return spark.createDataFrame(table, schema)


TPCH_TABLES = (
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


#: (abspath, st_mtime_ns, st_size) of a ``.parquet`` path -> the
#: StructType Spark inferred on its first load. A rewritten file gets a
#: new key, so a stale schema is never reused.
_SCHEMAS: dict[tuple[str, int, int], StructType] = {}


def _read_parquet(spark: SparkSession, path: str):
    """``spark.read.parquet(path)``, inferring the schema (one Spark
    job) only on the first read of each file version. Each call returns
    a fresh relation; only the schema is shared. Paths ``os.stat``
    cannot see (cluster URIs) are inferred every time."""
    try:
        st = os.stat(path)
    except OSError:
        return spark.read.parquet(path)
    key = (os.path.abspath(path), st.st_mtime_ns, st.st_size)
    schema = _SCHEMAS.get(key)
    if schema is not None:
        return spark.read.schema(schema).parquet(path)
    df = spark.read.parquet(path)
    _SCHEMAS[key] = df.schema
    return df


def load_table(spark: SparkSession, sf_dir: str, name: str):
    """Load one driver table.

    ``events.ts`` has shipped as either parquet TIMESTAMP(NANOS)
    (scanned as a raw long via ``nanosAsLong``) or plain
    ``timestamp[us]``; both are normalized to the same three columns:
    ``ts_ns`` (exact nanos, BIGINT), ``ts_us`` (exact micros, BIGINT)
    and ``ts`` (micro-precision TimestampType). Oracle SQL uses
    DuckDB ``epoch_ns(ts)``, which equals ``ts_ns`` either way.

    The parquet schema is inferred (a Spark job) on the first load of
    each file version and cached by path, mtime and size; later loads
    pass it to the reader and start no job. Every call still returns a
    new relation, so two loads of one table can be self-joined.
    """
    from pyspark.sql import functions as F
    from pyspark.sql.types import LongType

    # epoch extraction below must not depend on the caller's session
    # timezone (TIMESTAMP_NTZ -> epoch goes through a wall-clock
    # interpretation; the stored values are UTC); nanosAsLong is
    # pinned before the schema is inferred
    pin_session(spark)
    df = _read_parquet(spark, os.path.join(sf_dir, f"{name}.parquet"))
    if name == "events":
        if isinstance(df.schema["ts"].dataType, LongType):
            return (
                df.withColumnRenamed("ts", "ts_ns")
                .withColumn("ts_us", F.expr("ts_ns div 1000"))
                .withColumn("ts", F.timestamp_micros(F.col("ts_us")))
            )
        return (
            df.withColumn("ts_us", F.unix_micros(F.col("ts").cast("timestamp")))
            .withColumn("ts_ns", F.col("ts_us") * F.lit(1000))
            .withColumn("ts", F.timestamp_micros(F.col("ts_us")))
        )
    return df


def load_tables(spark: SparkSession, sf_dir: str, register: bool = True):
    """Load the driver-provisioned parquet tables from ``sf_dir``.

    Returns a dict name -> DataFrame; also registers each as a temp
    view so ``spark.sql`` queries run against them.
    """
    out = {}
    for name in TPCH_TABLES:
        if os.path.exists(os.path.join(sf_dir, f"{name}.parquet")):
            df = load_table(spark, sf_dir, name)
            if register:
                df.createOrReplaceTempView(name)
            out[name] = df
    return out
