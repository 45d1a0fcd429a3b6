"""SparkSession factory with scale-aware defaults.

Local testing runs on local[N]; the configs are chosen so the same
session settings are correct on a 1000-executor cluster reading 100 TB:
AQE re-plans shuffles at runtime (coalesce, skew-join split), broadcast
threshold keeps dimension joins shuffle-free, and shuffle partitions on
a real cluster would be sized ~2-3x total cores (AQE coalesces down).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))

_SCRATCH_ROOT: str | None = None


def scratch_dir(prefix: str) -> str:
    """A scratch directory under one per-process root that is removed
    at interpreter exit. Queries that build throwaway tables/indexes
    inside the plan (q15/q108/q117/q118/q119, the session IVF index,
    streaming warm-up) allocate here; without the shared root, repeated
    bench/correctness runs leak a mkdtemp per invocation into /tmp.
    Cleanup is atexit (not post-materialize) because the returned
    DataFrames read the scratch files lazily until the driver collects."""
    global _SCRATCH_ROOT
    import atexit
    import shutil
    import tempfile

    if _SCRATCH_ROOT is None or not os.path.isdir(_SCRATCH_ROOT):
        _SCRATCH_ROOT = tempfile.mkdtemp(prefix="synchspark-scratch-")
        atexit.register(shutil.rmtree, _SCRATCH_ROOT, ignore_errors=True)
    return tempfile.mkdtemp(prefix=prefix, dir=_SCRATCH_ROOT)


def get_spark(app_name: str = "sparksynch", cpus: int | None = None) -> SparkSession:
    cpus = cpus or DEFAULT_CPUS
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        # shuffle parallelism ~ cores locally; AQE coalesces small shuffles
        .config("spark.sql.shuffle.partitions", str(cpus))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # dimension tables (region/nation/customer at analytic SFs) broadcast
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # deterministic timestamps vs the DuckDB oracle (UTC-naive)
        .config("spark.sql.session.timeZone", "UTC")
        # Arrow for pandas UDF / toPandas paths
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "48g"))
        # concurrent query submission (bench, multi-stream) shares cores fairly
        .config("spark.scheduler.mode", "FAIR")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.parquet.int96RebaseModeInRead", "CORRECTED")
        # table files store timestamps as INT64 micros, not legacy 12-byte
        # INT96: a session conf, since Spark's parquet writer takes it from
        # the SQLConf and ignores writer options (see ensure_session_confs)
        .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
        # driver fixtures store events.ts as TIMESTAMP(NANOS); Spark has no
        # nanos timestamp — read as long and convert in read_table
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def ensure_session_confs(spark: SparkSession) -> None:
    """Make an externally-created session (e.g. the driver's) safe for our
    queries: nanos-timestamp fixtures readable, UTC timestamps (oracle
    parity), and table files written with the layout ``get_spark`` gives
    them (INT64 micros timestamps). All three confs are runtime-settable."""
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    spark.conf.set("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")


def read_table(spark: SparkSession, sf_dir: str, name: str):
    """Read one driver fixture table, normalizing nanosecond timestamps.

    With nanosAsLong, TIMESTAMP(NANOS) columns surface as LongType nanos;
    the fixture's values are microsecond-precision, so truncating to
    micros is lossless (and matches DuckDB's own ns->us truncation).
    """
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    ensure_session_confs(spark)
    path = os.path.join(sf_dir, f"{name}.parquet")
    df = spark.read.parquet(path)
    # TIMESTAMP(NANOS) detection is SCHEMA-keyed (parquet footer), not
    # name-keyed: any fixture column stored as nanos surfaces as a raw
    # long under nanosAsLong, and a name-specific special case would
    # silently feed epoch-nanos integers into date/window functions for
    # every table it didn't anticipate.
    nanos = _parquet_nanos_columns(path)
    for field in df.schema.fields:
        if field.name in nanos and isinstance(field.dataType, T.LongType):
            df = df.withColumn(field.name, nanos_to_ts(field.name))
        elif name == "events" and field.name == "ts" and isinstance(
                field.dataType, T.TimestampNTZType):
            # fixtures written as TIMESTAMP(MICROS) surface as NTZ;
            # session tz is UTC, so this cast is a type-tag change only
            # (wall times preserved) and keeps downstream event-time /
            # unix_micros consumers on plain TimestampType
            df = df.withColumn("ts", F.col("ts").cast(T.TimestampType()))
    return df


def _parquet_nanos_columns(path: str) -> set:
    """Column names stored as timestamp[ns] per the parquet footer —
    the ones nanosAsLong turns into raw longs. Footer-only read."""
    try:
        import pyarrow as pa
        import pyarrow.dataset as ds

        schema = ds.dataset(path, format="parquet").schema
        return {f.name for f in schema
                if pa.types.is_timestamp(f.type) and f.type.unit == "ns"}
    except Exception:  # noqa: BLE001 — detection is best-effort
        return set()


def nanos_to_ts(col: str):
    """Epoch-nanos long -> microsecond timestamp. MUST be integer division:
    float /1000 rounds at ~1e18 magnitudes and lands 1 microsecond off."""
    from pyspark.sql import functions as F

    return F.timestamp_micros(F.expr(f"{col} div 1000"))


def load_tables(spark: SparkSession, sf_dir: str, names: list[str] | None = None):
    """Register the driver's parquet tables as temp views; return dict of DataFrames."""
    names = names or [
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
    ]
    out = {}
    for name in names:
        path = os.path.join(sf_dir, f"{name}.parquet")
        if os.path.exists(path):
            df = read_table(spark, sf_dir, name)
            df.createOrReplaceTempView(name)
            out[name] = df
    return out
