"""SparkSession factory tuned for this engine.

Scale notes: the defaults below are what we would ship on a 1000-executor
cluster, modulated by environment variables for local testing.  AQE is on so
shuffle partition counts self-tune at runtime; broadcast threshold stays at
Spark's default so dimension tables (region/nation/customer at any SF) hash
to broadcast joins.
"""

from __future__ import annotations

import logging
import os

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

logger = logging.getLogger(__name__)


def get_spark(app_name: str = "confluent-data-ingestion-spark") -> SparkSession:
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
    return (
        SparkSession.builder.appName(app_name)
        .master(f"local[{cpus}]")
        .config("spark.sql.shuffle.partitions", "32")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "8g"))
        # Arrow for the pandas-UDF extension operators.
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )


def _parse_bytes(v: str) -> int:
    """Spark byte-size conf values: bare ints or int + b/k/m/g/t suffix
    (optionally with a trailing 'b', e.g. '128m', '128mb', '134217728b')."""
    s = str(v).strip().lower()
    mult = 1
    if s.endswith("b"):
        s = s[:-1]
    for suf, m in (("k", 1 << 10), ("m", 1 << 20), ("g", 1 << 30), ("t", 1 << 40)):
        if s.endswith(suf):
            s, mult = s[:-1], m
            break
    try:
        return int(s) * mult
    except ValueError:
        return 134217728


def ensure_min_parallelism(df, min_partitions: int | None = None):
    """Round-robin repartition ONLY when the input is too small to occupy
    the cluster's task slots.

    The probe is Catalyst's driver-side size statistic
    (``optimizedPlan().stats().sizeInBytes`` — file-listing / row-count
    based, no job, and unlike a ``df.rdd`` partition probe no physical
    planning or RDD DAG construction on wide plans).  An input estimated
    at >= slots * maxPartitionBytes already compiles to at least one scan
    partition per slot, so the repartition is skipped — at scale this is
    always a no-op.  On small inputs — a single small parquet file
    compiles to ONE partition — the repartition unlocks every core for
    the CPU-heavy per-row expressions these operators are built from
    (signature folds, shingle explodes, vector norms), which would
    otherwise run in a single task no matter how many executors are idle.
    """
    spark = df.sparkSession
    target = min_partitions or spark.sparkContext.defaultParallelism
    max_pb = _parse_bytes(
        spark.conf.get("spark.sql.files.maxPartitionBytes", "134217728")
    )
    try:
        size = int(
            str(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())
        )
    except Exception as exc:
        logger.warning(
            "ensure_min_parallelism: no size estimate (%r); treating the "
            "input as small and repartitioning to %d", exc, target,
        )
        size = 0  # no estimate -> treat as small, keep the cores busy
    if size >= target * max_pb:
        return df
    return df.repartition(target)


def load_tables(spark: SparkSession, sf_dir: str, names: list[str] | None = None):
    """Load driver-provided parquet tables as a dict of DataFrames.

    ``events.ts`` has shipped as parquet TIMESTAMP(NANOS) in some testdata
    generations (Spark's vectorized reader rejects nanos unless read as a
    long via ``nanosAsLong``) and TIMESTAMP(MICROS) in others.  We normalize
    both to TIMESTAMP_NTZ truncated to microseconds — exactly what DuckDB
    produces for the same file, so oracle comparisons agree — by inspecting
    the type actually read rather than assuming one generation's layout.
    The conversion is session-timezone independent.
    """
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
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    out = {}
    for n in names:
        df = spark.read.parquet(f"{sf_dir}/{n}.parquet")
        if n == "events":
            ts_type = df.schema["ts"].dataType.simpleString()
            if ts_type == "bigint":
                # nanos-as-long generation: rebuild micros-truncated NTZ.
                df = df.withColumn(
                    "ts",
                    F.expr(
                        "convert_timezone(current_timezone(), 'UTC', "
                        "cast(timestamp_micros(ts div 1000) as timestamp_ntz))"
                    ),
                )
            elif ts_type == "timestamp":
                # TIMESTAMP_LTZ generation: the cast reads the wall clock in
                # the SESSION timezone, so re-anchor that NTZ from the
                # session zone to UTC — same shape as the nanos branch, and
                # correct even if a caller changed the session timezone.
                df = df.withColumn(
                    "ts",
                    F.expr(
                        "convert_timezone(current_timezone(), 'UTC', "
                        "cast(ts as timestamp_ntz))"
                    ),
                )
            # timestamp_ntz: already what the oracle sees — leave untouched.
        out[n] = df
    return out
