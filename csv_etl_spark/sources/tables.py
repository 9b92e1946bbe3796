"""Loaders for the driver's parquet test tables.

The only quirk lives in ``events.parquet``: the driver wrote it with
nanosecond-precision timestamps (parquet logical type TIMESTAMP(NANOS)),
which Spark's parquet reader rejects outright by default
(PARQUET_TYPE_ILLEGAL).  ``load_events`` reads nanos as raw int64
(``spark.sql.legacy.parquet.nanosAsLong``), integer-divides to
microseconds (exact — float division would lose precision at 1e18), and
rebuilds a proper TimestampType column.  DuckDB reads the same file
natively with micro truncation, so both engines see identical instants.

At 100 TB this is a one-time normalization step you'd run at ingest and
never again; keeping it in a single loader means every operator downstream
sees clean micro-precision timestamps.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def load_table(
    spark: SparkSession, sf_dir: str, name: str, parallelize: bool = False
) -> DataFrame:
    """Read one driver test table (``{sf_dir}/{name}.parquet``).

    ``parallelize``: the driver writes each table as ONE parquet row group,
    and a scan cannot split below a row group — so every plan would start
    on a single core no matter how CPU-dense its expressions are.  When the
    scan yields fewer partitions than the cluster's default parallelism,
    round-robin repartition first: one cheap shuffle of a small table buys
    full-width execution for everything downstream.

    Opt-in, because it only pays where the plan is expression-bound
    (measured: the typed stocks pipeline drops 5.7s -> 2.5s at sf0.1, but
    shuffle-first aggregates and Arrow-batched mapInPandas plans get
    SLOWER — their narrow scan was never the bottleneck and the extra
    shuffle/python-worker fan-out is pure overhead).  Real 100 TB inputs
    arrive as thousands of row groups and skip this branch entirely.

    Filters push BELOW the round-robin repartition, so a parallelized
    table read in several differently-filtered branches (a union of
    filtered selects, say) plans one exchange per branch, and exchange
    reuse misses: each branch pays its own scan and shuffle job.  Build
    such inputs in one projection over the table instead.
    """
    if name == "events":
        df = load_events(spark, sf_dir)
    else:
        df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
    if parallelize:
        df = ensure_parallelism(df)
    return df


def ensure_parallelism(df: DataFrame) -> DataFrame:
    """Repartition up to default parallelism if the plan would run narrower
    (round-robin; see ``load_table`` on filters pushed below it)."""
    target = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < target:
        df = df.repartition(target)
    return df


def load_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events loader tolerant of TIMESTAMP(NANOS) parquet."""
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    raw = spark.read.parquet(f"{sf_dir}/events.parquet")
    if dict(raw.dtypes).get("ts") == "bigint":
        raw = raw.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    return raw
