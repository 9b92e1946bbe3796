"""Spec-driven CSV scan (S1-S4, S10).

Reference behavior being mirrored: ``csv.DictReader`` keys rows off the
FILE's header (not the spec), all values are strings, and a spec/file
mismatch silently yields None for missing columns (``dynamic.py:298-302``).
So we scan header-keyed and all-string, and let the mapping compiler resolve
missing columns to null.

Divergence (documented, SURVEY S3): the reference's DynamicTransformer
ignores the spec's delimiter/encoding/has_header and hardcodes ``,``/utf-8/
header.  We honor the spec — that is what the spec fields are for, and the
reference's own typed path + UI treat them as real.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from csv_etl_spark.specs import FileSpec

LINE_COL = "_line"
FILE_COL = "_file"


def read_spec_csv(
    spark: SparkSession,
    path: str,
    spec: FileSpec | None = None,
) -> DataFrame:
    """S1/S2/S3: header-keyed all-string CSV scan over a file, directory or
    glob.  All columns are StringType — typing happens inside compiled
    transforms, exactly like the reference (SURVEY §1.2).
    """
    reader = (
        spark.read.option("header", str(spec.has_header if spec else True).lower())
        .option("sep", spec.delimiter if spec else ",")
        .option("encoding", spec.encoding if spec else "utf-8")
        .option("inferSchema", "false")  # strings end-to-end
        .option("pathGlobFilter", "*.csv")
        .option("recursiveFileLookup", "false")
    )
    if spec is not None and not spec.has_header:
        # no header: names come from the spec, positionally
        schema = spec.spark_schema(all_string=True)
        return reader.schema(schema).csv(path)
    return reader.csv(path)


def with_line_numbers(df: DataFrame) -> DataFrame:
    """S10: per-file physical line numbers, data starting at 2 (header = 1),
    matching ``enumerate(reader, start=2)`` (``dynamic.py:302``).

    Implemented as row_number per input file ordered by
    ``monotonically_increasing_id`` — within one CSV file Spark assigns
    splits to partitions in file order and mono-ids are ascending per
    partition, so the ordering reconstructs physical order.  This is a
    per-file shuffle: it exists for error-report/preview parity, NOT for the
    hot path — at 100 TB you process without line provenance (the mapping
    plan itself never needs it)."""
    w = Window.partitionBy(F.input_file_name()).orderBy(F.monotonically_increasing_id())
    return df.withColumn(LINE_COL, F.row_number().over(w) + F.lit(1))


def read_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Parquet table loader for the driver's testdata layout."""
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")
