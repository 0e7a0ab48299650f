"""Parquet-backed named tables — our stand-in for the reference's
BigQuery ``lake`` dataset (SURVEY.md §1.3).

``load_tables`` registers every parquet table in a directory as a temp
view so queries can be written as ``spark.sql`` or ``spark.table``,
exactly how the reference addresses ``lake.<table>`` (reference
``src/datalake_to_mart.py:151-161``, operator O7/O9).
"""

from __future__ import annotations

import os
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession

TESTDATA_TABLES = (
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


def _ns_timestamp_cols(path: str) -> list[str]:
    """Columns stored as parquet TIMESTAMP(NANOS), which Spark cannot
    map to TimestampType directly."""
    try:
        import pyarrow.parquet as pq
        import pyarrow as pa

        schema = pq.read_schema(path)
        return [
            f.name
            for f in schema
            if pa.types.is_timestamp(f.type) and f.type.unit == "ns"
        ]
    except Exception:
        return []


def _ntz_to_ltz(df: DataFrame) -> DataFrame:
    """Normalize TIMESTAMP_NTZ columns to TimestampType.

    Parquet micros with ``isAdjustedToUTC=false`` land as NTZ under
    Spark 4's default ``inferTimestampNTZ``; the engine (and the
    DuckDB oracle, whose naive timestamps are epoch'd as UTC) treats
    every testdata timestamp as a UTC instant. With the session
    timezone pinned to UTC (session.py) this cast is exactly that
    interpretation, and keeps downstream epoch/window math on the
    LTZ type every query was written against.
    """
    from pyspark.sql import functions as F  # noqa: F401
    from pyspark.sql import types as T

    ntz = [f.name for f in df.schema.fields if isinstance(f.dataType, T.TimestampNTZType)]
    for c in ntz:
        df = df.withColumn(c, df[c].cast("timestamp"))
    return df


def read_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """One named parquet table from a scale-factor directory.

    Nanosecond-precision timestamp columns are read via
    ``spark.sql.legacy.parquet.nanosAsLong`` and converted to
    micro-precision TimestampType (the nanos testdata generations are
    micro-aligned, so the conversion is lossless); NTZ micro columns
    are cast to TimestampType (see :func:`_ntz_to_ltz`).
    """
    path = os.path.join(sf_dir, f"{name}.parquet")
    ns_cols = _ns_timestamp_cols(path)
    if not ns_cols:
        return _ntz_to_ltz(spark.read.parquet(path))
    from pyspark.sql import functions as F

    prev = spark.conf.get("spark.sql.legacy.parquet.nanosAsLong", "false")
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    try:
        df = spark.read.parquet(path)
        for c in ns_cols:
            df = df.withColumn(c, F.timestamp_micros(F.floor(F.col(c) / 1000).cast("long")))
    finally:
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", prev)
    return _ntz_to_ltz(df)


def load_tables(
    spark: SparkSession, sf_dir: str, names: tuple[str, ...] | None = None
) -> dict[str, DataFrame]:
    """Register every table under ``sf_dir`` as a temp view; return them."""
    if names is None:
        names = tuple(
            p.stem for p in sorted(Path(sf_dir).glob("*.parquet"))
        ) or TESTDATA_TABLES
    out: dict[str, DataFrame] = {}
    for n in names:
        df = read_table(spark, sf_dir, n)
        df.createOrReplaceTempView(n)
        out[n] = df
    return out


def overwrite_table(df: DataFrame, path: str) -> None:
    """WRITE_TRUNCATE-equivalent sink (reference
    ``src/data_ingest.py:130-132``, operator O6).

    Spark cannot overwrite a path it is lazily reading from
    (SURVEY.md §7.3.4), and a crash mid-overwrite must not leave a
    half-written table — both handled by routing through THE one
    temp-and-swap implementation.
    """
    from dataflow_python_etl_spark.operators.upsert import write_and_swap

    write_and_swap(df, path)
