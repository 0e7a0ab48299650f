"""Bucketed catalog tables.

At 100 TB the physical layout IS the optimization: pre-shuffle the
table ONCE into N buckets by the join/agg key, and two tables bucketed
the same way join with ZERO exchanges — the shuffle is amortized into
the write. This is the Spark-native answer to the reference's "all
results from a given account number on one worker" comment
(reference ``src/datalake_to_mart.py:157-160``). Hive-style directory
partitioning is ``operators.upsert.write_and_swap(partition_by=)``.

Bucketed tables must go through ``saveAsTable`` (the bucket metadata
lives in the catalog, not the parquet files).
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def write_bucketed(
    df: DataFrame,
    table: str,
    bucket_col: str | list[str],
    n_buckets: int = 32,
    sort_col: str | None = None,
    mode: str = "overwrite",
    path: str | None = None,
) -> None:
    """Bucketed catalog table; multi-column bucket keys co-locate a
    composite join key (e.g. the LSH (band, sig) probe). ``path`` makes
    it an EXTERNAL table so the files live at a caller-chosen location
    while the bucket spec lives in the catalog."""
    cols = [bucket_col] if isinstance(bucket_col, str) else list(bucket_col)
    w = df.write.mode(mode).bucketBy(n_buckets, cols[0], *cols[1:])
    if sort_col:
        w = w.sortBy(sort_col)
    if path is not None:
        w = w.option("path", path)
    w.format("parquet").saveAsTable(table)

