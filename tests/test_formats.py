"""JSON lines/ORC through ``write_and_swap(fmt=)`` and ``spark.read``,
and the leakage-proof group split."""

import os

import pytest
from pyspark.sql import functions as F

from dataflow_python_etl_spark.operators.corpus import split_by_group
from dataflow_python_etl_spark.operators.upsert import write_and_swap
from dataflow_python_etl_spark.sources.catalog import read_table

SF_DIR = "/root/testdata/sf0.001"


def test_jsonl_round_trip_with_schema(spark, tmp_path):
    path = str(tmp_path / "nation_jsonl")
    nation = read_table(spark, SF_DIR, "nation")
    write_and_swap(nation, path, fmt="json")
    got = spark.read.schema(nation.schema).json(path)
    assert got.schema == nation.schema
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, nation.collect()))


def test_jsonl_nested_columns(spark, tmp_path):
    path = str(tmp_path / "nested")
    df = spark.createDataFrame(
        [(1, {"a": 2}, [1, 2, 3])], "id: long, m: map<string,long>, xs: array<long>"
    )
    write_and_swap(df, path, fmt="json")
    got = spark.read.schema(df.schema).json(path).collect()[0]
    assert got["m"] == {"a": 2} and got["xs"] == [1, 2, 3]


def test_orc_round_trip_and_swap(spark, tmp_path):
    path = str(tmp_path / "orders_orc")
    orders = read_table(spark, SF_DIR, "orders").limit(500)
    write_and_swap(orders, path, fmt="orc")
    n1 = spark.read.orc(path).count()
    # overwrite an existing table: swap, no leftovers
    write_and_swap(orders.limit(100), path, fmt="orc")
    assert spark.read.orc(path).count() == 100 and n1 == 500
    leftovers = [p for p in os.listdir(tmp_path) if ".__" in p]
    assert leftovers == []


def test_split_by_group_cohesion_and_proportions(spark):
    docs = read_table(spark, SF_DIR, "documents").withColumn(
        "grp", F.col("doc_id") % 97
    )
    out = split_by_group(docs, "grp", {"train": 0.8, "val": 0.1, "test": 0.1})
    # cohesion: every group maps to exactly one split
    per_group = out.groupBy("grp").agg(F.count_distinct("split").alias("k")).collect()
    assert all(r["k"] == 1 for r in per_group)
    # proportions over 97 groups: train ≈ 80% within coarse tolerance
    frac = out.where(F.col("split") == "train").count() / out.count()
    assert 0.6 < frac < 0.95
    assert set(r["split"] for r in out.select("split").distinct().collect()) <= {
        "train", "val", "test"
    }


def test_split_by_group_stable_under_growth(spark):
    docs = read_table(spark, SF_DIR, "documents").withColumn("grp", F.col("doc_id") % 50)
    full = {
        r["grp"]: r["split"]
        for r in split_by_group(docs, "grp", {"a": 0.5, "b": 0.5})
        .select("grp", "split")
        .distinct()
        .collect()
    }
    subset = {
        r["grp"]: r["split"]
        for r in split_by_group(docs.where(F.col("grp") < 10), "grp", {"a": 0.5, "b": 0.5})
        .select("grp", "split")
        .distinct()
        .collect()
    }
    assert all(full[g] == s for g, s in subset.items())


def test_split_by_group_validation(spark):
    df = spark.createDataFrame([(1,)], "g: long")
    with pytest.raises(ValueError, match="sum to 1"):
        split_by_group(df, "g", {"a": 0.5, "b": 0.4})
