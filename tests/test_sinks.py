"""Physical-layout sinks (partition pruning, bucketed shuffle-free
joins, asserted on the actual plans) and the one format I/O path:
``write_and_swap(fmt=)`` out, ``spark.read`` back."""

from pyspark.sql import functions as F

from dataflow_python_etl_spark.operators.upsert import write_and_swap
from dataflow_python_etl_spark.plans.checks import count_exchanges, explain_str
from dataflow_python_etl_spark.sources.catalog import read_table
from dataflow_python_etl_spark.sources.sinks import write_bucketed

SF_DIR = "/root/testdata/sf0.001"


def test_partition_pruning(spark, tmp_path):
    ev = read_table(spark, SF_DIR, "events")
    path = str(tmp_path / "events_by_type")
    write_and_swap(ev, path, partition_by=["event_type"])
    df = spark.read.parquet(path).where(F.col("event_type") == "purchase")
    plan = explain_str(df)
    assert "PartitionFilters" in plan and "event_type" in plan.split("PartitionFilters")[1][:200]
    got = df.count()
    want = ev.where(F.col("event_type") == "purchase").count()
    assert got == want


def test_bucketed_join_eliminates_shuffle(spark, tmp_path):
    # bucketed tables live in the session's spark-warehouse dir
    # (warehouse.dir is a static conf; gitignored locally)
    orders = read_table(spark, SF_DIR, "orders")
    li = read_table(spark, SF_DIR, "lineitem").groupBy("l_orderkey").agg(
        F.count(F.lit(1)).alias("n_items")
    )
    write_bucketed(orders, "orders_b", "o_orderkey", n_buckets=8)
    write_bucketed(
        li.withColumnRenamed("l_orderkey", "o_orderkey"), "li_b", "o_orderkey", n_buckets=8
    )
    joined = spark.table("orders_b").join(spark.table("li_b"), on="o_orderkey")
    # same bucketing on both sides → no Exchange in the join plan
    assert count_exchanges(joined) == 0, explain_str(joined, "simple")
    assert joined.count() == orders.join(li, orders.o_orderkey == li.l_orderkey).count()
    spark.sql("DROP TABLE IF EXISTS orders_b")
    spark.sql("DROP TABLE IF EXISTS li_b")


def test_format_roundtrips(spark, tmp_path):
    df = spark.createDataFrame(
        [(1, "a", 1.5), (2, "b", 2.5)], "id: long, name: string, v: double"
    )
    want = {(r["id"], r["name"], r["v"]) for r in df.collect()}
    for fmt, opts in (
        ("parquet", {}),
        ("orc", {}),
        ("json", {}),
        ("csv", {"header": "true"}),
    ):
        path = str(tmp_path / f"t_{fmt}")
        write_and_swap(df, path, fmt=fmt, options=opts)
        back = spark.read.format(fmt).options(**opts).schema(df.schema).load(path)
        assert {(r["id"], r["name"], r["v"]) for r in back.collect()} == want, fmt
        assert back.schema == df.schema, fmt

