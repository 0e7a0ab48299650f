"""Regression tests for the round-1 code-review findings."""

import pytest
from pyspark.sql import functions as F

from dataflow_python_etl_spark.operators.dedup import (
    ngram_jaccard_pairs,
    unpersist_all,
)
from dataflow_python_etl_spark.operators.upsert import swap_table_dir


def test_capped_jaccard_uses_filtered_sizes(spark):
    # Two identical docs whose shingles are mostly "hot" across many
    # other docs: with the cap, both numerator AND denominator must use
    # the filtered sets, so the identical pair still scores 1.0.
    hot_text = "a b c d e f"          # shingles shared by many docs
    rare = "x y z w v u"              # unique tail for the dup pair
    rows = [(i, hot_text) for i in range(10)]
    rows += [(100, hot_text + " " + rare), (101, hot_text + " " + rare)]
    df = spark.createDataFrame(rows, "doc_id: long, text: string")
    pairs = ngram_jaccard_pairs(df, threshold=0.9, max_shingle_df=5)
    got = {(r["doc_a"], r["doc_b"]): r["jaccard"] for r in pairs.collect()}
    assert got.get((100, 101)) == 1.0


def test_swap_failure_restores_table(spark, tmp_path):
    path = str(tmp_path / "t")
    spark.createDataFrame([(1,)], "id: long").write.parquet(path)
    with pytest.raises(Exception):
        swap_table_dir(path, str(tmp_path / "does_not_exist"))
    # table still present and readable after the failed swap
    assert spark.read.parquet(path).count() == 1


def test_unpersist_all_releases_caches(spark):
    df = spark.createDataFrame(
        [(i, "some words repeated here " * 3) for i in range(20)],
        "doc_id: long, text: string",
    )
    ngram_jaccard_pairs(df).count()
    assert unpersist_all() >= 1
    assert unpersist_all() == 0


def test_driver_memory_override_warns_when_context_exists(spark, monkeypatch):
    """ADVICE r7: spark.driver.memory is JVM-launch-time — a
    SPARK_GRAFT_DRIVER_MEMORY set after the first get_spark is
    silently ignored by getOrCreate, so the factory must warn."""
    import warnings

    from dataflow_python_etl_spark.session import get_spark

    monkeypatch.setenv("SPARK_GRAFT_DRIVER_MEMORY", "64g")
    with warnings.catch_warnings(record=True) as w:
        warnings.simplefilter("always")
        got = get_spark()
    assert got is spark
    assert any(
        issubclass(x.category, RuntimeWarning)
        and "SPARK_GRAFT_DRIVER_MEMORY" in str(x.message)
        for x in w
    )


@pytest.mark.parametrize("x", [float("nan"), float("inf"), float("-inf"), -0.0, 1e-310])
def test_dlit_parses_to_the_same_double_as_lit(spark, x):
    # non-finite doubles have no SQL literal syntax: dlit must still
    # render something the parser reads back as the identical double
    import math

    from dataflow_python_etl_spark.functions.vectors import darr, dlit

    got = spark.range(1).select(
        F.expr(dlit(x)).alias("d"), F.expr(darr([x, 2.5])).alias("a"), F.lit(x).alias("l")
    ).first()
    for v in (got["d"], got["a"][0]):
        if math.isnan(x):
            assert math.isnan(v) and math.isnan(got["l"])
        else:
            assert v == got["l"] == x and math.copysign(1, v) == math.copysign(1, x)


def test_lzw_base_table_is_immutable():
    from dataflow_python_etl_spark.operators.codecs import _lzw_base

    base = _lzw_base(4)
    assert base is _lzw_base(4)  # one cached instance per code size
    assert isinstance(base, tuple) and base[:2] == (b"\x00", b"\x01")
    assert base[-2:] == (b"", b"") and len(base) == 6
    with pytest.raises(AttributeError):
        base.append(b"x")  # a caller cannot poison later decodes


def test_in_longs_rejects_null_and_fractional_ids(spark):
    import numpy as np

    from dataflow_python_etl_spark.operators.similarity import _in_longs

    df = spark.range(6)
    keep = df.where(_in_longs("id", [1, 3.0, np.int64(5)]))
    assert sorted(r["id"] for r in keep.collect()) == [1, 3, 5]
    for bad in (None, 3.7, float("nan"), "4"):
        with pytest.raises(ValueError, match="non-null integral ids"):
            _in_longs("id", [1, bad])
