"""JSON lines read PERMISSIVE (corrupt-record capture) and checkpointed
streaming file sink (stop → append input → resume, no loss/dup)."""

import shutil

from pyspark.sql import functions as F
from pyspark.sql import types as T

from dataflow_python_etl_spark.sources.catalog import read_table
from dataflow_python_etl_spark.streaming.pipeline import EVENTS_SCHEMA, read_event_stream

SF_DIR = "/root/testdata/sf0.001"


def test_jsonl_roundtrip_and_corrupt_capture(spark, tmp_path):
    p = tmp_path / "events.jsonl"
    lines = [
        '{"event_id": 1, "ts": "2024-01-01T00:00:00", "user_id": 7, "event_type": "view", "value": 1.5, "props": "{}"}',
        '{"event_id": 2, "ts": "2024-01-01T00:01:00", "user_id": 7, "event_type": "click", "value": 2.5, "props": "{}"}',
        "THIS IS NOT JSON",
    ]
    p.write_text("\n".join(lines) + "\n")
    schema = T.StructType(
        EVENTS_SCHEMA.fields + [T.StructField("_corrupt_record", T.StringType())]
    )
    df = (
        spark.read.schema(schema)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt_record")
        .json(str(p))
    )
    rows = df.collect()
    assert len(rows) == 3
    good = [r for r in rows if r["_corrupt_record"] is None]
    bad = [r for r in rows if r["_corrupt_record"] is not None]
    assert {r["event_id"] for r in good} == {1, 2}
    assert len(bad) == 1 and bad[0]["event_id"] is None


def test_checkpointed_file_sink_resumes(spark, tmp_path):
    src = str(tmp_path / "in")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    ev = read_table(spark, SF_DIR, "events")
    first, second = (
        ev.where(F.col("event_id") < 500),
        ev.where(F.col("event_id") >= 500),
    )
    first.write.parquet(src)

    def run_once():
        q = (
            read_event_stream(spark, src)
            .select("event_id", "user_id", "value")
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .start()
        )
        q.processAllAvailable()
        q.stop()

    run_once()
    n1 = spark.read.parquet(out).count()
    assert n1 == first.count()
    # new files arrive; a RESTARTED query picks up only the delta
    second.write.mode("append").parquet(src)
    run_once()
    got = spark.read.parquet(out)
    assert got.count() == ev.count()  # no loss
    assert got.select("event_id").distinct().count() == ev.count()  # no dups
    shutil.rmtree(src, ignore_errors=True)
