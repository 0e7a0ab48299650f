"""Streaming pipelines: drain the events table through a file-source
stream and check the windowed agg against its oracle-verified batch
twin (q37)."""

import shutil

import pytest

from dataflow_python_etl_spark.streaming.pipeline import (
    read_event_stream,
    run_to_memory_sink,
    sessionized,
    windowed_counts,
)
from dataflow_python_etl_spark.sources.catalog import read_table

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def event_drop(spark, tmp_path_factory):
    """Re-materialize events as a micro-precision parquet drop dir
    (the raw file is nanos, which the streaming source can't map)."""
    path = str(tmp_path_factory.mktemp("events_stream") / "drop")
    read_table(spark, SF_DIR, "events").write.parquet(path)
    yield path
    shutil.rmtree(path, ignore_errors=True)


def test_windowed_counts_matches_batch(spark, event_drop):
    stream = read_event_stream(spark, event_drop)
    assert stream.isStreaming
    run_to_memory_sink(windowed_counts(stream), "win_counts")
    got = {
        (r["window_start"], r["event_type"]): (r["n"], r["total_value"])
        for r in spark.table("win_counts").collect()
    }

    from dataflow_python_etl_spark.queries import QUERIES

    batch = QUERIES["q31_stream_windows"].fn(spark, SF_DIR).collect()
    import datetime

    want = {
        (datetime.datetime.utcfromtimestamp(r["window_start_epoch"]), r["event_type"]): (
            r["n"],
            r["total_value"],
        )
        for r in batch
        if r["kind"] == "tumbling"
    }
    assert got == want


def test_sessionized_stream_runs(spark, event_drop):
    stream = read_event_stream(spark, event_drop)
    run_to_memory_sink(sessionized(stream), "sessions")
    rows = spark.table("sessions").collect()
    assert len(rows) > 0
    # session windows are disjoint per user and end > start
    assert all(r["session_end"] > r["session_start"] for r in rows)
    # total events across sessions == total input events
    assert sum(r["n_events"] for r in rows) == read_table(spark, SF_DIR, "events").count()


def test_stateful_running_stats(spark, event_drop):
    """applyInPandasWithState accumulates across micro-batches and the
    final state matches a batch groupBy."""
    from pyspark.sql import functions as F

    from dataflow_python_etl_spark.streaming.stateful import running_user_stats

    import time

    want = {
        r["user_id"]: (r["n"], r["tv"])
        for r in read_table(spark, SF_DIR, "events")
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n"), F.round(F.sum("value"), 2).alias("tv"))
        .collect()
    }
    stream = read_event_stream(spark, event_drop)
    q = (
        running_user_stats(stream)
        .writeStream.format("memory")
        .queryName("running_stats")
        .outputMode("update")
        .start()
    )
    # With ProcessingTimeTimeout the engine keeps scheduling no-data
    # "cleaning up state" batches, so processAllAvailable() never
    # quiesces — poll the sink until the expected totals appear.
    # memory sink in update mode appends each update; the LAST row per
    # user is the final state
    got = {}
    deadline = time.time() + 120
    while time.time() < deadline:
        got = {
            r["user_id"]: (r["n_events"], r["total_value"])
            for r in spark.table("running_stats").collect()
        }
        if got == want:
            break
        time.sleep(1)
    q.stop()
    assert got == want


def test_stream_upsert_to_table(spark, tmp_path):
    """foreachBatch CDC: later micro-batches overwrite same-keyed rows."""
    import os

    from dataflow_python_etl_spark.streaming.pipeline import (
        EVENTS_SCHEMA,
        read_event_stream,
        stream_upsert_to_table,
    )

    src = str(tmp_path / "in")
    table = str(tmp_path / "state_table")
    ckpt = str(tmp_path / "ckpt")
    ev = read_table(spark, SF_DIR, "events")
    # batch 1: original rows for users; batch 2 (same keys): bumped values
    ev.limit(200).coalesce(1).write.parquet(src)
    q = stream_upsert_to_table(
        read_event_stream(spark, src), table, ["event_id"], ckpt
    )
    q.processAllAvailable()
    q.stop()
    n1 = spark.read.parquet(table).count()
    assert n1 == 200

    from pyspark.sql import functions as F

    ev.limit(50).withColumn("value", F.lit(-1.0)).coalesce(1).write.mode("append").parquet(src)
    q = stream_upsert_to_table(
        read_event_stream(spark, src), table, ["event_id"], ckpt
    )
    q.processAllAvailable()
    q.stop()
    out = spark.read.parquet(table)
    assert out.count() == 200  # upsert, not append
    assert out.where(F.col("value") == -1.0).count() == 50


def test_rate_source_trigger_and_watermark(spark):
    """e2e over the unbounded rate-micro-batch source: micro-batches
    fire on the processing-time trigger, event time advances 1 min per
    batch, and the watermarked tumbling agg emits finalized windows."""
    import time

    from dataflow_python_etl_spark.streaming.pipeline import rate_event_stream

    events = rate_event_stream(spark, rows_per_batch=300, advance_ms_per_batch=60_000)
    agg = windowed_counts(events, window="1 minute", watermark="0 seconds")
    q = (
        agg.writeStream.format("memory")
        .queryName("rate_win")
        .outputMode("append")  # append emits only watermark-finalized windows
        .trigger(processingTime="200 milliseconds")
        .start()
    )
    try:
        deadline = time.time() + 60
        while time.time() < deadline:
            if spark.table("rate_win").count() > 0:
                break
            time.sleep(0.5)
        rows = spark.table("rate_win").collect()
        assert rows, "no finalized windows emitted from the rate source"
        # each batch is one full 1-min window of 300 rows split across
        # the 3 generated event types
        by_window = {}
        for r in rows:
            by_window.setdefault(r["window_start"], 0)
            by_window[r["window_start"]] += r["n"]
        assert all(n == 300 for n in by_window.values()), by_window
        p = q.lastProgress
        assert p is not None and p["sources"][0]["numInputRows"] >= 0
    finally:
        q.stop()


def test_stream_cdc_to_table_ops(spark, tmp_path):
    """Op-coded CDC: I inserts, U updates, D deletes, per micro-batch."""
    from pyspark.sql import types as T

    from dataflow_python_etl_spark.streaming.pipeline import stream_cdc_to_table

    schema = T.StructType([
        T.StructField("id", T.LongType()),
        T.StructField("val", T.StringType()),
        T.StructField("op", T.StringType()),
    ])
    src = str(tmp_path / "cdc_in")
    table = str(tmp_path / "cdc_table")
    ckpt = str(tmp_path / "cdc_ckpt")

    spark.createDataFrame(
        [(1, "a", "I"), (2, "b", "I"), (3, "c", "I")], schema
    ).coalesce(1).write.parquet(src)
    q = stream_cdc_to_table(
        spark.readStream.schema(schema).parquet(src), table, ["id"], ckpt
    )
    q.processAllAvailable(); q.stop()
    assert {r["id"]: r["val"] for r in spark.read.parquet(table).collect()} == {
        1: "a", 2: "b", 3: "c"
    }

    # next batch: update 1, delete 2, insert 4, delete-nonexistent 9 (no-op)
    spark.createDataFrame(
        [(1, "a2", "U"), (2, None, "D"), (4, "d", "I"), (9, None, "D")], schema
    ).coalesce(1).write.mode("append").parquet(src)
    q = stream_cdc_to_table(
        spark.readStream.schema(schema).parquet(src), table, ["id"], ckpt
    )
    q.processAllAvailable(); q.stop()
    out = {r["id"]: r["val"] for r in spark.read.parquet(table).collect()}
    assert out == {1: "a2", 3: "c", 4: "d"}


def _cdc_schema():
    from pyspark.sql import types as T

    return T.StructType([
        T.StructField("id", T.LongType()),
        T.StructField("val", T.StringType()),
        T.StructField("op", T.StringType()),
    ])


def test_stream_cdc_checkpoint_recovery_exactly_once(spark, tmp_path):
    """Kill-and-resume: crash AFTER a batch's table swap but BEFORE
    its checkpoint commit (the at-least-once window) — simulated by
    deleting the newest commit marker — must leave the table equal to
    the batch twin after restart. The replayed merge re-applies the
    same ops against the already-updated table: idempotent by key."""
    import os

    from dataflow_python_etl_spark.operators.upsert import merge_df
    from dataflow_python_etl_spark.streaming.pipeline import stream_cdc_to_table
    from pyspark.sql import functions as F

    schema = _cdc_schema()
    src = str(tmp_path / "ck_in")
    table = str(tmp_path / "ck_table")
    ckpt = str(tmp_path / "ck_ckpt")
    batches = [
        [(1, "a", "I"), (2, "b", "I")],
        [(1, "a2", "U"), (3, "c", "I")],
        [(2, None, "D"), (4, "d", "I")],
    ]
    for i, rows in enumerate(batches):
        spark.createDataFrame(rows, schema).coalesce(1).write.mode("append").parquet(src)

    def _stream():
        return (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)  # one source file per micro-batch
            .parquet(src)
        )

    q = stream_cdc_to_table(_stream(), table, ["id"], ckpt)
    q.processAllAvailable(); q.stop()

    # batch twin: the same merges applied in batch mode
    expected = spark.createDataFrame(batches[0], schema).select("id", "val")
    for rows in batches[1:]:
        s = spark.createDataFrame(rows, schema)
        expected = merge_df(
            expected, s, ["id"],
            when_matched_update={"val": F.col("s.val")},
            when_matched_delete_condition=F.col("s.op") == "D",
            when_not_matched_insert={"id": F.col("s.id"), "val": F.col("s.val")},
            when_not_matched_insert_condition=F.col("s.op") != "D",
        )
    want = {r["id"]: r["val"] for r in expected.collect()}
    assert {r["id"]: r["val"] for r in spark.read.parquet(table).collect()} == want

    # crash window: the newest batch applied to the table, its commit
    # marker lost — restart MUST replay it without corrupting the table
    commits = sorted(os.listdir(os.path.join(ckpt, "commits")))
    newest = [c for c in commits if not c.startswith(".")][-1]
    os.remove(os.path.join(ckpt, "commits", newest))
    crc = os.path.join(ckpt, "commits", f".{newest}.crc")
    if os.path.exists(crc):  # local-FS checksum sidecar would block the rewrite
        os.remove(crc)
    q = stream_cdc_to_table(_stream(), table, ["id"], ckpt)
    q.processAllAvailable(); q.stop()
    assert {r["id"]: r["val"] for r in spark.read.parquet(table).collect()} == want


def test_stream_cdc_restart_restores_mid_swap_backup(spark, tmp_path):
    """A sink restarted after a crash INSIDE swap_table_dir's rename
    window (table moved to .__bak_*, tmp never moved in) must restore
    the backup — not merge the batch into an 'empty' table and drop
    every prior row."""
    import os

    from dataflow_python_etl_spark.streaming.pipeline import stream_cdc_to_table

    schema = _cdc_schema()
    src = str(tmp_path / "rb_in")
    table = str(tmp_path / "rb_table")
    ckpt = str(tmp_path / "rb_ckpt")
    spark.createDataFrame([(1, "a", "I"), (2, "b", "I")], schema).coalesce(1).write.parquet(src)
    q = stream_cdc_to_table(spark.readStream.schema(schema).parquet(src), table, ["id"], ckpt)
    q.processAllAvailable(); q.stop()

    # simulate the crash window: old table renamed aside, no new table
    os.rename(table, f"{table}.__bak_deadbeef")
    spark.createDataFrame([(3, "c", "I")], schema).coalesce(1).write.mode("append").parquet(src)
    q = stream_cdc_to_table(spark.readStream.schema(schema).parquet(src), table, ["id"], ckpt)
    q.processAllAvailable(); q.stop()
    out = {r["id"]: r["val"] for r in spark.read.parquet(table).collect()}
    assert out == {1: "a", 2: "b", 3: "c"}  # prior rows survived the crash


def test_stream_cdc_restart_missing_table_fails_loudly(spark, tmp_path):
    """Restart past batch 0 with the table gone and NO backup must
    refuse to rebuild the table from a single batch."""
    import shutil

    import pytest

    from dataflow_python_etl_spark.streaming.pipeline import stream_cdc_to_table

    schema = _cdc_schema()
    src = str(tmp_path / "rm_in")
    table = str(tmp_path / "rm_table")
    ckpt = str(tmp_path / "rm_ckpt")
    spark.createDataFrame([(1, "a", "I")], schema).coalesce(1).write.parquet(src)
    q = stream_cdc_to_table(spark.readStream.schema(schema).parquet(src), table, ["id"], ckpt)
    q.processAllAvailable(); q.stop()

    shutil.rmtree(table)
    spark.createDataFrame([(2, "b", "I")], schema).coalesce(1).write.mode("append").parquet(src)
    q = stream_cdc_to_table(spark.readStream.schema(schema).parquet(src), table, ["id"], ckpt)
    with pytest.raises(Exception, match="refusing to rebuild"):
        q.processAllAvailable()
    q.stop()


def test_stream_cdc_conflicting_ops_fail_loudly(spark, tmp_path):
    """Two ops for one key in one batch must error, not apply an
    arbitrary winner (replays could pick differently)."""
    import pytest
    from pyspark.sql import types as T

    from dataflow_python_etl_spark.streaming.pipeline import stream_cdc_to_table

    schema = T.StructType([
        T.StructField("id", T.LongType()),
        T.StructField("val", T.StringType()),
        T.StructField("op", T.StringType()),
    ])
    src = str(tmp_path / "dup_in")
    spark.createDataFrame([(7, "x", "I"), (7, None, "D")], schema).coalesce(1).write.parquet(src)
    q = stream_cdc_to_table(
        spark.readStream.schema(schema).parquet(src),
        str(tmp_path / "dup_table"), ["id"], str(tmp_path / "dup_ckpt"),
    )
    with pytest.raises(Exception, match="multiple source rows"):
        q.processAllAvailable()
    q.stop()


def _poll_parquet_ids(spark, path, col, want, timeout=120, q=None):
    """Bounded sink polling (the repo's streaming-test rule),
    delegated to the shared INSTRUMENTED helper: pass ``q`` (the
    live StreamingQuery) so the loop re-triggers the source listing
    and a timeout raises with the query's status + recent progress —
    the round-6/8 flake class then self-diagnoses instead of
    printing a bare list mismatch (VERDICT r8 #2)."""
    from tests.streaming_poll import await_sink

    return await_sink(spark, q, path, col, want, timeout=timeout)


def test_stream_dedup_ingest_online_filtering(spark, tmp_path):
    """Continuous corpus ingestion: in-batch dups, cross-batch dups
    (vs the persisted corpus/index), and id-order-independent removal
    of new docs that match the immutable corpus."""
    from dataflow_python_etl_spark.streaming.pipeline import stream_dedup_ingest

    schema = "doc_id: long, text: string"
    mk = lambda *rows: spark.createDataFrame(list(rows), schema)  # noqa: E731
    texts = {
        "a": "the quick brown fox jumps over the lazy dog near the old river bank today",
        "b": "completely different words describe an unrelated subject in every single token here now",
        "c": "yet another fully distinct sentence carrying no overlap with previous documents at all",
        "d": "a fourth unique passage whose shingles match nothing else in the corpus stream",
    }
    src = str(tmp_path / "docs_in")
    corpus = str(tmp_path / "corpus")
    index = str(tmp_path / "index")
    ckpt = str(tmp_path / "ckpt")

    # batch 1: doc 2 is an in-batch copy of doc 1
    mk((1, texts["a"]), (2, texts["a"]), (3, texts["b"])).coalesce(1).write.parquet(src)
    q = stream_dedup_ingest(
        spark.readStream.schema("doc_id long, text string").parquet(src),
        corpus,
        index,
        ckpt,
    )
    q.processAllAvailable()
    assert _poll_parquet_ids(spark, corpus, "doc_id", [1, 3], q=q) == [1, 3]

    # batch 2: 11 copies corpus doc 3 (cross-batch dup), 12 unique,
    # 13 copies 12 in-batch. Also 0 copies corpus doc 1 despite having
    # a LOWER id than every corpus doc — must still be dropped.
    mk(
        (0, texts["a"]), (11, texts["b"]), (12, texts["c"]), (13, texts["c"])
    ).coalesce(1).write.mode("append").parquet(src)
    q.processAllAvailable()
    assert _poll_parquet_ids(spark, corpus, "doc_id", [1, 3, 12], q=q) == [1, 3, 12]

    # batch 3: replayed ids (already ingested) are anti-joined away,
    # fresh non-dup doc lands; the sorted-list poll also pins the
    # replay guard (a duplicate corpus row would show as a 5th entry)
    mk((12, texts["c"]), (14, texts["d"])).coalesce(1).write.mode("append").parquet(src)
    q.processAllAvailable()
    got3 = _poll_parquet_ids(spark, corpus, "doc_id", [1, 3, 12, 14], q=q)
    q.stop()
    assert got3 == [1, 3, 12, 14]

    # the persisted index covers exactly the corpus survivors
    assert {r["doc"] for r in spark.read.parquet(index).collect()} == {1, 3, 12, 14}


def test_stream_dedup_ingest_refuses_missing_corpus_on_restart(spark, tmp_path):
    """A restarted dedup-ingest sink whose corpus dir vanished must
    fail loudly, not rebuild the corpus from one batch."""
    import shutil

    from dataflow_python_etl_spark.streaming.pipeline import stream_dedup_ingest

    text = "some long enough unique sentence with plenty of distinct tokens in it"
    src = str(tmp_path / "in")
    corpus = str(tmp_path / "corpus")
    index = str(tmp_path / "index")
    ckpt = str(tmp_path / "ckpt")
    spark.createDataFrame([(1, text)], "doc_id: long, text: string").coalesce(1).write.parquet(src)
    q = stream_dedup_ingest(
        spark.readStream.schema("doc_id long, text string").parquet(src),
        corpus,
        index,
        ckpt,
    )
    q.processAllAvailable()
    q.stop()
    shutil.rmtree(corpus)
    spark.createDataFrame([(2, text + " two")], "doc_id: long, text: string").coalesce(1).write.mode(
        "append"
    ).parquet(src)
    q = stream_dedup_ingest(
        spark.readStream.schema("doc_id long, text string").parquet(src),
        corpus,
        index,
        ckpt,
    )
    try:
        q.processAllAvailable()
        raise AssertionError("expected the restarted sink to fail")
    except Exception as e:
        assert "refusing to rebuild" in str(e)
    finally:
        q.stop()


def test_streaming_count_min_parity(spark, event_drop):
    """The streaming sketch after draining all drops is cell-for-cell
    the batch sketch over the same events — mergeability is the
    streaming-state contract, so a plain streaming aggregation
    suffices (no custom stateful operator)."""
    from pyspark.sql import functions as F

    from dataflow_python_etl_spark.operators.sketches import (
        count_min_sketch,
        streaming_count_min,
    )

    items_batch = read_table(spark, SF_DIR, "events").select(
        F.col("event_type").alias("item")
    )
    want = {
        (r["row"], r["col"]): r["cnt"]
        for r in count_min_sketch(items_batch, width=64).collect()
    }
    stream = read_event_stream(spark, event_drop, max_files_per_trigger=1)
    sketch = streaming_count_min(
        stream.select(F.col("event_type").alias("item")), width=64
    )
    run_to_memory_sink(sketch, "cms_stream")
    got = {
        (r["row"], r["col"]): r["cnt"]
        for r in spark.table("cms_stream").collect()
    }
    assert got == want and len(got) > 0


def test_streaming_hll_parity(spark, event_drop):
    """Register-for-register parity: the streamed HLL register table
    after draining all drops equals the batch build — max per bucket
    is the merge law and the streaming-state update at once."""
    from pyspark.sql import functions as F

    from dataflow_python_etl_spark.operators.sketches import (
        hll_registers,
        streaming_hll_registers,
    )

    batch_items = read_table(spark, SF_DIR, "events").select(
        F.concat(F.lit("u"), F.col("user_id").cast("string")).alias("item")
    )
    want = {
        r["bucket"]: r["rho"] for r in hll_registers(batch_items, p=6).collect()
    }
    stream = read_event_stream(spark, event_drop, max_files_per_trigger=1)
    regs = streaming_hll_registers(
        stream.select(
            F.concat(F.lit("u"), F.col("user_id").cast("string")).alias("item")
        ),
        p=6,
    )
    run_to_memory_sink(regs, "hll_stream")
    got = {
        r["bucket"]: r["rho"] for r in spark.table("hll_stream").collect()
    }
    assert got == want and len(got) > 0


def test_stream_stream_conversion_join_matches_batch(spark, event_drop):
    """The stream-stream inner join (watermarked both sides, time-
    bounded condition) must emit exactly the batch twin's pairs —
    q137's oracle-checked frame — when the whole drop is drained."""
    from dataflow_python_etl_spark.streaming.pipeline import (
        conversion_join,
        read_event_stream,
    )

    stream = read_event_stream(spark, event_drop)
    joined = conversion_join(stream)
    assert joined.isStreaming
    q = (
        joined.writeStream.format("memory")
        .queryName("conv_pairs")
        .outputMode("append")
        .start()
    )
    q.processAllAvailable()
    q.stop()
    got = {
        (r["user_id"], r["trigger_id"], r["conv_id"], r["lag_seconds"])
        for r in spark.table("conv_pairs").collect()
    }
    batch = conversion_join(read_table(spark, SF_DIR, "events"))
    want = {
        (r["user_id"], r["trigger_id"], r["conv_id"], r["lag_seconds"])
        for r in batch.collect()
    }
    assert got == want and len(want) > 0


def test_stream_stream_conversion_join_guard():
    import pytest

    from dataflow_python_etl_spark.streaming.pipeline import conversion_join

    with pytest.raises(ValueError, match="window_minutes"):
        conversion_join(None, window_minutes=0)


def test_stream_dedup_ingest_dsir_gate(spark, tmp_path):
    """The online DSIR target-likeness gate: a frozen weight table
    (fit offline on a labeled pool) drops off-target batch docs
    BEFORE signing — they never reach the index or corpus — while
    target-like docs ingest normally; tokenless docs are dropped (a
    quality gate requires evidence). Survivors must equal the batch
    computation with the same weights and threshold."""
    from pyspark.sql import functions as F

    from dataflow_python_etl_spark.operators.lm import (
        dsir_score_with,
        dsir_weight_table,
    )
    from dataflow_python_etl_spark.streaming.pipeline import stream_dedup_ingest

    pool = spark.createDataFrame(
        [
            (100, "spark shuffle partition join broadcast agg", True),
            (101, "partition join spark broadcast codegen stage", True),
            (102, "recipe butter flour sugar oven bake", False),
            (103, "soccer goal referee penalty match", False),
        ],
        "doc_id: long, text: string, is_t: boolean",
    )
    B = 256
    weights = dsir_weight_table(pool, F.col("is_t"), buckets=B)

    batch1 = [
        (1, "spark join broadcast partition stage plan"),   # target-like
        (2, "butter sugar oven bake flour recipe whisk"),   # off-target
        (3, "shuffle agg codegen spark partition join"),    # target-like
    ]
    batch2 = [
        (11, "penalty referee match goal soccer corner"),   # off-target
        (12, "broadcast codegen shuffle stage spark agg"),  # target-like
        (13, None),                                         # tokenless
    ]
    src = str(tmp_path / "docs_in")
    corpus = str(tmp_path / "corpus")
    index = str(tmp_path / "index")
    spark.createDataFrame(batch1, "doc_id: long, text: string").coalesce(1).write.parquet(src)
    q = stream_dedup_ingest(
        spark.readStream.schema("doc_id long, text string").parquet(src),
        corpus,
        index,
        str(tmp_path / "ckpt"),
        n=2,
        dsir_weights=weights,
        min_dsir_ppm=1_000_000,
        dsir_buckets=B,
    )
    q.processAllAvailable()
    got1 = sorted(r["doc_id"] for r in spark.read.parquet(corpus).collect())
    spark.createDataFrame(batch2, "doc_id: long, text: string").coalesce(1).write.mode(
        "append"
    ).parquet(src)
    q.processAllAvailable()
    got2 = sorted(r["doc_id"] for r in spark.read.parquet(corpus).collect())
    q.stop()

    # batch-parity: the same gate applied offline
    all_docs = spark.createDataFrame(
        batch1 + batch2, "doc_id: long, text: string"
    )
    want = sorted(
        r["doc_id"]
        for r in dsir_score_with(all_docs, weights, buckets=B)
        .where(F.col("dsir_score_ppm") >= F.lit(1_000_000) * F.col("n_grams"))
        .collect()
    )
    assert got2 == want
    assert set(got1) <= set(got2)
    assert 2 not in got2 and 11 not in got2  # off-target dropped online
    assert 13 not in got2  # tokenless: no evidence, no ingest
    # gated docs never reached the index either (band rows key "doc")
    idx_ids = {r["doc"] for r in spark.read.parquet(index).collect()}
    assert idx_ids == set(got2)
