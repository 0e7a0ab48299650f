"""Streaming event analytics: watermarked windowed aggregation and
stateful sessionization over an ``events``-shaped stream.

The reference is batch-only (SURVEY.md §1.1/§2.3); this module is the
Structured Streaming twin of queries q31_stream_windows (tumbling/
hopping) and q32_sessionize. The batch versions are oracle-verified; these share the
same aggregation expressions, so the streaming correctness burden is
the windowing/watermark plumbing, covered by tests/test_streaming.py
using a file source + one processAllAvailable micro-batch.

Scale notes: state for the windowed agg is bounded by the watermark
(late events beyond 10 min are dropped); sessionization uses
``applyInPandasWithState`` with per-user state and event-time timeout
— per-key state, shuffled by user_id, no driver involvement.
"""

from __future__ import annotations

from typing import Callable, NamedTuple

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

EVENTS_SCHEMA = T.StructType(
    [
        T.StructField("event_id", T.LongType()),
        T.StructField("ts", T.TimestampType()),
        T.StructField("user_id", T.LongType()),
        T.StructField("event_type", T.StringType()),
        T.StructField("value", T.DoubleType()),
        T.StructField("props", T.StringType()),
    ]
)


def read_event_stream(
    spark: SparkSession, path: str, max_files_per_trigger: int | None = None
) -> DataFrame:
    """File-based event stream (one parquet/json drop per micro-batch).
    On a real deployment this would be a Kafka source; the
    transformation chain below is source-agnostic.

    ``max_files_per_trigger`` caps each micro-batch: without it, batch 0
    of a recovery/backfill is the ENTIRE backlog in one batch — one
    giant shuffle and (for the CDC sink) one giant upsert. Set it so a
    batch's state delta fits executor memory at the deployed scale.
    """
    reader = spark.readStream.schema(EVENTS_SCHEMA)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return reader.parquet(path)


def rate_event_stream(
    spark: SparkSession,
    rows_per_batch: int = 1000,
    advance_ms_per_batch: int = 60_000,
) -> DataFrame:
    """Synthetic unbounded ``events``-shaped stream from the built-in
    ``rate-micro-batch`` source — exercises the trigger/backpressure
    path that a file source (whose batches are whatever files appear)
    cannot: every trigger emits exactly ``rows_per_batch`` rows and
    advances event time by ``advance_ms_per_batch``, so watermark
    progression and state eviction happen deterministically.

    The generated columns are pure JVM expressions over the source's
    (timestamp, value) — no Python in the per-row path.
    """
    rate = (
        spark.readStream.format("rate-micro-batch")
        .option("rowsPerBatch", rows_per_batch)
        .option("startTimestamp", 0)
        .option("advanceMillisPerBatch", advance_ms_per_batch)
        .load()
    )
    return rate.select(
        F.col("value").alias("event_id"),
        F.col("timestamp").alias("ts"),
        F.pmod(F.col("value"), F.lit(100)).alias("user_id"),
        F.element_at(
            F.array(F.lit("view"), F.lit("click"), F.lit("purchase")),
            (F.pmod(F.col("value"), F.lit(3)) + 1).cast("int"),
        ).alias("event_type"),
        (F.pmod(F.col("value") * 37, F.lit(1000)) / 10.0).alias("value"),
        F.to_json(F.struct(F.col("value").alias("seq"))).alias("props"),
    )


def windowed_counts(
    events: DataFrame,
    window: str = "1 hour",
    watermark: str = "10 minutes",
) -> DataFrame:
    """Tumbling-window count/sum per event_type with late-data bound.

    Streaming twin of q31_stream_windows (tumbling branch) (same agg expressions).
    """
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window).alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"), F.round(F.sum("value"), 2).alias("total_value"))
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "event_type",
            "n",
            "total_value",
        )
    )


def sessionized(events: DataFrame, gap: str = "5 minutes") -> DataFrame:
    """Session windows per user via the built-in session_window —
    state bounded by watermark; streaming twin of q32_sessionize."""
    return (
        events.withWatermark("ts", "10 minutes")
        .groupBy(F.session_window("ts", gap).alias("w"), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"), F.round(F.sum("value"), 2).alias("session_value"))
        .select(
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "user_id",
            "n_events",
            "session_value",
        )
    )


def run_to_memory_sink(stream_df: DataFrame, name: str) -> None:
    """Drain all available input into an in-memory table (tests)."""
    q = (
        stream_df.writeStream.format("memory")
        .queryName(name)
        .outputMode("complete")
        .start()
    )
    q.processAllAvailable()
    q.stop()


def stream_upsert_to_table(
    stream_df: DataFrame,
    table_path: str,
    key_cols: list[str],
    checkpoint: str,
) -> "pyspark.sql.streaming.StreamingQuery":  # noqa: F821
    """Streaming CDC: upsert each micro-batch into a parquet table via
    ``foreachBatch`` + the batch MERGE operator.

    ``foreachBatch`` gives exactly-once-per-batch semantics through the
    checkpoint (a replayed batch re-applies the same upsert, which is
    idempotent by key), and reuses ALL batch operators — the streaming
    twin of the reference's truncate-reload sink, but incremental.
    """
    from dataflow_python_etl_spark.operators.upsert import (
        _guard_missing_table,
        upsert_table,
    )

    def apply_batch(batch_df: DataFrame, batch_id: int) -> None:
        import os

        spark = batch_df.sparkSession
        deduped = batch_df.dropDuplicates(key_cols)
        _guard_missing_table(table_path, batch_id, "stream_upsert_to_table")
        if not os.path.exists(table_path):
            deduped.write.parquet(table_path)
        else:
            upsert_table(spark, table_path, deduped, key_cols)

    return (
        stream_df.writeStream.foreachBatch(apply_batch)
        .option("checkpointLocation", checkpoint)
        .outputMode("update")
        .start()
    )


def stream_cdc_to_table(
    stream_df: DataFrame,
    table_path: str,
    key_cols: list[str],
    checkpoint: str,
    op_col: str = "op",
) -> "pyspark.sql.streaming.StreamingQuery":  # noqa: F821
    """Op-coded CDC apply: each micro-batch carries rows tagged
    ``op in ('I','U','D')`` (the Debezium/binlog shape); inserts and
    updates MERGE in, deletes remove the keyed row. Built on
    ``operators.upsert.merge_df``, so the per-batch plan is one
    full-outer join with AQE sizing — no driver-side state.

    A batch with two ops for one key FAILS LOUDLY (merge_df's
    duplicate-source-key guard): silently picking one-of-N would apply
    a nondeterministic op and different replays of the same
    checkpointed batch could pick differently. A binlog-shaped source
    is per-key ordered — collapse to the latest op per key upstream
    (with the log's sequence column, which this engine cannot invent)
    before the sink. Replaying a batch re-applies the same merge:
    idempotent by key. Batch 0 goes through the same merge against an
    empty table, so the guard holds from the first batch.
    """
    from pyspark.sql import functions as F

    from dataflow_python_etl_spark.operators.upsert import (
        _guard_missing_table,
        merge_df,
        write_and_swap,
    )

    def apply_batch(batch_df: DataFrame, batch_id: int) -> None:
        import os

        spark = batch_df.sparkSession
        data_cols = [c for c in batch_df.columns if c != op_col]
        _guard_missing_table(table_path, batch_id, "stream_cdc_to_table")
        if os.path.exists(table_path):
            existing = spark.read.parquet(table_path)
        else:
            existing = batch_df.select(*data_cols).where(F.lit(False))
        merged = merge_df(
            existing,
            batch_df,
            key_cols,
            when_matched_update={
                c: F.col(f"s.{c}") for c in data_cols if c not in key_cols
            },
            when_matched_delete_condition=F.col(f"s.{op_col}") == "D",
            when_not_matched_insert={c: F.col(f"s.{c}") for c in data_cols},
            when_not_matched_insert_condition=F.col(f"s.{op_col}") != "D",
        )
        write_and_swap(merged, table_path)

    return (
        stream_df.writeStream.foreachBatch(apply_batch)
        .option("checkpointLocation", checkpoint)
        .outputMode("update")
        .start()
    )


def _guard_replay(
    batch: DataFrame,
    corpus: DataFrame,
    id_col: str,
    replay_guard: str,
    wm: dict | None,
) -> DataFrame:
    """Drop already-ingested ids from a micro-batch.

    ``anti_join``: correct for arbitrary ids, but the guard itself
    scans the corpus's id column every batch — a cost that grows with
    the corpus forever. ``watermark``: when ids are monotone, the same
    guarantee is a pure JVM filter against the last committed
    ``max_id`` — the returned plan never references the corpus at all
    (plan-pinned in tests/test_ingest_watermark.py: zero exchanges,
    no corpus scan).
    """
    if replay_guard == "watermark":
        if wm is not None:
            return batch.where(F.col(id_col) > F.lit(wm["max_id"]))
        return batch
    return batch.join(corpus, id_col, "left_anti")


def _ingest_single_row(
    stream_df: DataFrame,
    kind: str,
    corpus_path: str,
    checkpoint: str,
    id_col: str,
    payload_col: str,
    replay_guard: str,
    index_exists,
    rebuild_index,
    probe,
    gate=None,
) -> "pyspark.sql.streaming.StreamingQuery":  # noqa: F821
    """The one crash-safe skeleton behind every single-row near-dup
    ingest sink (text, image/audio phash, video/audio/text set
    fingerprints). Per micro-batch: refuse a restart whose corpus
    vanished, no-op a fully committed replay, ``gate`` the batch,
    drop already-ingested ids (:func:`_guard_replay`), rebuild a lost
    index FROM the corpus and persist it before use, ``probe``, drop
    the new side of every pair, then commit index → corpus →
    watermark. A modality supplies only what differs:

    - ``index_exists(spark) -> bool`` and ``rebuild_index(spark,
      corpus)`` (the full-corpus rebuild, written before it is read —
      a partial index would silently blind every later batch to every
      pre-loss corpus item: the poisoned-index failure mode);
    - ``probe(spark, batch, corpus) -> (pairs, append_index)``:
      ``pairs`` carries ``(doc_a, doc_b)`` with doc_a < doc_b, every
      pair touching the batch (``corpus`` is None before the first
      commit: batch-only pairs); ``append_index(survivors)`` appends
      the survivors' index rows;
    - ``gate(batch) -> batch``: deterministic pre-probe filters.

    Decision rule: a batch item is dropped iff it pairs with anything
    already decided — an ingested item (either side of the pair; the
    corpus is immutable, so a lower-id newcomer still drops) or a
    lower-id item of its own batch (``doc_b`` of a new-new pair).

    Restart guard: a missing corpus at ``batch_id > 0`` with an index
    or watermark left behind FAILS loudly — batch_id alone is not
    evidence of prior ingestion (an empty batch 0 writes nothing),
    but the index is appended BEFORE the corpus, so any ingest leaves
    one of the two artifacts; silently rebuilding the corpus from one
    batch would lose every prior survivor and re-admit replayed ids.

    Crash safety (both guards): the index is appended FIRST, then the
    corpus, then (watermark mode) the watermark. A crash between
    index and corpus appends re-processes the batch: duplicate index
    rows only re-propose the same candidate pairs, which every probe
    absorbs (per-pair aggregation or a match-level ``distinct``), and
    identity pairs are excluded. A crash between corpus append and
    watermark write replays the batch against a corpus that already
    contains it; the replay converges to the identical survivor set
    and the corpus write is idempotent. ``replay_guard="watermark"``
    (monotone ids) swaps the corpus-sized anti-join for a pure filter
    against a tiny atomically-swapped watermark file and writes each
    batch's corpus rows as a DYNAMIC overwrite of its own
    ``ingest_batch=<id>`` partition, so a replay rewrites instead of
    appending; a replay arriving after the watermark committed
    (batch_id == recorded) is a pure no-op. foreachBatch is
    AT-LEAST-once: every write here is per-key idempotent or
    partition-overwritten, never an additive fold. Ids must be unique
    across the stream's lifetime."""
    import os

    from pyspark.sql import Observation

    from dataflow_python_etl_spark.operators.dedup import _cut, unpersist_all
    from dataflow_python_etl_spark.operators.upsert import _read_marker, _write_marker

    if replay_guard not in ("anti_join", "watermark"):
        raise ValueError(f"replay_guard must be anti_join|watermark, got {replay_guard!r}")
    wm_path = corpus_path + ".__ingest_watermark"

    def apply_batch(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        batch = batch_df.select(id_col, payload_col)
        if (
            not os.path.exists(corpus_path)
            and batch_id > 0
            and (index_exists(spark) or os.path.exists(wm_path))
        ):
            raise RuntimeError(
                f"{kind} restart at batch {batch_id} but corpus "
                f"{corpus_path} is missing — refusing to rebuild from a "
                "single batch; restore the corpus or start a fresh checkpoint."
            )
        wm = _read_marker(wm_path) if replay_guard == "watermark" else None
        if wm is not None and batch_id == wm["batch_id"]:
            return  # this exact batch fully committed — replay is a no-op
        if gate is not None:
            batch = gate(batch)
        corpus = None
        if os.path.exists(corpus_path):
            corpus = spark.read.parquet(corpus_path).select(id_col, payload_col)
            batch = _guard_replay(batch, corpus, id_col, replay_guard, wm)
            if not index_exists(spark):
                rebuild_index(spark, corpus)
        pairs, append_index = probe(spark, batch, corpus)
        if corpus is None:
            removals = pairs.select(F.col("doc_b").alias(id_col)).distinct()
        else:
            new_ids = batch.select(F.col(id_col).alias("__nid"))
            b_new = pairs.join(
                new_ids, pairs["doc_b"] == F.col("__nid"), "left_semi"
            ).select(F.col("doc_b").alias(id_col))
            a_new_b_corpus = (
                pairs.join(new_ids, pairs["doc_b"] == F.col("__nid"), "left_anti")
                .join(new_ids, pairs["doc_a"] == F.col("__nid"), "left_semi")
                .select(F.col("doc_a").alias(id_col))
            )
            removals = b_new.union(a_new_b_corpus).distinct()
        # watermark: the highest id this batch DECIDED (survivor or dup
        # — a dropped dup is a decision too; re-admitting it later would
        # flip it), observed on the survivor checkpoint's own job
        obs = Observation() if replay_guard == "watermark" else None
        decided = batch if obs is None else batch.observe(obs, F.max(id_col).alias("max_id"))
        # materialize before the appends so both writes see one
        # consistent survivor set (and the probe caches can be freed);
        # a registered cut, released with them below. The removal ids
        # are at most the batch's ids, so broadcast them: a cut is sized
        # by its source plan's estimate (huge after a join), and a
        # sort-merge plan would put `decided` in a shuffle stage that
        # AQE prunes, observation and all, when the batch is empty
        survivors = _cut(decided.join(F.broadcast(removals), id_col, "left_anti"))
        max_ingested = None
        if obs is not None:
            max_ingested = obs.get["max_id"]
            if max_ingested is None:
                # every id already covered by the watermark (source-level
                # replay): record completion, touch nothing else. An
                # empty FIRST batch (wm is None) has no watermark to
                # carry forward — skip the write rather than invent one.
                if wm is not None:
                    _write_marker(wm_path, {"batch_id": batch_id, "max_id": wm["max_id"]})
                unpersist_all()  # probe caches and cuts registered before the filter emptied
                return
        append_index(survivors)
        if replay_guard == "watermark":
            (
                survivors.withColumn("ingest_batch", F.lit(batch_id))
                .write.mode("overwrite")
                .option("partitionOverwriteMode", "dynamic")
                .partitionBy("ingest_batch")
                .parquet(corpus_path)
            )
            _write_marker(wm_path, {"batch_id": batch_id, "max_id": max_ingested})
        else:
            survivors.write.mode("append").parquet(corpus_path)
        unpersist_all()

    return (
        stream_df.writeStream.foreachBatch(apply_batch)
        .option("checkpointLocation", checkpoint)
        .outputMode("append")
        .start()
    )


def stream_dedup_ingest(
    stream_docs: DataFrame,
    corpus_path: str,
    index_path: str,
    checkpoint: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    num_perm: int = 32,
    rows_per_band: int = 4,
    threshold: float = 0.5,
    index_table: str | None = None,
    index_buckets: int = 32,
    replay_guard: str = "anti_join",
    decontaminate_against: DataFrame | None = None,
    decontaminate_min_overlap: int = 1,
    dsir_weights: DataFrame | None = None,
    min_dsir_ppm: int = 1_000_000,
    dsir_buckets: int = 1024,
    classifier_weights: DataFrame | None = None,
    classifier_min_margin: int = 0,
    classifier_buckets: int = 1024,
) -> "pyspark.sql.streaming.StreamingQuery":  # noqa: F821
    """Online near-dup-filtered corpus ingestion: each micro-batch of
    documents is deduped against the ALREADY-INGESTED corpus (and
    itself) via the persisted MinHash band index, and only survivors
    are appended — the streaming composition of
    :func:`~dataflow_python_etl_spark.operators.dedup.minhash_lsh_pairs_incremental`.

    The EXPENSIVE work per batch scales with the BATCH: signatures
    are computed for batch docs only, and verification re-shingles
    only HIT corpus docs (semi-join-pruned) — the corpus is never
    re-signed. The batch's band rows are derived ONCE per batch into
    a registered lineage cut (an eager ``localCheckpoint`` that
    ``unpersist_all`` frees after the batch): the same rows probe the
    index and, semi-joined with the survivors, are appended to it
    (survivors are never re-signed). The distinct candidates and the
    candidate docs' shingle sets are cuts too, and each candidate
    pair is verified directly on its two sets.
    Two knobs remove the remaining corpus-sized per-batch costs:

    - ``index_table``: persist the band index as a catalog table
      BUCKETED by (band, sig)
      (:class:`~dataflow_python_etl_spark.operators.dedup.BandIndexStore`).
      The probe then co-locates on the index's layout — only the
      batch's bands shuffle; the index side has no Exchange
      (plan-pinned in tests/test_band_index.py). ``index_path``
      becomes the external table's file location.
    - ``replay_guard="watermark"``: for MONOTONE doc ids, replace the
      corpus-sized replay anti-join with a pure filter
      ``id > max_ingested_id`` against a tiny atomically-swapped
      watermark file — no corpus scan at all in the guard
      (plan-pinned). Corpus appends go to a per-batch hive partition
      (``ingest_batch=<id>``) written with dynamic partition
      OVERWRITE, so a crash-replayed batch rewrites its own partition
      instead of appending duplicates; a replay arriving after the
      watermark committed (batch_id == recorded) is a pure no-op.

    Survivor rule matches the batch operators: a batch doc is dropped
    if it near-dups any ingested corpus doc, or an earlier (lower-id)
    doc in its own batch. ``decontaminate_against`` additionally drops
    any batch doc sharing ≥ ``decontaminate_min_overlap`` n-gram
    shingles with the supplied benchmark set BEFORE signing (the
    streaming twin of ``curate_corpus(decontaminate_against=…)``):
    the eval gram set is checkpointed once at stream build and each
    batch broadcast-joins it, so the gate's per-batch cost scales
    with the batch. ``dsir_weights`` (a frozen
    ``lm.dsir_weight_table`` frame) adds an online TARGET-LIKENESS
    gate: batch docs whose PER-GRAM MEAN ``lm.dsir_score_with`` score
    is under ``min_dsir_ppm`` are dropped before signing (integer
    cross-multiply — the raw score is a length-scaled sum; default
    threshold 1_000_000 = mean ratio 1: keep docs whose hashed-n-gram
    profile is net target-like). Docs with no tokens — NULL, empty,
    or whitespace-only text (``_gram_buckets`` drops zero-length
    tokens, so the '' split artifact never reaches the ''-gram
    bucket; ADVICE r8) — produce no score and are DROPPED by this
    gate (a quality gate requires evidence; "no evidence, no
    ingest"). ``classifier_weights`` (a frozen
    ``classifier.quality_classifier_fit`` table) adds the TRAINED
    quality gate — the streaming twin of
    ``curate_corpus(classifier_weights=…)``: batch docs are kept iff
    their hashed-linear ``margin > classifier_min_margin``, gramless
    docs dropped on the same no-evidence rule. All three gates are
    deterministic, so crash replays re-drop the same docs.

    Crash safety and the restart/replay guards are the shared
    :func:`_ingest_single_row` contract. Text specifics: duplicate
    index rows from a crash between index and corpus appends are
    harmless because they only repeat candidate pairs, which the
    probe's candidate ``distinct`` collapses, and the identity pairs
    they add (a doc against its own replayed rows) fail the probe's
    ``doc_a < doc_b``; a replay against a corpus that already holds
    the batch converges because the verification de-duplicates ids
    (see ``dedup._verify_pairs``).
    """
    import os

    from dataflow_python_etl_spark.operators.dedup import (
        BandIndexStore,
        _band_frame,
        _cut,
        _lsh_pairs_incremental,
        minhash_signatures,
    )

    # Streaming decontamination gate: the eval set's distinct gram set
    # is materialized ONCE at stream build (localCheckpoint — a plain
    # registered cache would be evicted by the per-batch
    # unpersist_all), then every batch broadcast-joins against it —
    # the per-batch cost scales with the batch, never the eval set.
    eval_grams = None
    if decontaminate_against is not None:
        from dataflow_python_etl_spark.functions.text import shingles as _shingles

        eval_grams = (
            decontaminate_against.select(
                F.explode(F.array_distinct(_shingles(text_col, n))).alias("shingle")
            )
            .distinct()
            .localCheckpoint(eager=True)
        )

    # Frozen DSIR weight table, same lifecycle rationale as eval_grams:
    # materialized once at stream build, broadcast per batch.
    frozen_weights = None
    if dsir_weights is not None:
        frozen_weights = dsir_weights.localCheckpoint(eager=True)

    # Frozen trained-classifier weights (classifier.py), same pattern:
    # the streaming twin of curate_corpus(classifier_weights=…).
    frozen_clf = None
    if classifier_weights is not None:
        frozen_clf = classifier_weights.localCheckpoint(eager=True)

    def gate(batch: DataFrame) -> DataFrame:
        if eval_grams is not None:
            # same candidate shape as dedup.contamination_check, minus
            # the size scan (min_overlap thresholds the raw hit count):
            # a contaminated doc is dropped BEFORE signing, so it never
            # enters the index or corpus
            from dataflow_python_etl_spark.operators.dedup import _doc_shingles

            hits = (
                _doc_shingles(batch, id_col, text_col, n)
                .join(F.broadcast(eval_grams), "shingle")
                .groupBy("doc")
                .agg(F.count(F.lit(1)).alias("__n_ov"))
                .where(F.col("__n_ov") >= decontaminate_min_overlap)
                .select(F.col("doc").alias(id_col))
            )
            batch = batch.join(hits, id_col, "left_anti")
        if frozen_weights is not None:
            # online DSIR target-likeness gate: semi-join on the ids
            # whose frozen-weight score clears the threshold — docs
            # with no tokens have no score row and are dropped (a
            # quality gate requires evidence)
            from dataflow_python_etl_spark.operators.lm import dsir_score_with

            passing = dsir_score_with(
                batch, frozen_weights, id_col, text_col, dsir_buckets
            ).where(
                # per-gram MEAN threshold (integer cross-multiply):
                # the raw score is a length-scaled sum, so a fixed
                # absolute threshold would just gate on doc length
                F.col("dsir_score_ppm")
                >= F.lit(min_dsir_ppm) * F.col("n_grams")
            )
            batch = batch.join(passing.select(id_col), id_col, "left_semi")
        if frozen_clf is not None:
            # online TRAINED quality gate: frozen hashed-linear
            # weights (classifier.quality_classifier_fit), keep iff
            # margin > classifier_min_margin. Gramless docs have no
            # score row and are dropped (no evidence, no ingest).
            from dataflow_python_etl_spark.operators.classifier import (
                quality_classifier_score_with,
            )

            keep_clf = quality_classifier_score_with(
                batch,
                frozen_clf,
                id_col=id_col,
                text_col=text_col,
                buckets=classifier_buckets,
            ).where(F.col("margin") > classifier_min_margin)
            batch = batch.join(keep_clf.select(id_col), id_col, "left_semi")
        return batch

    def _store(spark: SparkSession) -> BandIndexStore | None:
        if index_table is None:
            return None
        return BandIndexStore(spark, index_table, path=index_path, n_buckets=index_buckets)

    def _bands(docs: DataFrame) -> DataFrame:
        return _band_frame(
            minhash_signatures(docs, id_col, text_col, n, num_perm),
            id_col,
            num_perm,
            rows_per_band,
        )

    def index_exists(spark: SparkSession) -> bool:
        st = _store(spark)
        return st.exists() if st is not None else os.path.exists(index_path)

    def rebuild_index(spark: SparkSession, corpus: DataFrame) -> None:
        bands = _bands(corpus)
        st = _store(spark)
        if st is not None:
            st.drop()  # clear a stale catalog row / partial dir first
            st.append(bands)
        else:
            bands.write.parquet(index_path)

    def probe(spark: SparkSession, batch: DataFrame, corpus: DataFrame | None):
        # the batch's band rows, derived ONCE: they feed the index probe
        # and, semi-joined with the survivors, the index append
        new_bands = _cut(_bands(batch))

        def append_index(survivors: DataFrame) -> None:
            bands = new_bands.join(
                survivors.select(F.col(id_col).alias("doc")), "doc", "left_semi"
            )
            st = _store(spark)
            if st is not None:
                st.append(bands)
            else:
                bands.write.mode("append").parquet(index_path)

        index = None
        if corpus is not None:
            st = _store(spark)
            index = st.read() if st is not None else spark.read.parquet(index_path)
        pairs = _lsh_pairs_incremental(
            corpus, batch, new_bands, index, id_col, text_col, n, threshold
        )
        return pairs, append_index

    return _ingest_single_row(
        stream_docs, "stream_dedup_ingest", corpus_path, checkpoint, id_col, text_col,
        replay_guard, index_exists, rebuild_index, probe, gate,
    )


def stream_image_dedup_ingest(
    stream_images: DataFrame,
    corpus_path: str,
    index_path: str,
    checkpoint: str,
    id_col: str = "image_id",
    payload_col: str = "payload",
    max_hamming: int = 6,
    n_bands: int = 8,
    replay_guard: str = "anti_join",
    fingerprint_fn=None,
) -> "pyspark.sql.streaming.StreamingQuery":  # noqa: F821
    """Online near-dup-filtered MULTIMODAL ingestion: each micro-batch
    of images is perceptually fingerprinted (real decode,
    ``multimodal.image_phash``), Hamming-matched against the
    ALREADY-INGESTED corpus via the persisted fingerprint index (and
    against itself), and only survivors are appended — the streaming
    composition of ``multimodal.image_near_dup_pairs``, mirroring what
    :func:`stream_dedup_ingest` is to MinHash text dedup (VERDICT r7
    gap 3: a live crawl could dedup text online but not images).

    The EXPENSIVE work per batch scales with the BATCH: only batch
    payloads are decoded, and the probe
    (``dedup.hamming_banded_pairs_incremental``) explodes only batch
    bands against the index's 16-byte ``(id, phash)`` rows — the
    corpus's binary payloads are never re-read on the ingest path.
    Survivor rule matches the text sink: a batch image is dropped if
    it near-dups any ingested image, or a lower-id image of its own
    batch.

    Crash safety, the restart/replay guards and ``replay_guard`` are
    the shared :func:`_ingest_single_row` contract; a lost index is
    rebuilt FROM the corpus (one re-decode), and duplicate index rows
    from a crash between the index and corpus appends are absorbed by
    the probe's ``distinct``.

    ``fingerprint_fn`` swaps the perceptual kernel: any
    ``(df, id_col, payload_col) -> (id, phash)`` fingerprinter — pass
    ``multimodal.audio_phash`` to stream AUDIO clips through the same
    sink (the fingerprint frame's first column is renamed to
    ``id_col`` positionally, so the kernels' differing default id
    names don't matter). Default: ``multimodal.image_phash``."""
    import os

    from dataflow_python_etl_spark.operators.dedup import (
        _persist,
        hamming_banded_pairs_incremental,
    )
    from dataflow_python_etl_spark.operators.multimodal import image_phash

    if fingerprint_fn is None:
        fingerprint_fn = image_phash

    def fingerprints(items: DataFrame) -> DataFrame:
        return fingerprint_fn(items, id_col, payload_col).toDF(id_col, "phash")

    def probe(spark: SparkSession, batch: DataFrame, corpus: DataFrame | None):
        index_sig = None if corpus is None else spark.read.parquet(index_path)
        sig = _persist(fingerprints(batch))
        pairs = hamming_banded_pairs_incremental(
            index_sig, sig, id_col, "phash", max_hamming, n_bands,
            combine=2 if max_hamming <= n_bands - 2 else 1,
        )

        def append_index(survivors: DataFrame) -> None:
            sig.join(survivors, id_col, "left_semi").write.mode("append").parquet(
                index_path
            )

        return pairs, append_index

    return _ingest_single_row(
        stream_images, "stream_image_dedup_ingest", corpus_path, checkpoint,
        id_col, payload_col, replay_guard,
        lambda spark: os.path.exists(index_path),
        lambda spark, corpus: fingerprints(corpus).write.parquet(index_path),
        probe,
    )


def stream_video_dedup_ingest(
    stream_videos: DataFrame,
    corpus_path: str,
    index_path: str,
    checkpoint: str,
    id_col: str = "video_id",
    payload_col: str = "payload",
    min_score_ppm: int = 500_000,
    replay_guard: str = "anti_join",
    hash_fn=None,
    metric: str = "jaccard",
    multiset: bool = False,
) -> "pyspark.sql.streaming.StreamingQuery":  # noqa: F821
    """Online near-dup-filtered VIDEO ingestion — the set-fingerprint
    sibling of :func:`stream_image_dedup_ingest` (a video's identity
    is its frame-hash SET, not one 64-bit value, so the probe is
    shared-hash Jaccard, not Hamming banding). Each micro-batch is
    frame-decoded once (``multimodal.video_frame_hashes``, map-side),
    scored against the already-ingested corpus via the
    persisted index (``multimodal.set_fingerprint_pairs_incremental``)
    and against itself, and only survivors are appended. Survivor
    rule matches every other sink: a batch video drops if it near-dups
    any ingested video, or a lower-id video of its own batch.

    The index stores ``(id, set_hash, c, n)`` rows — ``c`` (the
    hash's multiplicity within the id) and ``n`` (the id's total
    count) are denormalized per row so the probe NEVER re-aggregates
    the corpus: per-batch cost scales with the batch and the
    hash-matched index rows only; corpus payloads are never re-read
    on the ingest path.

    Like the phash sink's ``fingerprint_fn``, the kernel is
    pluggable: ``hash_fn`` is any ``(df, id_col, payload_col) ->
    (id, hash)`` FAN-OUT (default ``multimodal.video_frame_hashes``),
    ``metric`` picks ``jaccard`` (near-dup) or ``containment``
    (trim/sub-clip), and ``multiset=True`` keeps hash multiplicity.
    Passing ``hash_fn=multimodal.audio_cdc_segments,
    metric="containment", multiset=True, min_score_ppm=600_000``
    streams AUDIO clips with online TRIM filtering — a re-posted cut
    of an already-ingested recording is dropped at ingest.

    Crash safety, the restart/replay guards and ``replay_guard`` are
    the shared :func:`_ingest_single_row` contract; a lost index is
    rebuilt FROM the corpus (one re-decode), and duplicate index rows
    from a crash between the index and corpus appends are absorbed by
    the probe's match-level ``distinct``."""
    return _set_fingerprint_ingest(
        "stream_video_dedup_ingest", stream_videos, corpus_path, index_path,
        checkpoint, id_col, payload_col, min_score_ppm, replay_guard, hash_fn,
        metric, multiset,
    )


def _set_fingerprint_ingest(
    kind: str,
    stream: DataFrame,
    corpus_path: str,
    index_path: str,
    checkpoint: str,
    id_col: str,
    payload_col: str,
    min_score_ppm: int,
    replay_guard: str,
    hash_fn,
    metric: str,
    multiset: bool,
) -> "pyspark.sql.streaming.StreamingQuery":  # noqa: F821
    """:func:`stream_video_dedup_ingest` under the calling sink's name
    ``kind``, which the restart refusal reports."""
    import os

    from pyspark.sql import Window

    from dataflow_python_etl_spark.operators.dedup import _persist
    from dataflow_python_etl_spark.operators.multimodal import (
        set_fingerprint_pairs_incremental,
        video_frame_hashes,
    )

    if hash_fn is None:
        hash_fn = video_frame_hashes

    def _raw(videos: DataFrame) -> DataFrame:
        # decode ONCE per payload: the (id, hash) fan-out, canonical names
        return hash_fn(
            videos.select(id_col, payload_col), id_col, payload_col
        ).toDF("sid", "shash")

    def _counts(raw: DataFrame) -> DataFrame:
        # (id, set_hash, c, n): multiplicity + total denormalized per row
        r = raw if multiset else raw.distinct()
        return (
            r.groupBy("sid", "shash")
            .agg(F.count(F.lit(1)).cast("long").alias("c"))
            .withColumn("n", F.sum("c").over(Window.partitionBy("sid")))
            .toDF(id_col, "set_hash", "c", "n")
        )

    def probe(spark: SparkSession, batch: DataFrame, corpus: DataFrame | None):
        index_cnt = None
        if corpus is not None:
            index_cnt = spark.read.parquet(index_path).toDF("sid", "shash", "c", "n")
        raw = _persist(_raw(batch))
        pairs = set_fingerprint_pairs_incremental(
            index_cnt, raw, metric=metric,
            min_score_ppm=min_score_ppm, multiset=multiset,
        )

        def append_index(survivors: DataFrame) -> None:
            _counts(raw).join(
                survivors.select(id_col), id_col, "left_semi"
            ).write.mode("append").parquet(index_path)

        return pairs.withColumnsRenamed({"id_a": "doc_a", "id_b": "doc_b"}), append_index

    return _ingest_single_row(
        stream, kind, corpus_path, checkpoint, id_col, payload_col, replay_guard,
        lambda spark: os.path.exists(index_path),
        lambda spark, corpus: _counts(_raw(corpus)).write.parquet(index_path),
        probe,
    )


def apply_ivf_index_batch(
    batch_df: DataFrame,
    batch_id: int,
    index_path: str,
    centroids: list[list[float]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    quantize: str | None = None,
    pq_codebooks: list | None = None,
    replay_guard: str = "watermark",
) -> None:
    """One micro-batch of the streaming ANN index (factored out of
    :func:`stream_embeddings_to_ivf_index` so tests can drive replay
    semantics directly, like ``apply_search_index_batch``).

    The streamed index is the same inverted file
    ``ivf_topk_indexed`` reads, but STREAM-OWNED and partitioned
    ``(cid, ingest_batch)``: each batch assigns only its own vectors
    against the frozen centroids (O(batch) map) and lands as a
    DYNAMIC partition overwrite of its ``ingest_batch=N``
    sub-partitions — foreachBatch is AT-LEAST-once, and a replayed
    batch REWRITES exactly its own partitions, so the index converges
    without a ledger (the ``stream_docs_to_search_index`` pattern).
    The extra ``ingest_batch`` partition level is transparent to
    readers: ``cid`` stays the top-level pruning key and
    ``ivf_topk_indexed`` selects its columns explicitly.

    ``replay_guard="watermark"`` additionally drops rows whose id is
    ≤ the persisted max (monotone-id sources: a SOURCE-level replay
    into a fresh batch id cannot duplicate ids); ``"none"`` trusts
    the upstream unique-id contract. PQ mode requires
    ``pq_codebooks`` (grid codebooks need no training data and never
    go stale on append — the natural streaming choice); the sidecar
    is written before the first data batch and validated against the
    passed codebooks on every restart, so code/codebook drift is
    impossible."""
    import os

    from dataflow_python_etl_spark.operators.similarity import (
        CENTROID_SIDECAR,
        PQ_SIDECAR,
        _assigned,
        _index_quantize_mode,
        _quantize_int8,
        _quantize_pq,
        load_ivf_centroids,
        load_pq_codebooks,
    )
    from dataflow_python_etl_spark.operators.upsert import _read_marker, _write_marker

    if quantize not in (None, "int8", "pq"):
        raise ValueError(f"quantize must be None|'int8'|'pq', got {quantize!r}")
    if quantize == "pq" and pq_codebooks is None:
        raise ValueError("quantize='pq' requires pq_codebooks")
    if replay_guard not in ("watermark", "none"):
        raise ValueError(
            f"replay_guard must be watermark|none, got {replay_guard!r}"
        )
    spark = batch_df.sparkSession
    exists = os.path.exists(index_path)
    if not exists and batch_id > 0:
        raise RuntimeError(
            f"stream_embeddings_to_ivf_index restart at batch {batch_id} but "
            f"index {index_path} is missing — refusing to restart over a lost "
            "index (earlier batches are gone); start a fresh checkpoint."
        )
    if exists:
        try:
            cols = spark.read.parquet(index_path).schema.fieldNames()
        except Exception:
            cols = None  # dir holds only the sidecar (pre-first-data crash)
        existing_mode = _index_quantize_mode(cols) if cols is not None else quantize
        if existing_mode != quantize:
            raise ValueError(
                f"quantize mismatch: index at {index_path} holds "
                f"{existing_mode!r} rows, sink configured {quantize!r}"
            )
    if quantize == "pq":
        sidecar = os.path.join(index_path, PQ_SIDECAR)
        if os.path.exists(sidecar):
            if load_pq_codebooks(index_path) != pq_codebooks:
                raise ValueError(
                    f"PQ codebooks at {index_path} differ from the sink's — "
                    "a restart must pass the codebooks the index was built "
                    "with (re-encoding drift would corrupt scores)"
                )
        else:
            os.makedirs(index_path, exist_ok=True)
            _write_marker(sidecar, pq_codebooks)
    # centroid sidecar: same lifecycle — written before the first data
    # batch so the index is self-describing (ivf_topk_indexed with
    # centroids=None), validated on every restart because assigning
    # against DIFFERENT centroids than earlier batches would silently
    # split cells across two quantizers
    cent_sidecar = os.path.join(index_path, CENTROID_SIDECAR)
    if os.path.exists(cent_sidecar):
        if load_ivf_centroids(index_path) != centroids:
            raise ValueError(
                f"centroids at {index_path} differ from the sink's — a "
                "restart must pass the centroids the index was built with "
                "(mixed-quantizer cells would silently corrupt probes)"
            )
    else:
        os.makedirs(index_path, exist_ok=True)
        _write_marker(cent_sidecar, centroids)

    batch = batch_df.select(id_col, vec_col)
    wm_path = index_path + ".__ingest_watermark"
    wm = _read_marker(wm_path) if replay_guard == "watermark" else None
    if wm is not None:
        if batch_id == wm["batch_id"]:
            return  # this exact batch fully committed — replay is a no-op
        batch = batch.where(F.col(id_col) > F.lit(wm["max_id"]))

    max_id = None
    if replay_guard == "watermark":
        max_id = batch.agg(F.max(id_col)).first()[0]
        if max_id is None:  # nothing new this batch
            if wm is not None:
                _write_marker(wm_path, {"batch_id": batch_id, "max_id": wm["max_id"]})
            return

    assigned = _assigned(batch, centroids, id_col, vec_col)
    if quantize == "int8":
        assigned = _quantize_int8(assigned)
    elif quantize == "pq":
        assigned = _quantize_pq(assigned, pq_codebooks)
    (
        assigned.withColumn("ingest_batch", F.lit(batch_id))
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("cid", "ingest_batch")
        .parquet(index_path)
    )
    if replay_guard == "watermark":
        _write_marker(wm_path, {"batch_id": batch_id, "max_id": max_id})


def stream_embeddings_to_ivf_index(
    stream_vectors: DataFrame,
    index_path: str,
    centroids: list[list[float]],
    checkpoint: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    quantize: str | None = None,
    pq_codebooks: list | None = None,
    replay_guard: str = "watermark",
) -> "pyspark.sql.streaming.StreamingQuery":  # noqa: F821
    """Online ANN index maintenance: stream embedding rows into a
    cell-partitioned IVF inverted file that ``ivf_topk_indexed``
    serves QUERIES from while the stream runs — completing the
    streaming ingest matrix (text/image/video/audio sinks exist;
    vectors did not). Per-batch cost is O(batch): one assignment map
    against the frozen broadcast centroids, one partitioned write.
    See :func:`apply_ivf_index_batch` for the idempotence and
    crash-safety contract. Cell balance drifts as the corpus grows —
    watch ``ivf_index_stats`` and rebuild offline when stale (grid PQ
    codebooks, being data-independent, survive the rebuild)."""

    def apply(batch_df: DataFrame, batch_id: int) -> None:
        apply_ivf_index_batch(
            batch_df,
            batch_id,
            index_path,
            centroids,
            id_col=id_col,
            vec_col=vec_col,
            quantize=quantize,
            pq_codebooks=pq_codebooks,
            replay_guard=replay_guard,
        )

    return (
        stream_vectors.writeStream.foreachBatch(apply)
        .option("checkpointLocation", checkpoint)
        .outputMode("append")
        .start()
    )


def stream_text_containment_ingest(
    stream_docs: DataFrame,
    corpus_path: str,
    index_path: str,
    checkpoint: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    min_containment_ppm: int = 800_000,
    replay_guard: str = "anti_join",
) -> "pyspark.sql.streaming.StreamingQuery":  # noqa: F821
    """Online SUBSET-duplication-filtered text ingestion — the
    streaming twin of :func:`operators.dedup.containment_pairs`
    (q147): a crawl item that embeds an already-ingested document
    verbatim (quoted article, aggregator page, chunk-of-a-book) is
    dropped at ingest, the case Jaccard-tier sinks structurally miss.

    Pure composition: the text shingle kernel
    (``dedup.text_shingle_hashes`` — per-doc-distinct word n-grams,
    xxhash64-compressed index rows) plugged into the generic
    set-fingerprint sink with the containment metric, inheriting its
    whole crash matrix (index-then-corpus ordering, lost-index
    rebuild-from-corpus, replay-guard modes). Differences from the
    batch form, by design: the probe joins the batch's hashes against
    the FULL persisted index (no prefix filter — prefix filtering
    needs corpus-global document frequencies, which are exactly what
    a stream doesn't have yet), and there is no ``max_shingle_df``
    boilerplate cap for the same reason; per-batch cost scales with
    the batch and its hash-matched index rows only. Scores are the
    same exact-integer ppm cross-multiply as the batch operator."""
    from dataflow_python_etl_spark.operators.dedup import text_shingle_hashes

    def kernel(df: DataFrame, i: str, p: str) -> DataFrame:
        return text_shingle_hashes(df, i, p, n=n)

    return _set_fingerprint_ingest(
        "stream_text_containment_ingest", stream_docs, corpus_path, index_path,
        checkpoint, id_col, text_col, min_containment_ppm, replay_guard, kernel,
        "containment", False,
    )


# ---------------------------------------------------------------------------
# Chunked-CDC streaming containment for LONG media (VERDICT r8 #3):
# an hour-scale recording never fits one micro-batch row, so it
# arrives as ordered (clip_id, chunk_seq, payload) chunk rows —
# possibly spread across micro-batches — and the segmenter must
# re-assemble per clip with BOUNDED carry state (multimodal.
# cdc_push_chunk: W-1 window tail + the open segment's partials,
# O(W) per open clip regardless of recording length).
# ---------------------------------------------------------------------------

CHUNK_STATE_DDL = (
    "clip_id long, tail array<double>, seg_sum long, seg_len long, "
    "n_seen long, next_seq long"
)
VIDEO_CHUNK_STATE_DDL = (
    "clip_id long, stage string, buf binary, vids long, end long, "
    "movi_end long, abs long, skip long, n_frames long, next_seq long"
)


class _ChunkCodec(NamedTuple):
    """What one chunked modality plugs into :func:`_apply_chunked_batch`.

    ``payload`` is the chunk column; ``state_ddl`` the carry-state
    table (``clip_id`` first, ``next_seq`` last); ``new``/``load``/
    ``dump`` (de)serialise one clip's carry state from/to a state row;
    ``push(state, payload) -> (state, hashes)`` and ``finish(state) ->
    hashes`` run the incremental kernel; ``hashes``/``hash_col`` name
    the per-batch hash list and the seg/index hash column; ``multiset``
    keeps hash multiplicity (index rows carry ``c``); ``containment``
    scores ``common`` against ``least(n, inn)``, else Jaccard against
    ``n + inn - common``; ``corpus_cols`` is (kernel count column, its
    corpus name, corpus name of the clip size ``n``)."""

    kind: str
    payload: str
    state_ddl: str
    new: Callable
    load: Callable
    dump: Callable
    push: Callable
    finish: Callable
    hashes: str
    hash_col: str
    multiset: bool
    containment: bool
    corpus_cols: tuple


def _guard_lost_corpus(
    ledger: dict | None, corpus_path: str, batch_id: int, kind: str
) -> None:
    """Raise iff a COMMITTED batch recorded the corpus as written but it
    is now missing — genuine data loss, refuse to rebuild from one batch.

    The corpus dir is only created when a clip FINISHES, while the carry
    state is swapped every batch, so ``state exists && corpus missing``
    is a legitimately progressing stream whose first recording spans
    micro-batches (ADVICE r10 high: the old state-existence guard killed
    exactly that stream at batch 1). The index cannot stand in either:
    it is written strictly BEFORE the corpus, so the replay-tested crash
    window (index written, corpus not yet, ledger not yet swapped) would
    false-positive. Only the ledger flag — swapped atomically WITH the
    state, LAST — proves the corpus should exist. Ledgers predating the
    flag default to True (conservative against silent data loss)."""
    import os

    if (
        not os.path.exists(corpus_path)
        and ledger is not None
        and bool(ledger.get("corpus_written", True))
    ):
        raise RuntimeError(
            f"chunked {kind} ingest restart at batch {batch_id} but corpus "
            f"{corpus_path} is missing despite a committed batch having "
            "written it — refusing to rebuild from a single batch; restore "
            "the corpus or start a fresh checkpoint."
        )


def _apply_chunked_batch(
    batch_df: DataFrame,
    batch_id: int,
    codec: _ChunkCodec,
    min_ppm: int,
    *,
    seg_path: str,
    state_path: str,
    index_path: str,
    corpus_path: str,
    id_col: str,
) -> None:
    """The one foreachBatch skeleton behind both chunked sinks
    (:func:`apply_chunked_audio_batch`, :func:`apply_chunked_video_batch`).

    Batch rows: ``(id_col, chunk_seq, <codec.payload>, is_last)`` — IN
    ORDER per clip. Out-of-order or gapped arrival, and ``is_last`` on
    a non-final chunk, raise loudly: a reorder buffer is upstream's
    job, and a silently mis-ordered chunk would fabricate segment
    boundaries.

    Idempotence matrix (foreachBatch is AT-LEAST-once; every write is a
    deterministic function of (state as of B−1, batch B)):

    - completed hashes → ``seg_path`` partition ``ingest_batch=B`` via
      DYNAMIC partition overwrite (replay rewrites its own partition —
      the stream_docs_to_search_index pattern);
    - survivor index rows / corpus metadata → same pattern on
      ``index_path`` / ``corpus_path``;
    - carry state → ``write_and_swap`` with the ``_applied_batch``
      ledger INSIDE the swap (the refresh_additive_agg pattern), and
      this swap happens LAST, so a crash anywhere earlier replays into
      identical partition overwrites, and a replay after the swap is a
      recorded no-op. A kill between the swap's two renames leaves the
      state only in its ``.__bak_*``; it is restored before the ledger
      is read, so the replay never starts from an empty carry state.

    Decision rule: a clip that FINISHES this batch is dropped iff its
    hash set (multiset if ``codec.multiset``) scores ≥ ``min_ppm``
    (exact-integer cross-multiply, ``common`` = multiset intersection)
    against any already-ingested clip or a lower-id clip finishing in
    the same batch; a clip with no hashes has no evidence and is
    dropped. Both probes are ONE rule over different peer frames. The
    index probe reads ``ingest_batch != batch_id``: a crashed prior
    attempt of THIS batch may already have written its index
    partition, and probing it would self-match every replayed finishing
    clip at 1e6 ppm (and invert same-batch lower-id-wins decisions);
    because an EMPTY dynamic overwrite is a no-op, the emptied survivor
    set would never rewrite the stale partition and the state swap
    would seal a permanent index/corpus split. Excluding our own
    partition makes a replay see exactly the original attempt's
    inputs (partition-pruned scan). Earlier partitions are NOT
    excluded by id: a clip id finishing a second time matches its own
    earlier index rows."""
    import os

    import pandas as pd

    from dataflow_python_etl_spark.operators.upsert import (
        AGG_LEDGER,
        _batch_applied,
        _ledger_file,
        _read_marker,
        recover_table_dir,
        write_and_swap,
    )

    spark = batch_df.sparkSession
    recover_table_dir(state_path)
    ledger = _read_marker(os.path.join(state_path, AGG_LEDGER))
    recorded = None if ledger is None else ledger["batch_id"]
    if _batch_applied(f"chunked {codec.kind} ingest", batch_id, recorded):
        return  # fully committed — replay is a no-op
    _guard_lost_corpus(ledger, corpus_path, batch_id, codec.kind)
    chunks = batch_df.select(
        F.col(id_col).alias("clip_id"), "chunk_seq", codec.payload, "is_last"
    )
    if chunks.isEmpty():
        return
    state = (
        spark.read.parquet(state_path)
        if os.path.exists(state_path)
        else spark.createDataFrame([], codec.state_ddl)
    )

    def kernel(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("chunk_seq")
        first = pdf.iloc[0]
        clip = int(first["clip_id"])
        if pd.isna(first["next_seq"]):
            st, nxt = codec.new(), 0
        else:
            st, nxt = codec.load(first), int(first["next_seq"])
        seqs = [int(s) for s in pdf["chunk_seq"]]
        if seqs[0] != nxt or any(b != a + 1 for a, b in zip(seqs, seqs[1:])):
            raise ValueError(
                f"chunked {codec.kind} ingest: clip {clip} chunks "
                f"arrived out of order (expected seq {nxt}, got {seqs}) — "
                "ordered delivery is the upstream contract"
            )
        lasts = [bool(x) for x in pdf["is_last"]]
        if any(lasts[:-1]):
            raise ValueError(
                f"chunked {codec.kind} ingest: clip {clip} has "
                "is_last on a non-final chunk"
            )
        hashes: list = []
        for payload in pdf[codec.payload]:
            st, hs = codec.push(st, payload)
            hashes.extend(hs)
        finished = lasts[-1]
        if finished:
            hashes.extend(codec.finish(st))
        row = {"clip_id": clip, codec.hashes: hashes, **codec.dump(st)}
        row.update(next_seq=seqs[-1] + 1, finished=finished)
        return pd.DataFrame([row])

    carry = codec.state_ddl.split(", ", 1)[1]
    upd = (
        chunks.join(state, "clip_id", "left")
        .groupBy("clip_id")
        .applyInPandas(
            kernel,
            f"clip_id long, {codec.hashes} array<long>, {carry}, finished boolean",
        )
        .localCheckpoint(eager=True)  # 4 consumers; kernel runs once
    )

    def overwrite_own_partition(df: DataFrame, path: str) -> None:
        (
            df.withColumn("ingest_batch", F.lit(batch_id))
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("ingest_batch")
            .parquet(path)
        )

    # 1) this batch's completed hashes: replay overwrites itself
    h = codec.hash_col
    overwrite_own_partition(
        upd.select("clip_id", F.explode(codec.hashes).alias(h)), seg_path
    )

    # 2) finished clips: assemble the full hash (multi)set, score, decide
    n_col, n_name, size_name = codec.corpus_cols
    fin = upd.where("finished").select("clip_id", n_col)
    if not fin.isEmpty():
        seg = spark.read.parquet(seg_path).join(fin.select("clip_id"), "clip_id", "left_semi")
        if codec.multiset:
            rows = seg.groupBy("clip_id", h).agg(F.count(F.lit(1)).cast("long").alias("c"))
            sizes = rows.groupBy("clip_id").agg(F.sum("c").cast("long").alias("n"))
            common = F.sum(F.least("c", "ic"))
        else:
            rows = seg.select("clip_id", h).distinct()
            sizes = rows.groupBy("clip_id").agg(F.count(F.lit(1)).cast("long").alias("n"))
            common = F.count(F.lit(1)).cast("long")
        probe = rows.join(sizes, "clip_id").localCheckpoint(eager=True)
        if codec.containment:
            denom = F.least("n", "inn")
        else:
            denom = F.col("n") + F.col("inn") - F.col("common")

        def matched(peers: DataFrame, lower_only: bool) -> DataFrame:
            # finishing clips whose score against a peer frame (index
            # rows or this batch's own probe) clears the threshold
            other = peers.select(
                F.col("clip_id").alias("cid"),
                F.col(h).alias("__h"),
                F.col("n").alias("inn"),
                *([F.col("c").alias("ic")] if codec.multiset else []),
            )
            cond = F.col(h) == F.col("__h")
            if lower_only:
                cond = cond & (F.col("cid") < F.col("clip_id"))
            return (
                probe.join(other, cond)
                .groupBy("clip_id", "cid")
                .agg(common.alias("common"), F.first("n").alias("n"), F.first("inn").alias("inn"))
                .where(F.col("common") * F.lit(1_000_000) >= F.lit(min_ppm) * denom)
                .select("clip_id")
            )

        dropped = matched(probe, lower_only=True)
        if os.path.exists(index_path):
            idx = spark.read.parquet(index_path).where(F.col("ingest_batch") != F.lit(batch_id))
            dropped = matched(idx, lower_only=False).unionByName(dropped)
        # zero-hash clips are absent from sizes: dropped
        survivors = sizes.select("clip_id").join(dropped, "clip_id", "left_anti")
        overwrite_own_partition(probe.join(survivors, "clip_id", "left_semi"), index_path)
        overwrite_own_partition(
            fin.join(survivors, "clip_id", "left_semi")
            .join(sizes, "clip_id")
            .select("clip_id", F.col(n_col).alias(n_name), F.col("n").alias(size_name)),
            corpus_path,
        )

    # 3) carry state LAST, ledger swapped atomically with it
    new_state = state.join(upd.select("clip_id"), "clip_id", "left_anti").unionByName(
        upd.where(~F.col("finished")).select(*state.columns)
    )
    write_and_swap(
        new_state,
        state_path,
        # corpus_written: evaluated AFTER the corpus write so the flag
        # only turns true once a clip actually finished;
        # _guard_lost_corpus keys off it on restart.
        extra_files=_ledger_file(
            {"batch_id": batch_id, "corpus_written": os.path.exists(corpus_path)}
        ),
    )


def apply_chunked_audio_batch(
    batch_df: DataFrame,
    batch_id: int,
    *,
    seg_path: str,
    state_path: str,
    index_path: str,
    corpus_path: str,
    id_col: str = "clip_id",
    min_containment_ppm: int = 600_000,
) -> None:
    """One foreachBatch application of the chunked-audio containment
    sink — module-level (the ``apply_ivf_index_batch`` precedent) so
    tests drive the exact production path deterministically and the
    streamed-vs-batch parity pin needs no micro-batch timing.

    Batch rows: ``(clip_id, chunk_seq, samples array<double>,
    is_last boolean)`` — decoded PCM chunks IN ORDER per clip (chunk
    splitting/container decode is the upstream landing contract at
    100 TB; this sink owns reassembly, not demuxing). The carry state
    (``CHUNK_STATE_DDL``) is ``multimodal.cdc_push_chunk``'s bounded
    window tail + open-segment partials; the seg table holds
    ``(clip_id, seg_hash)``, the index ``(clip_id, seg_hash, c, n)``
    and the corpus ``(clip_id, n_samples, n_segments)``, each
    partitioned by ``ingest_batch``.

    Decision rule (the other ingest sinks' survivor contract): a
    clip that FINISHES this batch is dropped iff its CDC segment
    multiset is contained ≥ ``min_containment_ppm`` in any already-
    ingested clip (exact-integer cross-multiply, multiset least/min
    — the batch ``audio_containment_pairs`` arithmetic) or in any
    lower-id clip finishing in the same batch; a clip whose every
    segment fell under the CDC minimum has no evidence and is
    dropped ("no evidence, no ingest" — the DSIR-gate discipline).
    Ordering checks, the idempotence matrix and replay safety are
    the shared :func:`_apply_chunked_batch` contract.
    """
    from dataflow_python_etl_spark.operators.multimodal import (
        cdc_finish,
        cdc_push_chunk,
        cdc_state_new,
    )

    codec = _ChunkCodec(
        kind="audio",
        payload="samples",
        state_ddl=CHUNK_STATE_DDL,
        new=cdc_state_new,
        load=lambda r: (
            list(r["tail"]), int(r["seg_sum"]), int(r["seg_len"]), int(r["n_seen"])
        ),
        dump=lambda st: {
            "tail": [float(x) for x in st[0]],
            "seg_sum": st[1],
            "seg_len": st[2],
            "n_seen": st[3],
        },
        push=cdc_push_chunk,
        finish=cdc_finish,
        hashes="seg_hashes",
        hash_col="seg_hash",
        multiset=True,
        containment=True,
        corpus_cols=("n_seen", "n_samples", "n_segments"),
    )
    _apply_chunked_batch(
        batch_df, batch_id, codec, min_containment_ppm, seg_path=seg_path,
        state_path=state_path, index_path=index_path, corpus_path=corpus_path,
        id_col=id_col,
    )


def apply_chunked_video_batch(
    batch_df: DataFrame,
    batch_id: int,
    *,
    seg_path: str,
    state_path: str,
    index_path: str,
    corpus_path: str,
    id_col: str = "clip_id",
    min_jaccard_ppm: int = 500_000,
) -> None:
    """One foreachBatch application of the chunked-VIDEO near-dup
    sink — the :func:`apply_chunked_audio_batch` twin for recordings
    that never fit one micro-batch row, fed as arbitrary BYTE ranges
    of an MJPEG AVI stream: ``(clip_id, chunk_seq, data binary,
    is_last)``, in order per clip (chunk splitting is the upstream
    landing contract; boundaries need not align with frames or RIFF
    chunks — the carry state is an incremental parser,
    ``multimodal.video_cdc_push_chunk``, whose buffer stays bounded
    by one frame). The seg table holds ``(clip_id, frame_hash)``, the
    index ``(clip_id, frame_hash, n)`` and the corpus ``(clip_id,
    n_frames, n_distinct_hashes)``.

    Decision rule — the batch :func:`~.multimodal.video_near_dup_pairs`
    arithmetic exactly: a finishing clip is dropped iff its DISTINCT
    frame-hash set has Jaccard ≥ ``min_jaccard_ppm`` (exact-integer
    cross-multiply, ``1e6·common vs ppm·(na+nb−common)``) with any
    already-ingested clip or a lower-id clip finishing in the same
    batch; a clip whose stream carried no frames fails loudly at
    ``video_cdc_finish`` (a corrupt upload is an error, not a silent
    drop — unlike audio's no-evidence rule, zero frames here means a
    malformed container). Ordering checks, the idempotence matrix
    and replay safety are the shared :func:`_apply_chunked_batch`
    contract."""
    from dataflow_python_etl_spark.operators.multimodal import (
        video_cdc_finish,
        video_cdc_push_chunk,
        video_cdc_state_new,
    )

    scalar_keys = ("vids", "end", "movi_end", "abs", "skip", "n_frames")

    def finish(st: dict) -> list:
        video_cdc_finish(st)  # loud on truncation / no frames
        return []

    codec = _ChunkCodec(
        kind="video",
        payload="data",
        state_ddl=VIDEO_CHUNK_STATE_DDL,
        new=video_cdc_state_new,
        load=lambda r: {
            "stage": r["stage"],
            "buf": bytes(r["buf"]),
            **{k: int(r[k]) for k in scalar_keys},
        },
        dump=lambda st: {
            "stage": st["stage"],
            "buf": bytearray(st["buf"]),
            **{k: int(st[k]) for k in scalar_keys},
        },
        push=lambda st, data: video_cdc_push_chunk(st, bytes(data)),
        finish=finish,
        hashes="frame_hashes",
        hash_col="frame_hash",
        multiset=False,
        containment=False,
        corpus_cols=("n_frames", "n_frames", "n_distinct_hashes"),
    )
    _apply_chunked_batch(
        batch_df, batch_id, codec, min_jaccard_ppm, seg_path=seg_path,
        state_path=state_path, index_path=index_path, corpus_path=corpus_path,
        id_col=id_col,
    )


def stream_chunked_video_dedup_ingest(
    stream_chunks: DataFrame,
    corpus_path: str,
    index_path: str,
    seg_path: str,
    state_path: str,
    checkpoint: str,
    id_col: str = "clip_id",
    min_jaccard_ppm: int = 500_000,
) -> "pyspark.sql.streaming.StreamingQuery":  # noqa: F821
    """Online near-dup-filtered ingestion of LONG video — the chunked
    twin of ``stream_video_dedup_ingest`` for recordings that never
    fit one micro-batch row, fed as ordered byte ranges of an MJPEG
    AVI stream. See :func:`apply_chunked_video_batch` for the row
    contract, the bounded carry state (an incremental RIFF parser),
    and the idempotence matrix; the streamed frame-hash set is
    identical to batch ``video_frame_hashes`` of the whole clip
    (the ``video_cdc_push_chunk`` split-invariance, property-pinned),
    so streamed ingest decisions match the batch
    ``video_near_dup_pairs`` arithmetic exactly."""

    def apply_batch(batch_df: DataFrame, batch_id: int) -> None:
        apply_chunked_video_batch(
            batch_df,
            batch_id,
            seg_path=seg_path,
            state_path=state_path,
            index_path=index_path,
            corpus_path=corpus_path,
            id_col=id_col,
            min_jaccard_ppm=min_jaccard_ppm,
        )

    return (
        stream_chunks.writeStream.foreachBatch(apply_batch)
        .option("checkpointLocation", checkpoint)
        .outputMode("append")
        .start()
    )


def stream_chunked_audio_containment_ingest(
    stream_chunks: DataFrame,
    corpus_path: str,
    index_path: str,
    seg_path: str,
    state_path: str,
    checkpoint: str,
    id_col: str = "clip_id",
    min_containment_ppm: int = 600_000,
) -> "pyspark.sql.streaming.StreamingQuery":  # noqa: F821
    """Online trim/containment-filtered ingestion of LONG audio —
    the chunked twin of the single-row audio path
    (``stream_video_dedup_ingest(hash_fn=audio_cdc_segments,
    metric='containment')``), for recordings that never fit one
    micro-batch row. See :func:`apply_chunked_audio_batch` for the
    row contract, the bounded carry state, and the idempotence
    matrix; the streamed segment multiset is bit-identical to the
    batch ``cdc_segment_hashes`` of the whole clip (the
    ``cdc_push_chunk`` invariant, property-pinned), so streamed
    ingest decisions match the batch ``audio_containment_pairs``
    arithmetic exactly."""

    def apply_batch(batch_df: DataFrame, batch_id: int) -> None:
        apply_chunked_audio_batch(
            batch_df,
            batch_id,
            seg_path=seg_path,
            state_path=state_path,
            index_path=index_path,
            corpus_path=corpus_path,
            id_col=id_col,
            min_containment_ppm=min_containment_ppm,
        )

    return (
        stream_chunks.writeStream.foreachBatch(apply_batch)
        .option("checkpointLocation", checkpoint)
        .outputMode("append")
        .start()
    )


def apply_search_index_batch(
    batch_df: DataFrame,
    batch_id: int,
    path: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_buckets: int = 64,
) -> None:
    """One micro-batch of streaming search-index ingest — EXACTLY-ONCE
    BY CONSTRUCTION, not by ledger races: the batch's postings land
    via DYNAMIC partition overwrite of their ``(pbucket, batch=N)``
    partitions, so a replayed batch (foreachBatch is at-least-once)
    REWRITES exactly its own partitions instead of duplicating them;
    the stats sidecar carries ``last_batch_id`` and skips replayed
    bumps (an earlier batch id raises: a reset checkpoint). This index
    layout is streaming-owned (extra ``batch`` partition level under
    ``pbucket``) — probe it with the standard
    :func:`~dataflow_python_etl_spark.operators.search.search_index`
    (partition pruning on pbucket is unaffected; the batch column is
    never read). Batch 0 creates the index; a restart that finds no
    sidecar at batch > 0 fails loudly (the missing-table rule) rather
    than rebuilding history from one batch.

    Exposed as a module function (not a closure) so replay semantics
    are directly testable."""
    import os

    from dataflow_python_etl_spark.functions.text import md5_hash60, tokens
    from dataflow_python_etl_spark.operators.search import SEARCH_STATS
    from dataflow_python_etl_spark.operators.upsert import (
        _batch_applied,
        _read_marker,
        _write_marker,
    )

    stats = _read_marker(os.path.join(path, SEARCH_STATS))
    if stats is not None:
        recorded = stats.get("last_batch_id")
        if _batch_applied("stream_docs_to_search_index", batch_id, recorded):
            return  # replayed, fully applied batch: no-op
        n_buckets = stats["n_buckets"]
    elif batch_id > 0:
        raise ValueError(
            f"restarted search-index sink: {path} has no {SEARCH_STATS} but "
            f"the checkpoint says batch {batch_id} — the index was lost or "
            "torn mid-creation. Rebuilding from one batch would silently "
            "drop history; restore the index or reset the checkpoint."
        )
    else:
        stats = {"n_docs": 0, "sum_dl": 0, "n_buckets": n_buckets}
    lens = batch_df.select(
        F.col(id_col).alias("doc_id"), F.size(tokens(text_col)).alias("dl")
    )
    postings = (
        batch_df.select(
            F.col(id_col).alias("doc_id"), F.explode(tokens(text_col)).alias("w")
        )
        .groupBy("doc_id", "w")
        .agg(F.count(F.lit(1)).cast("long").alias("tf"))
        .join(lens, "doc_id")
        .select(
            "w", "doc_id", "tf", "dl",
            F.pmod(md5_hash60(F.col("w")), F.lit(n_buckets)).cast("int")
            .alias("pbucket"),
            F.lit(batch_id).alias("batch"),
        )
    )
    (
        postings.write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("pbucket", "batch")
        .parquet(path)
    )
    s = lens.agg(
        F.count(F.lit(1)).alias("n"), F.coalesce(F.sum("dl"), F.lit(0)).alias("s")
    ).first()
    _write_marker(
        os.path.join(path, SEARCH_STATS),
        {
            "n_docs": stats["n_docs"] + s["n"],
            "sum_dl": stats["sum_dl"] + int(s["s"]),
            "n_buckets": n_buckets,
            "last_batch_id": batch_id,
        },
    )


def stream_docs_to_search_index(
    doc_stream: DataFrame,
    path: str,
    checkpoint: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_buckets: int = 64,
) -> "pyspark.sql.streaming.StreamingQuery":  # noqa: F821
    """Streaming twin of the persisted BM25 index: documents arriving
    on a stream become searchable per micro-batch via
    :func:`apply_search_index_batch` (dynamic-partition-overwrite
    idempotence + sidecar batch ledger = exactly-once; batch-parity
    pinned against ``build_search_index`` in tests). Unique-id
    contract as everywhere: a document id appears in ONE batch."""

    def apply(batch_df: DataFrame, batch_id: int) -> None:
        apply_search_index_batch(
            batch_df, batch_id, path, id_col, text_col, n_buckets
        )

    return (
        doc_stream.writeStream.foreachBatch(apply)
        .option("checkpointLocation", checkpoint)
        .outputMode("append")
        .start()
    )


def apply_drift_monitor_batch(
    batch_df: DataFrame,
    batch_id: int,
    ref_hist_path: str,
    out_path: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    buckets: int = 1024,
) -> None:
    """One micro-batch of the streaming drift monitor: compare the
    batch's hashed-gram histogram against the FROZEN reference
    histogram (``lm.build_drift_reference``) and record ONE summary
    row — ``(batch, n_ref, n_cur, tvd_ppm, top_bucket,
    top_contrib)`` — the online twin of ``lm.corpus_drift``
    (same cross-multiplied exact-integer TVD via the shared
    ``lm.drift_report``; batch==stream parity pinned in tests).

    Exactly-once by construction (the search-index shape): the row
    lands via DYNAMIC partition overwrite of its own ``batch=N``
    partition, so an at-least-once replay REWRITES that partition,
    and the statistic is deterministic, so the rewrite converges.
    An all-empty batch (zero grams) still records a row with
    ``n_cur = 0`` and NULL tvd — visible, not skipped: a monitor
    that silently drops empty batches cannot tell "no drift" from
    "no data". Module-level (not a closure) so replay semantics are
    directly testable."""
    import os

    from dataflow_python_etl_spark.operators.lm import (
        drift_report,
        gram_histogram,
    )

    spark = batch_df.sparkSession
    if not os.path.exists(ref_hist_path):
        raise RuntimeError(
            f"drift monitor reference histogram missing at {ref_hist_path} "
            "— build it with lm.build_drift_reference before starting the "
            "stream (a monitor comparing against nothing reports nothing)"
        )
    ref = spark.read.parquet(ref_hist_path).select(
        "bucket", F.col("ref_count").cast("long").alias("ref_count")
    )
    cur = gram_histogram(
        batch_df, id_col, text_col, buckets, count_col="cur_count"
    )
    top1 = drift_report(ref, cur, top_k=1).select(
        F.lit(batch_id).cast("long").alias("batch"),
        "n_ref",
        "n_cur",
        "tvd_ppm",
        F.col("bucket").alias("top_bucket"),
        F.col("contrib").alias("top_contrib"),
    )
    # no emptiness probe: with a (guarded) non-empty reference the
    # full-outer bucket join is non-empty by construction, so
    # drift_report always yields >= 1 row — and a probe here would
    # re-run the batch's gram fan-out a second time per micro-batch
    (
        top1.coalesce(1)
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("batch")
        .parquet(out_path)
    )


def stream_drift_monitor(
    doc_stream: DataFrame,
    ref_hist_path: str,
    out_path: str,
    checkpoint: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    buckets: int = 1024,
) -> "pyspark.sql.streaming.StreamingQuery":  # noqa: F821
    """Online data-quality drift monitor: per micro-batch, one
    ``(batch, n_ref, n_cur, tvd_ppm, top_bucket, top_contrib)`` row
    against the frozen reference via
    :func:`apply_drift_monitor_batch`. Pair with an alerting query
    over ``out_path`` (``tvd_ppm > threshold``); per-batch cost is
    the batch's gram fan-out + a ≤buckets-row join — nothing
    reference-corpus-sized is ever rescanned."""

    def apply(batch_df: DataFrame, batch_id: int) -> None:
        apply_drift_monitor_batch(
            batch_df, batch_id, ref_hist_path, out_path,
            id_col, text_col, buckets,
        )

    return (
        doc_stream.writeStream.foreachBatch(apply)
        .option("checkpointLocation", checkpoint)
        .outputMode("append")
        .start()
    )


def conversion_join(
    events: DataFrame,
    trigger_type: str = "view",
    conversion_type: str = "purchase",
    window_minutes: int = 60,
    watermark: str = "2 hours",
) -> DataFrame:
    """Stream-STREAM inner join — the Structured Streaming surface the
    stateful operators don't cover: every (trigger, conversion) pair
    for a user where the conversion lands within ``window_minutes``
    of the trigger (ad-tech view-through attribution at the pair
    grain; :func:`streaming.stateful` holds per-user scalars, this
    emits the joined rows). Returns ``(user_id, trigger_id, conv_id,
    lag_seconds)`` with lag as exact integer seconds (floor).

    Both sides carry the SAME watermark and the join condition bounds
    conversion time to [trigger, trigger + window], so Spark can
    evict trigger state once the watermark passes trigger_ts +
    window and conversion state immediately — bounded state at any
    stream length (the unbounded-state stream-stream join is the
    classic production OOM). Inner-join rows emit as soon as both
    sides arrive (no watermark hold-back). On a BATCH frame the same
    plan is the q36-family range join — one function, both surfaces,
    which is what the parity test pins."""
    if window_minutes < 1:
        raise ValueError(f"window_minutes must be >= 1, got {window_minutes}")
    t = events.where(F.col("event_type") == trigger_type).select(
        F.col("user_id").alias("t_user"),
        F.col("event_id").alias("trigger_id"),
        F.col("ts").alias("t_ts"),
    )
    c = events.where(F.col("event_type") == conversion_type).select(
        F.col("user_id").alias("c_user"),
        F.col("event_id").alias("conv_id"),
        F.col("ts").alias("c_ts"),
    )
    if events.isStreaming:
        t = t.withWatermark("t_ts", watermark)
        c = c.withWatermark("c_ts", watermark)
    cond = (
        (t["t_user"] == c["c_user"])
        & (c["c_ts"] >= t["t_ts"])
        & (c["c_ts"] <= t["t_ts"] + F.expr(f"INTERVAL {int(window_minutes)} MINUTES"))
    )
    return t.join(c, cond).select(
        F.col("t_user").alias("user_id"),
        "trigger_id",
        "conv_id",
        F.expr("(unix_micros(c_ts) - unix_micros(t_ts)) div 1000000").alias(
            "lag_seconds"
        ),
    )
