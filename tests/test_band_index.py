"""Persisted MinHash band index, BUCKETED by (band, sig).

The round-3 index was plain parquet: every streaming batch's (band,
sig) probe shuffled the WHOLE index — a per-batch cost growing with
the corpus forever. Bucketing the index by its probe key amortizes
that shuffle into the append-time write; these tests pin the payoff
on the actual physical plan: the probe join leaves the index side
with ZERO Exchange (only the bounded batch side moves).
"""

import os

import pytest
from pyspark.sql import functions as F

from dataflow_python_etl_spark.operators.dedup import (
    BandIndexStore,
    _band_frame,
    minhash_band_index,
    minhash_lsh_pairs_incremental,
    minhash_signatures,
    unpersist_all,
)
from dataflow_python_etl_spark.plans.checks import count_exchanges, explain_str

TEXTS = {
    "a": "the quick brown fox jumps over the lazy dog near the old river bank today",
    "b": "completely different words describe an unrelated subject in every single token here now",
    "c": "yet another fully distinct sentence carrying no overlap with previous documents at all",
    "d": "a fourth unique passage whose shingles match nothing else in the corpus stream",
}


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id: long, text: string")


@pytest.fixture
def no_broadcast(spark):
    """Pin the AT-SCALE plan shape: at 100 TB the index is never
    broadcast-able, so disable the threshold to see the join Catalyst
    would pick there (SMJ/SHJ over the bucketed layout)."""
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
    yield
    spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.unset("spark.sql.adaptive.autoBroadcastJoinThreshold")


def test_band_index_store_lifecycle(spark, tmp_path):
    store = BandIndexStore(spark, "t_bix_life", path=str(tmp_path / "bix"), n_buckets=4)
    assert not store.exists()
    docs = _docs(spark, [(1, TEXTS["a"]), (2, TEXTS["b"])])
    store.append(minhash_band_index(docs))
    assert store.exists()
    assert {r["doc"] for r in store.read().select("doc").distinct().collect()} == {1, 2}
    # append preserves the bucket spec (Spark validates it on write)
    store.append(minhash_band_index(_docs(spark, [(3, TEXTS["c"])])))
    assert {r["doc"] for r in store.read().select("doc").distinct().collect()} == {1, 2, 3}
    store.drop()
    assert not store.exists()
    assert not os.path.exists(str(tmp_path / "bix"))


def test_bucketed_probe_moves_only_the_batch_side(spark, tmp_path, no_broadcast):
    """THE scale pin: (band, sig) probe against the bucketed index has
    exactly ONE Exchange — hashpartitioning(band, sig) of the bounded
    batch — and the index FileScan reads its buckets in place."""
    corpus = _docs(spark, [(i, t + f" v{i}") for i, t in enumerate(TEXTS.values())])
    store = BandIndexStore(spark, "t_bix_probe", path=str(tmp_path / "bix"), n_buckets=4)
    store.append(minhash_band_index(corpus))
    batch = _docs(spark, [(100, TEXTS["a"]), (101, "totally novel content not seen before")])
    nb = _band_frame(minhash_signatures(batch, "doc_id", "text", 3, 32), "doc_id", 32, 4).alias("nb")
    ix = store.read().alias("ix")
    probe = nb.join(
        ix, (F.col("nb.band") == F.col("ix.band")) & (F.col("nb.sig") == F.col("ix.sig"))
    )
    plan = explain_str(probe, "simple")
    # the index side scans bucketed files with NO Exchange above them
    assert "Bucketed: true" in plan, plan
    assert "SelectedBucketsCount" in plan, plan
    # every Exchange in the plan belongs to the batch side (signature
    # aggregation + the probe repartition); the index contributes none.
    # The index FileScan is the join's last (right) child in the simple
    # dump — no Exchange may appear after it.
    tail = plan[plan.index("FileScan parquet") :]
    assert "Exchange" not in tail, plan
    unpersist_all()
    store.drop()


def test_incremental_pairs_equal_with_bucketed_index(spark, tmp_path):
    """minhash_lsh_pairs_incremental over the bucketed store returns
    the identical pair set to the inline (in-plan) index."""
    corpus = _docs(spark, [(1, TEXTS["a"]), (2, TEXTS["b"]), (3, TEXTS["c"])])
    new = _docs(
        spark,
        [(10, TEXTS["a"]), (11, TEXTS["d"]), (12, TEXTS["d"] + " extra"), (13, "fresh unique words")],
    )
    want = {
        (r["doc_a"], r["doc_b"], r["jaccard"])
        for r in minhash_lsh_pairs_incremental(corpus, new, None, "doc_id", "text").collect()
    }
    unpersist_all()
    store = BandIndexStore(spark, "t_bix_inc", path=str(tmp_path / "bix"), n_buckets=4)
    store.append(minhash_band_index(corpus))
    got = {
        (r["doc_a"], r["doc_b"], r["jaccard"])
        for r in minhash_lsh_pairs_incremental(
            corpus, new, store.read(), "doc_id", "text"
        ).collect()
    }
    unpersist_all()
    store.drop()
    assert got == want and want  # non-empty: doc 10 must pair with 1


def test_stream_dedup_ingest_with_bucketed_index(spark, tmp_path):
    """The streaming ingest scenario from test_streaming, now with the
    catalog-bucketed index: same survivor set, and the index TABLE
    covers exactly the corpus survivors across batch appends."""
    from dataflow_python_etl_spark.streaming.pipeline import stream_dedup_ingest

    mk = lambda *rows: _docs(spark, list(rows))  # noqa: E731
    src = str(tmp_path / "docs_in")
    corpus = str(tmp_path / "corpus")
    index = str(tmp_path / "index")
    ckpt = str(tmp_path / "ckpt")

    def run():
        q = stream_dedup_ingest(
            spark.readStream.schema("doc_id long, text string").parquet(src),
            corpus,
            index,
            ckpt,
            index_table="t_bix_stream",
            index_buckets=4,
        )
        q.processAllAvailable()
        q.stop()

    mk((1, TEXTS["a"]), (2, TEXTS["a"]), (3, TEXTS["b"])).write.parquet(src)
    run()
    assert {r["doc_id"] for r in spark.read.parquet(corpus).collect()} == {1, 3}

    mk((0, TEXTS["a"]), (11, TEXTS["b"]), (12, TEXTS["c"]), (13, TEXTS["c"])).write.mode(
        "append"
    ).parquet(src)
    run()  # separate batch: 12 must COMMIT before batch 3 replays it
    mk((12, TEXTS["c"]), (14, TEXTS["d"])).write.mode("append").parquet(src)
    run()
    rows = spark.read.parquet(corpus).collect()
    assert {r["doc_id"] for r in rows} == {1, 3, 12, 14}
    assert len(rows) == 4
    store = BandIndexStore(spark, "t_bix_stream", path=index, n_buckets=4)
    assert {r["doc"] for r in store.read().select("doc").distinct().collect()} == {1, 3, 12, 14}
    store.drop()


def test_stream_index_rows_equal_batch_band_index(spark, tmp_path):
    """The sink appends each batch's survivors' band rows from the
    batch's ONE band derivation (the probe's cache, semi-joined with
    the survivors): after two batches the bucketed index holds exactly
    ``minhash_band_index(corpus)``, row for row, as a multiset."""
    from collections import Counter

    from dataflow_python_etl_spark.streaming.pipeline import stream_dedup_ingest

    src = str(tmp_path / "in")
    corpus = str(tmp_path / "corpus")
    index = str(tmp_path / "index")
    _docs(spark, [(1, TEXTS["a"]), (2, TEXTS["a"]), (3, TEXTS["b"])]).write.parquet(src)
    q = stream_dedup_ingest(
        spark.readStream.schema("doc_id long, text string").parquet(src),
        corpus,
        index,
        str(tmp_path / "ckpt"),
        index_table="t_bix_rows",
        index_buckets=4,
    )
    q.processAllAvailable()
    _docs(
        spark, [(11, TEXTS["b"] + " again"), (12, TEXTS["c"]), (13, TEXTS["d"])]
    ).write.mode("append").parquet(src)
    q.processAllAvailable()
    q.stop()
    store = BandIndexStore(spark, "t_bix_rows", path=index, n_buckets=4)
    rows = lambda df: Counter(tuple(r) for r in df.select("doc", "band", "sig").collect())  # noqa: E731
    got = rows(store.read())
    want = rows(minhash_band_index(spark.read.parquet(corpus)))
    store.drop()
    assert {d for d, _, _ in want} == {1, 3, 12, 13}
    assert got == want


def test_registered_cache_coalesces_to_its_data(spark):
    """Engine-session premise of the batch-sized stream probe: AQE may
    coalesce a cached plan (canChangeCachedPlanOutputPartitioning), so
    a tiny aggregated cache holds ONE partition, not the 32 of
    spark.sql.shuffle.partitions that every consumer would re-pay."""
    from dataflow_python_etl_spark.operators.dedup import register_cache

    tiny = register_cache(
        spark.range(100).groupBy((F.col("id") % 5).alias("k")).count()
    )
    assert tiny.count() == 5
    assert tiny.rdd.getNumPartitions() == 1
    unpersist_all()


def test_minhash_signatures_equal_per_permutation_form(spark):
    """The single parsed ``array(min(...), ...)`` signature equals the
    former spelling — one aliased ``min`` aggregate per permutation,
    packed by ``F.array`` — value for value, as ``array<bigint>``."""
    from dataflow_python_etl_spark.functions.text import md5_hash60, shingles
    from dataflow_python_etl_spark.operators.dedup import MINHASH_AB, P_MOD

    docs = _docs(spark, [(i, t) for i, t in enumerate(TEXTS.values())] + [(9, "too short")])
    hashed = docs.select(
        F.col("doc_id").alias("doc"), F.explode(shingles("text", 3)).alias("shingle")
    ).select("doc", (md5_hash60(F.col("shingle")) % P_MOD).alias("bh"))
    old = (
        hashed.groupBy("doc")
        .agg(*[
            F.expr(f"min((bh * {a} + {b}) % {P_MOD})").alias(f"h{i}")
            for i, (a, b) in enumerate(MINHASH_AB)
        ])
        .select(
            F.col("doc").alias("doc_id"),
            F.array(*[F.col(f"h{i}") for i in range(32)]).alias("signature"),
        )
    )
    new = minhash_signatures(docs, "doc_id", "text", 3, 32)
    assert new.schema == old.schema
    assert new.schema["signature"].dataType.simpleString() == "array<bigint>"
    got = {r["doc_id"]: r["signature"] for r in new.collect()}
    assert len(got) == 4  # the 2-word doc has no 3-gram shingles
    assert got == {r["doc_id"]: r["signature"] for r in old.collect()}


def test_stream_restart_rebuilds_vanished_bucketed_index(spark, tmp_path):
    """Poisoned-index guard, bucketed flavor: if the index table/files
    vanish, a restarted sink rebuilds the FULL corpus index (not just
    the current batch's bands) before probing."""
    import shutil

    from dataflow_python_etl_spark.streaming.pipeline import stream_dedup_ingest

    src = str(tmp_path / "in")
    corpus = str(tmp_path / "corpus")
    index = str(tmp_path / "index")
    ckpt = str(tmp_path / "ckpt")

    def run():
        q = stream_dedup_ingest(
            spark.readStream.schema("doc_id long, text string").parquet(src),
            corpus,
            index,
            ckpt,
            index_table="t_bix_vanish",
            index_buckets=4,
        )
        q.processAllAvailable()
        q.stop()

    _docs(spark, [(1, TEXTS["a"]), (2, TEXTS["b"])]).write.parquet(src)
    run()
    # lose the index (catalog row + files), keep the corpus
    spark.sql("DROP TABLE IF EXISTS t_bix_vanish")
    shutil.rmtree(index)
    # doc 10 duplicates corpus doc 1 — only a FULL rebuild catches it
    _docs(spark, [(10, TEXTS["a"]), (11, TEXTS["c"])]).write.mode("append").parquet(src)
    run()
    assert {r["doc_id"] for r in spark.read.parquet(corpus).collect()} == {1, 2, 11}
    BandIndexStore(spark, "t_bix_vanish", path=index).drop()


def test_hot_bucket_probe_skew_split_balances_tasks(spark):
    """The crawl worst case: a 90%-duplicate batch lands every dup in
    ONE (band, sig) bucket, so the probe join has a single hot key.
    MEASURED pin: with AQE skew-join (session default; thresholds
    lowered here to fire at test bytes), the hot bucket's join rows
    spread across tasks near-uniformly — vs the control run (skew
    join off) where one task eats essentially the whole probe. Same
    output either way."""
    import random

    from dataflow_python_etl_spark.operators.dedup import minhash_signatures

    hot = (
        "the same duplicated crawl boilerplate sentence repeated across "
        "the entire mirror set again"
    )
    rng = random.Random(5)
    uniq = lambda: " ".join(f"tok{rng.randrange(10**6)}" for _ in range(14))  # noqa: E731
    corpus = _docs(
        spark, [(i, hot) for i in range(180)] + [(200 + i, uniq()) for i in range(20)]
    )
    batch = _docs(
        spark, [(1000 + i, hot) for i in range(45)] + [(2000 + i, uniq()) for i in range(5)]
    )
    ix = _band_frame(minhash_signatures(corpus, "doc_id", "text", 3, 32), "doc_id", 32, 4).alias("ix")
    nb = _band_frame(minhash_signatures(batch, "doc_id", "text", 3, 32), "doc_id", 32, 4).alias("nb")
    probe = nb.join(
        ix, (F.col("nb.band") == F.col("ix.band")) & (F.col("nb.sig") == F.col("ix.sig"))
    )

    def run(skew_conf):
        base = {
            # at 100 TB the index side is never broadcastable — see at-scale pin above
            "spark.sql.autoBroadcastJoinThreshold": "-1",
            "spark.sql.adaptive.autoBroadcastJoinThreshold": "-1",
        }
        conf = {**base, **skew_conf}
        prev = {k: spark.conf.get(k, None) for k in conf}
        for k, v in conf.items():
            spark.conf.set(k, v)
        try:
            dist = probe.withColumn("pid", F.spark_partition_id()).groupBy("pid").count().collect()
        finally:
            for k, v in prev.items():
                spark.conf.set(k, v) if v is not None else spark.conf.unset(k)
        rows = sorted((r["count"] for r in dist), reverse=True)
        return rows, sum(rows)

    control, total_c = run({"spark.sql.adaptive.skewJoin.enabled": "false"})
    balanced, total_b = run({
        # fire the session-default skew-join at test-sized bytes
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "1.2",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "8KB",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "8KB",
        "spark.sql.adaptive.coalescePartitions.minPartitionSize": "1KB",
    })
    # identical join output; hot bucket = 45 x 180 x 8 bands of it
    assert total_c == total_b and total_b > 45 * 180
    # control: the hot key is one task holding ~everything
    assert control[0] / total_c > 0.85, control[:5]
    # skew split: several real tasks, and the biggest holds at most
    # half (AQE's post-split coalescing can re-merge small splits, so
    # the pin is "hot key demonstrably divided", not a fixed fan-out)
    assert len(balanced) >= 4, balanced
    assert balanced[0] / total_b <= 0.5, balanced[:8]
    assert balanced[0] < control[0] / 2, (balanced[0], control[0])


def _pair_rows(df):
    return {(r["doc_a"], r["doc_b"], r["jaccard"]) for r in df.collect()}


def test_probe_drops_identity_pairs_of_a_replayed_index(spark):
    """A crash between the index and corpus appends leaves the batch's
    own band rows in the index, so the replayed probe matches each
    batch doc against itself. Those (d, d) candidates must never reach
    verification (they would score 1.0 and remove the doc): the pairs
    equal the clean-index pairs, and only the real duplicate goes."""
    from dataflow_python_etl_spark.operators.dedup import _cut, _lsh_pairs_incremental

    unpersist_all()
    corpus = _docs(spark, [(1, TEXTS["a"]), (2, TEXTS["b"])])
    batch = _docs(spark, [(12, TEXTS["c"]), (13, TEXTS["d"]), (14, TEXTS["a"])])
    new_bands = _cut(_band_frame(minhash_signatures(batch, "doc_id", "text", 3, 32), "doc_id", 32, 4))

    def pairs(index):
        return _pair_rows(
            _lsh_pairs_incremental(corpus, batch, new_bands, index, "doc_id", "text", 3, 0.5)
        )

    replayed = pairs(minhash_band_index(corpus).unionByName(minhash_band_index(batch)))
    clean = pairs(minhash_band_index(corpus))
    unpersist_all()
    assert all(a < b for a, b, _ in replayed), replayed
    assert replayed == clean == {(1, 14, 1.0)}
    removed = {d for a, b, _ in replayed for d in (a, b)} & {12, 13, 14}
    assert removed == {14}


def test_verify_pairs_matches_posting_verification(spark):
    """The incremental probe's direct per-pair check (``_verify_pairs``)
    scores every candidate exactly as the posting-list form
    (``_verify_jaccard``) does, including: docs with fewer than n
    tokens, empty and whitespace-only text, an id on both sides of the
    corpus ∪ batch union (a replay), a score exactly at the threshold
    after rounding, and a zero-common candidate at threshold 0."""
    from dataflow_python_etl_spark.operators.dedup import _verify_jaccard, _verify_pairs

    corpus_rows = [
        (1, "w1 w2 w3 w4 w5"),
        (2, "w1 w2 w3 w4 x5"),  # 2 common of 3 + 3 shingles: exactly 0.5
        (3, "k1 k2 k3 k4"),
        (4, "k1 k2 k3 z4"),  # 1 / 3 -> 0.333333 after rounding
        (5, "too short"),  # fewer than n=3 tokens: no shingle
        (6, ""),
        (7, "   \t "),
        (8, "unrelated tokens share nothing with the others"),
    ]
    batch_rows = [
        (2, "w1 w2 w3 w4 x5"),  # replay: already in the corpus
        (9, TEXTS["a"]),
        (10, TEXTS["a"] + " again"),
    ]
    ids = sorted({i for i, _ in corpus_rows + batch_rows})
    cands = spark.createDataFrame(
        [(a, b) for a in ids for b in ids if a < b], "doc_a: long, doc_b: long"
    )
    union = _docs(spark, corpus_rows).union(_docs(spark, batch_rows))
    unique = _docs(spark, corpus_rows + batch_rows[1:])
    for threshold in (0.0, 0.333333, 0.5):
        # as sorted lists: the replayed doc 2 must not double a pair row
        want = sorted(_verify_jaccard(unique, cands, "doc_id", "text", 3, threshold).collect())
        got = sorted(_verify_pairs(union, cands, "doc_id", "text", 3, threshold).collect())
        unpersist_all()
        assert got == want, (threshold, got, want)
        assert (1, 2, 0.5) in got
        assert ((3, 4, 0.333333) in got) == (threshold <= 0.333333)
        assert (9, 10, 0.928571) in got
        # no zero-common pair, even at threshold 0
        assert all(j > 0 for _, _, j in got), got
        assert not {d for a, b, _ in got for d in (a, b)} & {5, 6, 7, 8}


def test_unpersist_all_releases_probe_cuts(spark):
    """The probe's lineage cuts (band rows, candidates, candidate
    shingle sets) are registered: ``unpersist_all`` frees their RDDs,
    quietly (no per-cut WARN), and a released frame fails loudly
    instead of recomputing."""
    jsc = spark.sparkContext._jsc
    unpersist_all()
    before = jsc.getPersistentRDDs().size()
    corpus = _docs(spark, [(1, TEXTS["a"]), (2, TEXTS["b"])])
    new = _docs(spark, [(10, TEXTS["a"]), (11, TEXTS["c"])])
    pairs = minhash_lsh_pairs_incremental(corpus, new, None, "doc_id", "text")
    assert _pair_rows(pairs) == {(1, 10, 1.0)}
    assert jsc.getPersistentRDDs().size() == before + 3
    # the JVM logs to the stderr it was launched with, which pytest's
    # capfd cannot see: read its log through a log4j appender instead
    ctx = spark._jvm.org.apache.logging.log4j.LogManager.getContext(False)
    log = spark._jvm.java.io.StringWriter()
    appender = spark._jvm.org.apache.logging.log4j.core.appender.WriterAppender.createAppender(
        None, None, log, "release_probe", False, True
    )
    appender.start()
    root = ctx.getConfiguration().getRootLogger()
    root.addAppender(appender, None, None)
    ctx.updateLoggers()
    try:
        assert unpersist_all() == 3
    finally:
        root.removeAppender("release_probe")
        ctx.updateLoggers()
    assert "lineage has been truncated" not in log.toString()
    assert jsc.getPersistentRDDs().size() == before
    # a new query over the released frame (a re-collect of the same
    # one would reuse its executed stages)
    with pytest.raises(Exception, match="CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND"):
        pairs.count()


def test_stream_batches_release_every_registered_frame(spark, tmp_path):
    """Each micro-batch's cuts and caches are released at its end: over
    12 batches the session's persistent-RDD count never grows."""
    from dataflow_python_etl_spark.operators import dedup
    from dataflow_python_etl_spark.streaming.pipeline import stream_dedup_ingest

    jsc = spark.sparkContext._jsc
    src = str(tmp_path / "in")
    texts = list(TEXTS.values())
    _docs(spark, [(0, texts[0])]).coalesce(1).write.parquet(src)
    unpersist_all()
    before = jsc.getPersistentRDDs().size()
    q = stream_dedup_ingest(
        spark.readStream.schema("doc_id long, text string").parquet(src),
        str(tmp_path / "corpus"),
        str(tmp_path / "index"),
        str(tmp_path / "ckpt"),
        replay_guard="watermark",
    )
    sizes = []
    for k in range(12):
        if k:
            rows = [(10 * k, texts[k % 4] + f" batch {k}"), (10 * k + 1, texts[(k + 1) % 4])]
            _docs(spark, rows).coalesce(1).write.mode("append").parquet(src)
        q.processAllAvailable()
        sizes.append(jsc.getPersistentRDDs().size())
    q.stop()
    assert not dedup._PERSISTED
    assert max(sizes) <= before, (before, sizes)
    # the batches ran the probe: later batches repeat earlier texts
    # exactly, and those copies were dropped
    assert spark.read.parquet(str(tmp_path / "corpus")).count() < 1 + 2 * 11
