"""Chunked-CDC streaming containment for LONG media (VERDICT r8 #3):
recordings that never fit one micro-batch row arrive as ordered
(clip_id, chunk_seq, samples) PCM chunk rows and are reassembled with
bounded carry state. The core pins drive apply_chunked_audio_batch
DIRECTLY (the module-level-applier precedent: deterministic, no
micro-batch timing — the round-6/8 streaming-flake class lives in
readStream scheduling, not in this logic); one thin readStream e2e
covers the wiring."""

import collections
import json
import os

import numpy as np
import pytest

from dataflow_python_etl_spark.operators.multimodal import cdc_segment_hashes

CHUNK_DDL = "clip_id long, chunk_seq long, samples array<double>, is_last boolean"


def _clip(rng, n):
    return rng.randint(-32768, 32768, size=n).astype(np.float64)


def _chunk_rows(clip_id, samples, n_chunks, first_seq=0, last=True):
    parts = np.array_split(np.asarray(samples), n_chunks)
    return [
        (
            clip_id,
            first_seq + i,
            [float(x) for x in p],
            last and i == n_chunks - 1,
        )
        for i, p in enumerate(parts)
    ]


def _paths(tmp_path):
    return {
        "seg_path": str(tmp_path / "segs"),
        "state_path": str(tmp_path / "state"),
        "index_path": str(tmp_path / "index"),
        "corpus_path": str(tmp_path / "corpus"),
    }


def _apply(spark, rows, batch_id, paths, **kw):
    from dataflow_python_etl_spark.streaming.pipeline import (
        apply_chunked_audio_batch,
    )

    apply_chunked_audio_batch(
        spark.createDataFrame(rows, CHUNK_DDL), batch_id, **paths, **kw
    )


def _seg_multisets(spark, seg_path):
    out = {}
    for r in spark.read.parquet(seg_path).collect():
        out.setdefault(r["clip_id"], collections.Counter())[r["seg_hash"]] += 1
    return out


def test_chunked_ingest_matches_batch_kernel_and_drops_trim(spark, tmp_path):
    """The marquee parity pin: a clip streamed as chunks ACROSS
    BATCHES produces exactly the batch cdc_segment_hashes multiset;
    a trim of an already-ingested recording is dropped online with
    the same exact-integer arithmetic as batch
    audio_containment_pairs; an unrelated clip survives."""
    rng = np.random.RandomState(11)
    paths = _paths(tmp_path)
    A = _clip(rng, 4096)          # the "hour-scale" recording
    B = A[512:3584]               # a trim cut out of A
    C = _clip(rng, 2048)          # unrelated

    # batch 0: A in 5 chunks
    _apply(spark, _chunk_rows(1, A, 5), 0, paths)
    corpus = spark.read.parquet(paths["corpus_path"])
    assert [r["clip_id"] for r in corpus.collect()] == [1]
    segs = _seg_multisets(spark, paths["seg_path"])
    assert segs[1] == collections.Counter(cdc_segment_hashes(A))

    # batches 1+2: B and C each SPLIT ACROSS the two batches
    b_rows = _chunk_rows(2, B, 6)
    c_rows = _chunk_rows(3, C, 4)
    _apply(spark, [r for r in b_rows if r[1] < 3] + [c_rows[0]], 1, paths)
    # nothing finished yet: corpus unchanged, open state carried
    assert spark.read.parquet(paths["corpus_path"]).count() == 1
    st = {r["clip_id"]: r for r in spark.read.parquet(paths["state_path"]).collect()}
    assert set(st) == {2, 3} and st[2]["next_seq"] == 3
    _apply(spark, [r for r in b_rows if r[1] >= 3] + c_rows[1:], 2, paths)

    segs = _seg_multisets(spark, paths["seg_path"])
    assert segs[2] == collections.Counter(cdc_segment_hashes(B))
    assert segs[3] == collections.Counter(cdc_segment_hashes(C))
    got = sorted(
        r["clip_id"] for r in spark.read.parquet(paths["corpus_path"]).collect()
    )
    assert got == [1, 3]  # trim dropped, unrelated survived
    # finished clips leave the state table
    assert spark.read.parquet(paths["state_path"]).count() == 0

    # the drop used the batch operator's exact arithmetic: recompute
    # containment from the multisets and pin it against the batch
    # audio_containment_pairs on WAV-encoded single-row clips
    ca, cb = segs[1], segs[2]
    common = sum((ca & cb).values())
    na, nb = sum(ca.values()), sum(cb.values())
    ppm = (1_000_000 * common) // min(na, nb)
    assert ppm >= 600_000

    from dataflow_python_etl_spark.operators.codecs import encode_wav
    from dataflow_python_etl_spark.operators.multimodal import (
        audio_containment_pairs,
    )

    clips = spark.createDataFrame(
        [
            (1, bytearray(encode_wav(A.astype(np.int64)))),
            (2, bytearray(encode_wav(B.astype(np.int64)))),
        ],
        "audio_id long, payload binary",
    )
    pair = audio_containment_pairs(clips).collect()
    assert len(pair) == 1
    assert pair[0]["containment_ppm"] == ppm
    assert pair[0]["n_common"] == common


def test_chunked_ingest_replay_converges(spark, tmp_path):
    """Crash-replay convergence: re-applying a batch whose ledger was
    rolled back rewrites every surface to identical content (all
    appends are partition-B dynamic overwrites; state swap carries
    the ledger); a replay WITH the ledger intact is a recorded
    no-op."""
    rng = np.random.RandomState(5)
    paths = _paths(tmp_path)
    A = _clip(rng, 1500)
    _apply(spark, _chunk_rows(1, A, 3), 0, paths)
    rows_b1 = _chunk_rows(2, _clip(rng, 900), 2)
    _apply(spark, rows_b1, 1, paths)

    def snapshot():
        return {
            p: sorted(
                tuple(r) for r in spark.read.parquet(paths[p]).collect()
            )
            for p in ("seg_path", "index_path", "corpus_path", "state_path")
        }

    before = snapshot()
    # ledger intact: replay is a no-op
    _apply(spark, rows_b1, 1, paths)
    assert snapshot() == before
    # simulate crash-before-ledger: roll the ledger back and replay
    with open(os.path.join(paths["state_path"], "_applied_batch.json"), "w") as f:
        json.dump({"batch_id": 0}, f)
    _apply(spark, rows_b1, 1, paths)
    assert snapshot() == before


def test_chunked_ingest_replay_after_index_before_corpus(spark, tmp_path):
    """ADVICE r9 (high): the crash window BETWEEN the index partition
    write and the corpus write. The crashed attempt leaves index
    partition ingest_batch=B populated with this batch's survivors;
    a replay that probes against that stale partition self-matches
    every finishing clip at 1e6 ppm (and inverts same-batch
    lower-id-wins peer decisions), drops them all, and — because an
    empty dynamic overwrite is a no-op — seals a permanent
    index/corpus inconsistency at the state swap. The fixed probe
    excludes ingest_batch == B, so replay reproduces the original
    attempt's inputs and converges to the clean-run surfaces."""
    import shutil

    rng = np.random.RandomState(7)
    paths = _paths(tmp_path)
    A = _clip(rng, 1500)
    _apply(spark, _chunk_rows(1, A, 3), 0, paths)

    X = _clip(rng, 1200)  # batch-1 survivor (lower id)
    Y = X[100:1100]       # trim of X, higher id: peer-dropped in-batch
    C = A[200:1300]       # trim of A: dropped against the ingested index
    rows_b1 = _chunk_rows(2, X, 2) + _chunk_rows(3, Y, 2) + _chunk_rows(4, C, 2)

    state_backup = str(tmp_path / "state_backup")
    shutil.copytree(paths["state_path"], state_backup)

    _apply(spark, rows_b1, 1, paths)  # the clean run = expected surfaces

    def snapshot():
        return {
            p: sorted(tuple(r) for r in spark.read.parquet(paths[p]).collect())
            for p in ("seg_path", "index_path", "corpus_path", "state_path")
        }

    expected = snapshot()
    assert sorted(
        r["clip_id"] for r in spark.read.parquet(paths["corpus_path"]).collect()
    ) == [1, 2]

    # Rewind to the crash point: seg + index partitions for batch 1 are
    # on disk (the crashed attempt wrote them), the corpus partition is
    # not, and the state/ledger swap never happened.
    shutil.rmtree(os.path.join(paths["corpus_path"], "ingest_batch=1"))
    shutil.rmtree(paths["state_path"])
    shutil.copytree(state_backup, paths["state_path"])

    _apply(spark, rows_b1, 1, paths)  # replay
    assert snapshot() == expected


def test_chunked_ingest_loud_guards(spark, tmp_path):
    """Out-of-order/gapped chunks and a mid-clip is_last must FAIL
    LOUDLY (fabricated segment boundaries otherwise); zero-evidence
    clips (every segment under the CDC minimum) are dropped, not
    ingested."""
    from pyspark.errors.exceptions.captured import PythonException

    rng = np.random.RandomState(3)
    paths = _paths(tmp_path)
    A = _clip(rng, 600)
    _apply(spark, _chunk_rows(1, A, 2), 0, paths)

    with pytest.raises(PythonException, match="out of order"):
        _apply(spark, _chunk_rows(2, _clip(rng, 100), 2, first_seq=1), 1, paths)
    with pytest.raises(PythonException, match="non-final chunk"):
        rows = _chunk_rows(3, _clip(rng, 100), 2)
        rows = [(cid, seq, s, True) for (cid, seq, s, _l) in rows]
        _apply(spark, rows, 1, paths)

    # 3-sample clip: below _CDC_MIN_SEG, no evidence -> not ingested
    _apply(spark, [(9, 0, [1.0, 2.0, 3.0], True)], 1, paths)
    got = sorted(
        r["clip_id"] for r in spark.read.parquet(paths["corpus_path"]).collect()
    )
    assert got == [1]


def test_chunked_audio_restart_mid_first_recording(spark, tmp_path):
    """ADVICE r10 high (latent pre-existing twin of the video flaw):
    batch 0 carries only partial chunks of the first recording — state
    swaps, corpus legitimately absent — and batch 1 must proceed, not
    die on the old state-existence restart guard."""
    rng = np.random.RandomState(17)
    paths = _paths(tmp_path)
    rows = _chunk_rows(1, _clip(rng, 4096), 4)
    _apply(spark, rows[:2], 0, paths)  # no is_last in batch 0
    assert os.path.exists(paths["state_path"])
    assert not os.path.exists(paths["corpus_path"])
    led = json.load(open(os.path.join(paths["state_path"], "_applied_batch.json")))
    assert led == {"batch_id": 0, "corpus_written": False}
    _apply(spark, rows[2:], 1, paths)  # must NOT raise "corpus missing"
    assert [
        r["clip_id"] for r in spark.read.parquet(paths["corpus_path"]).collect()
    ] == [1]


def test_chunked_audio_lost_corpus_still_refuses(spark, tmp_path):
    """Genuine loss still refuses: committed corpus_written=True +
    missing corpus dir on a later batch entry raises."""
    import shutil

    rng = np.random.RandomState(18)
    paths = _paths(tmp_path)
    _apply(spark, _chunk_rows(1, _clip(rng, 2048), 2), 0, paths)
    assert os.path.exists(paths["corpus_path"])
    shutil.rmtree(paths["corpus_path"])
    with pytest.raises(RuntimeError, match="corpus .* is missing"):
        _apply(spark, _chunk_rows(2, _clip(rng, 2048), 2), 1, paths)


def test_chunked_audio_replay_after_mid_swap_crash(spark, tmp_path):
    """A kill between the state swap's two renames leaves the carry
    state only in its ``.__bak_*`` sibling. The re-delivered batch must
    restore it before reading the ledger: an empty carry state would
    silently drop every open clip the batch does not touch, and that
    clip's next chunk would then fail as "out of order"."""
    import shutil

    rng = np.random.RandomState(31)
    paths = _paths(tmp_path)
    a = _chunk_rows(1, _clip(rng, 1500), 3)
    b = _chunk_rows(2, _clip(rng, 1500), 3)
    _apply(spark, a[:1] + b[:1], 0, paths)
    state_b0 = str(tmp_path / "state_b0")
    shutil.copytree(paths["state_path"], state_b0)
    _apply(spark, b[1:], 1, paths)  # clip 1 stays open, untouched
    # the kill: batch 1's partitions are written, the old state was
    # renamed aside, the new one never moved in
    shutil.rmtree(paths["state_path"])
    shutil.move(state_b0, paths["state_path"] + ".__bak_0000dead")

    _apply(spark, b[1:], 1, paths)  # at-least-once re-delivery
    _apply(spark, a[1:], 2, paths)
    got = sorted(
        r["clip_id"] for r in spark.read.parquet(paths["corpus_path"]).collect()
    )
    assert got == [1, 2]
    assert spark.read.parquet(paths["state_path"]).count() == 0


def test_chunked_audio_reset_checkpoint_raises(spark, tmp_path):
    """A batch id BELOW the ledger's is never a foreachBatch replay
    (that re-delivers only the recorded batch): it means the checkpoint
    was reset over a live sink, and skipping it would silently drop
    every early batch. It fails loudly, naming the sink."""
    rng = np.random.RandomState(37)
    paths = _paths(tmp_path)
    rows = _chunk_rows(1, _clip(rng, 1200), 2)
    _apply(spark, rows[:1], 0, paths)
    _apply(spark, rows[1:], 1, paths)
    with pytest.raises(RuntimeError, match="chunked audio ingest: .*checkpoint was reset"):
        _apply(spark, rows[:1], 0, paths)


def test_stream_chunked_audio_e2e(spark, tmp_path):
    """Thin readStream wiring check: two source files become two
    micro-batches; a trim split across them is dropped, its source
    survives. Sink state polled via the written tables (the repo's
    streaming-test discipline)."""
    from dataflow_python_etl_spark.streaming.pipeline import (
        stream_chunked_audio_containment_ingest,
    )

    rng = np.random.RandomState(23)
    paths = _paths(tmp_path)
    A = _clip(rng, 3000)
    B = A[200:2200]
    src = str(tmp_path / "src")
    os.makedirs(src)
    spark.createDataFrame(_chunk_rows(1, A, 3), CHUNK_DDL).coalesce(1).write.mode(
        "append"
    ).parquet(src)
    stream = (
        spark.readStream.schema(CHUNK_DDL.replace(":", ""))
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    q = stream_chunked_audio_containment_ingest(
        stream,
        corpus_path=paths["corpus_path"],
        index_path=paths["index_path"],
        seg_path=paths["seg_path"],
        state_path=paths["state_path"],
        checkpoint=str(tmp_path / "ckpt"),
    )
    try:
        q.processAllAvailable()
        assert sorted(
            r["clip_id"]
            for r in spark.read.parquet(paths["corpus_path"]).collect()
        ) == [1]
        spark.createDataFrame(_chunk_rows(2, B, 2), CHUNK_DDL).coalesce(
            1
        ).write.mode("append").parquet(src)
        q.processAllAvailable()
        assert sorted(
            r["clip_id"]
            for r in spark.read.parquet(paths["corpus_path"]).collect()
        ) == [1]
        assert spark.read.parquet(paths["state_path"]).count() == 0
    finally:
        q.stop()
