"""Exhaustive crash-point fault injection for the three storage
protocols (VERDICT r10 #5): ``write_and_swap``,
``staged_partition_append`` and ``compact_table`` each promise a
recover-or-intact contract under process death. The existing replay
tests drive *known* crash windows; this sweep derives the windows
instead of enumerating them — every Python-side filesystem mutation
the protocol performs is a potential death point, and the test
crashes at EACH op index in turn.

Crash model (the part that makes this faithful): the injector wraps
the fs primitives (os.rename / os.replace / os.remove / os.makedirs /
shutil.move / shutil.rmtree / shutil.copyfile / open-for-write) and
the Spark writers (``DataFrameWriter.parquet`` / ``save``) with a
path-scope filter, and at the chosen op index the op raises
``InjectedCrash`` WITHOUT executing — after which every LATER
in-scope op refuses too. A plain raised exception would let
``except``-block rollback code run (swap_table_dir restores its
backup on failure), which a SIGKILL never does; suppressing all
subsequent fs ops freezes the state at the crash point exactly like
a kill would. ``InjectedCrash`` subclasses BaseException so no
production ``except Exception`` can swallow it (swap_table_dir's
``except BaseException`` restore path is itself made of fs ops, so
it re-raises through the injector).

Verification reads go through DuckDB, not Spark — an INDEPENDENT
reader checking "readers never see a torn or missing table" is a
stronger witness than the engine that wrote the files.
"""

from __future__ import annotations

import builtins
import glob
import os
import shutil

import duckdb
import pytest
from pyspark.sql.readwriter import DataFrameWriter

from dataflow_python_etl_spark.operators.upsert import (
    recover_table_dir,
    staged_partition_append,
    write_and_swap,
)


class InjectedCrash(BaseException):
    pass


class Injector:
    """Counts / kills in-scope filesystem mutations. ``crash_at=None``
    is the census pass (runs clean, records the op trace). With
    ``snapshot_dir`` the census also copies the scope tree to
    ``snapshot_dir/k<N>`` just before op N runs: that copy is exactly
    what a kill at op N leaves on disk (ops before N ran, none after),
    without re-running the protocol up to N."""

    PATCHES = [
        (os, "rename"),
        (os, "replace"),
        (os, "remove"),
        (os, "makedirs"),
        (shutil, "move"),
        (shutil, "rmtree"),
        (shutil, "copyfile"),
        # each Spark write is one op: killed before it runs, it leaves
        # nothing behind (a torn Spark commit is Spark's own protocol)
        (DataFrameWriter, "parquet"),
        (DataFrameWriter, "save"),
    ]

    def __init__(
        self,
        scope_prefix: str,
        crash_at: int | None = None,
        snapshot_dir: str | None = None,
    ):
        self.scope = os.path.abspath(scope_prefix)
        self.crash_at = crash_at
        self.snapshot_dir = snapshot_dir
        self._copying = False
        self.n = 0
        self.dead = False
        self.trace: list[tuple[str, tuple]] = []
        self._saved: list[tuple] = []

    def _in_scope(self, args) -> bool:
        for a in args:
            if isinstance(a, (str, os.PathLike)) and os.path.abspath(
                os.fspath(a)
            ).startswith(self.scope):
                return True
        return False

    def _gate(self, name: str, args) -> None:
        if self._copying or not self._in_scope(args):
            return
        if self.dead:
            raise InjectedCrash(f"post-crash fs op suppressed: {name}{args!r}")
        if self.crash_at is not None and self.n == self.crash_at:
            self.dead = True
            raise InjectedCrash(f"crash at op {self.n}: {name}{args!r}")
        if self.snapshot_dir is not None:
            self._copying = True  # the copy's own fs calls are not ops
            try:
                shutil.copytree(
                    self.scope, os.path.join(self.snapshot_dir, f"k{self.n}"), symlinks=True
                )
            finally:
                self._copying = False
        self.n += 1
        self.trace.append(
            (
                name,
                tuple(
                    os.fspath(a)
                    for a in args
                    if isinstance(a, (str, os.PathLike))
                ),
            )
        )

    def __enter__(self) -> "Injector":
        inj = self
        for mod, name in self.PATCHES:
            real = getattr(mod, name)
            self._saved.append((mod, name, real))

            def make(real, name):
                def wrapped(*a, **kw):
                    inj._gate(name, a + tuple(kw.values()))
                    return real(*a, **kw)

                return wrapped

            setattr(mod, name, make(real, name))
        real_open = builtins.open
        self._saved.append((builtins, "open", real_open))

        def wrapped_open(file, mode="r", *a, **kw):
            if any(c in str(mode) for c in "wxa"):
                inj._gate("open", (file,))
            return real_open(file, mode, *a, **kw)

        builtins.open = wrapped_open
        return self

    def __exit__(self, *exc):
        for mod, name, real in self._saved:
            setattr(mod, name, real)
        return False


def _rows(path: str, hive: bool = False) -> list[tuple]:
    """Independent read of a parquet table dir via DuckDB (raises on a
    torn/unreadable file — that raise IS the assertion). The glob is
    explicit about depth: `**` would descend into the hidden
    `.__append_tmp_*` stage dir and count STAGED rows as visible,
    which is exactly the reader-visibility question under test."""
    con = duckdb.connect()
    if hive:
        pat, opts = f"{path}/*=*/*.parquet", ", hive_partitioning=1"
    else:
        pat, opts = f"{path}/*.parquet", ""
    try:
        return sorted(
            con.execute(
                f"SELECT * FROM read_parquet('{pat}'{opts})"
            ).fetchall()
        )
    finally:
        con.close()


def _vacuum_leftovers(table: str) -> None:
    for p in glob.glob(f"{glob.escape(table)}.__tmp_*") + glob.glob(
        f"{glob.escape(table)}.__bak_*"
    ):
        shutil.rmtree(p) if os.path.isdir(p) else os.remove(p)


# ---------------------------------------------------------------------------
# write_and_swap: old table (+ its sidecar) must stay readable until
# the instant the new table (+ ITS sidecar) replaces it — at every
# crash point the independent reader sees exactly old-with-old-ledger
# or new-with-new-ledger, never a mix, never a torn dir; a missing
# table is restored by recover_table_dir.
# ---------------------------------------------------------------------------


def test_write_and_swap_every_crash_point(spark, tmp_path):
    old_df = spark.range(0, 5).selectExpr("id", "id * 10 AS v")
    new_df = spark.range(100, 108).selectExpr("id", "id * 10 AS v")
    old_rows = sorted((i, i * 10) for i in range(5))
    new_rows = sorted((i, i * 10) for i in range(100, 108))

    def build(base: str) -> str:
        table = os.path.join(base, "t")
        write_and_swap(old_df, table, extra_files={"_ledger.json": "old"})
        return table

    def run(table: str) -> None:
        write_and_swap(new_df, table, extra_files={"_ledger.json": "new"})

    # census pass: count the protocol's in-scope mutations
    base0 = str(tmp_path / "census")
    os.makedirs(base0)
    table = build(base0)
    with Injector(base0) as inj:
        run(table)
    n_ops = inj.n
    assert n_ops >= 4, inj.trace  # ledger write + move/move/delete swap
    assert _rows(table) == new_rows

    for k in range(n_ops):
        base = str(tmp_path / f"k{k}")
        os.makedirs(base)
        table = build(base)
        with Injector(base, crash_at=k):
            with pytest.raises(InjectedCrash):
                run(table)
        if not os.path.exists(table):
            assert recover_table_dir(table), f"k={k}: table lost for good"
        rows = _rows(table)
        with open(os.path.join(table, "_ledger.json")) as f:
            ledger = f.read()
        assert (rows, ledger) in [
            (old_rows, "old"),
            (new_rows, "new"),
        ], f"k={k}: torn state rows={rows[:3]} ledger={ledger}"
        # not wedged: vacuum leftovers, retry, converge to new
        _vacuum_leftovers(table)
        run(table)
        assert _rows(table) == new_rows
        with open(os.path.join(table, "_ledger.json")) as f:
            assert f.read() == "new"


# ---------------------------------------------------------------------------
# staged_partition_append: at every crash point the visible table is
# a complete-file state holding old rows plus a SUBSET of the new
# files (never a dup, never a loss); the next append refuses while
# stage leftovers exist; the documented recovery (finish the move)
# converges to exactly old ∪ new.
# ---------------------------------------------------------------------------


def _finish_stage_recovery(table: str, partition_col: str) -> None:
    """The recovery the staged-append refusal message prescribes:
    move any staged partition files into the table, drop the stage."""
    prefix = f"{partition_col}="
    for stage in glob.glob(os.path.join(glob.escape(table), ".__append_tmp_*")):
        for part in sorted(os.listdir(stage)):
            src_dir = os.path.join(stage, part)
            if not (part.startswith(prefix) and os.path.isdir(src_dir)):
                continue
            dst_dir = os.path.join(table, part)
            os.makedirs(dst_dir, exist_ok=True)
            for fname in sorted(os.listdir(src_dir)):
                if fname.startswith((".", "_")):
                    continue
                dst = os.path.join(dst_dir, fname)
                if not os.path.exists(dst):
                    os.rename(os.path.join(src_dir, fname), dst)
        shutil.rmtree(stage)


def test_staged_partition_append_every_crash_point(spark, tmp_path):
    old_df = spark.createDataFrame(
        [(1, 1), (2, 1), (3, 2)], "id long, p long"
    ).coalesce(1)
    new_df = spark.createDataFrame(
        [(10, 2), (11, 3)], "id long, p long"
    ).coalesce(1)
    old_rows = sorted([(1, 1), (2, 1), (3, 2)])
    new_rows = sorted([(10, 2), (11, 3)])
    want = sorted(old_rows + new_rows)

    def build(base: str) -> str:
        table = os.path.join(base, "t")
        old_df.write.partitionBy("p").parquet(table)
        return table

    def run(table: str) -> None:
        staged_partition_append(new_df, table, "p", "fault-sweep")

    base0 = str(tmp_path / "census")
    os.makedirs(base0)
    table = build(base0)
    with Injector(base0) as inj:
        run(table)
    n_ops = inj.n
    # >= makedirs+rename per new partition (2 partitions) + stage rmtree
    assert n_ops >= 5, inj.trace
    assert _rows(table, hive=True) == want

    for k in range(n_ops):
        base = str(tmp_path / f"k{k}")
        os.makedirs(base)
        table = build(base)
        with Injector(base, crash_at=k):
            with pytest.raises(InjectedCrash):
                run(table)
        visible = _rows(table, hive=True)  # raises on any torn file
        assert set(old_rows) <= set(visible) <= set(want), f"k={k}"
        assert len(visible) == len(set(visible)), f"k={k}: duplicated rows"
        leftovers = [
            d for d in os.listdir(table) if d.startswith(".__append_tmp_")
        ]
        if leftovers:
            # the protocol must REFUSE a blind re-append (it would dup
            # the already-moved rows) and the prescribed recovery must
            # converge to exactly old ∪ new
            with pytest.raises(ValueError, match="leftover append stage"):
                run(table)
            _finish_stage_recovery(table, "p")
        else:
            # no stage dir ⇒ the crash killed the stage write itself,
            # before anything was staged: a plain retry is the recovery
            assert visible == old_rows, f"k={k}"
            run(table)
        assert _rows(table, hive=True) == want, f"k={k}"
        # and the table accepts future appends again
        staged_partition_append(
            spark.createDataFrame([(99, 9)], "id long, p long").coalesce(1),
            table,
            "p",
            "fault-sweep",
        )
        assert _rows(table, hive=True) == sorted(want + [(99, 9)])


# ---------------------------------------------------------------------------
# compact_table: a pure physical rewrite — at every crash point the
# independent reader sees the exact original multiset (or the
# compacted one), the '_'-sidecar is never separated from its data,
# and after recovery a re-run compacts cleanly.
# ---------------------------------------------------------------------------


def test_compact_table_every_crash_point(spark, tmp_path):
    from dataflow_python_etl_spark.operators.upsert import compact_table

    df = spark.range(0, 40).selectExpr("id", "id % 7 AS v").repartition(4)
    want = sorted((i, i % 7) for i in range(40))

    def build(base: str) -> str:
        table = os.path.join(base, "t")
        df.write.parquet(table)
        with open(os.path.join(table, "_applied_batch.json"), "w") as f:
            f.write('{"batch": 7}')
        return table

    def run(table: str) -> None:
        compact_table(spark, table)

    base0 = str(tmp_path / "census")
    os.makedirs(base0)
    table = build(base0)
    with Injector(base0) as inj:
        run(table)
    n_ops = inj.n
    # sidecar carry (makedirs+copyfile) + move/move/delete swap
    assert n_ops >= 5, inj.trace
    assert _rows(table) == want
    assert os.path.exists(os.path.join(table, "_applied_batch.json"))

    for k in range(n_ops):
        base = str(tmp_path / f"k{k}")
        os.makedirs(base)
        table = build(base)
        with Injector(base, crash_at=k):
            with pytest.raises(InjectedCrash):
                run(table)
        if not os.path.exists(table):
            assert recover_table_dir(table), f"k={k}: table lost for good"
        assert _rows(table) == want, f"k={k}"
        with open(os.path.join(table, "_applied_batch.json")) as f:
            assert f.read() == '{"batch": 7}', f"k={k}: sidecar separated"
        _vacuum_leftovers(table)
        stats = compact_table(spark, table)
        assert stats["n_rows"] == 40
        assert _rows(table) == want
        with open(os.path.join(table, "_applied_batch.json")) as f:
            assert f.read() == '{"batch": 7}'


# ---------------------------------------------------------------------------
# BandIndexStore.forget: the erasure rewrite composes swap_table_dir
# with CATALOG operations (tmp-table create, drops, refresh) — the
# crash windows between the file swap and the catalog cleanup are
# exactly what the generic write_and_swap sweep cannot reach. At
# every fs crash point: the index FILES are old or new (never torn,
# recover_table_dir if missing), a re-run of forget converges to the
# erased state, the stale tmp catalog entry is cleaned up, and the
# catalog probe still reads the (bucketed) index.
# ---------------------------------------------------------------------------


def test_band_index_forget_every_crash_point(spark, tmp_path):
    from pyspark.sql import functions as F

    from dataflow_python_etl_spark.operators.dedup import (
        BandIndexStore,
        minhash_band_index,
        unpersist_all,
    )

    docs = spark.createDataFrame(
        [
            (1, "alpha bravo charlie delta echo foxtrot"),
            (2, "bravo charlie delta echo golf hotel"),
            (3, "zanzibar unique nowhere else zanzibar appears"),
            (4, "charlie delta echo india juliet kilo"),
        ],
        "doc_id: long, text: string",
    )
    keys = spark.createDataFrame([(3,)], "doc: long")

    def build(base: str) -> "BandIndexStore":
        store = BandIndexStore(
            spark, "t_fi_bix", path=os.path.join(base, "bix"), n_buckets=2
        )
        store.append(minhash_band_index(docs))
        unpersist_all()
        return store

    def docs_in_index(store) -> set:
        return {
            r["doc"]
            for r in store.read().select("doc").distinct().collect()
        }

    # census
    base0 = str(tmp_path / "census")
    os.makedirs(base0)
    store = build(base0)
    with Injector(base0) as inj:
        store.forget(keys)
    n_ops = inj.n
    assert n_ops >= 3, inj.trace  # swap_table_dir: move, move, delete
    assert docs_in_index(store) == {1, 2, 4}
    store.drop()

    for k in range(n_ops):
        base = str(tmp_path / f"k{k}")
        os.makedirs(base)
        store = build(base)
        loc = os.path.join(base, "bix")
        with Injector(base, crash_at=k):
            with pytest.raises(InjectedCrash):
                store.forget(keys)
        unpersist_all()
        if not os.path.exists(loc):
            assert recover_table_dir(loc), f"k={k}: index files lost"
        visible = set(
            r[0]
            for r in spark.read.parquet(loc).select("doc").distinct().collect()
        )
        assert visible in ({1, 2, 3, 4}, {1, 2, 4}), f"k={k}: torn {visible}"
        # recovery: vacuum fs leftovers, re-run forget — converges,
        # stale tmp catalog entry from the crashed run is dropped
        _vacuum_leftovers(loc)
        spark.catalog.refreshTable("t_fi_bix")
        before, removed = store.forget(keys)
        unpersist_all()
        assert docs_in_index(store) == {1, 2, 4}, f"k={k}"
        # idempotent re-run: 8 band rows (32 perms / 4 per band) if the
        # crash left the OLD files, 0 if the swap had already landed
        assert removed in (0, 8), f"k={k}: removed={removed}"
        assert before in (24, 32), f"k={k}: before={before}"
        assert not spark.catalog.tableExists("t_fi_bix__fk_tmp"), f"k={k}"
        store.drop()


# ---------------------------------------------------------------------------
# Streaming sinks: every foreachBatch commit driver promises that an
# at-least-once re-delivery of a batch killed at ANY point converges
# to the crash-free result. One case per commit driver, each a tiny
# script: batch 0 builds the prepared tree; the census runs batch 1 on
# a copy and snapshots the tree at each in-scope op (and after the
# full commit); on each snapshot batch 1 is re-delivered and batch 2
# runs, and every surface the sink owns (tables read by DuckDB, batch
# markers read as JSON) must equal the census run's. The module-level
# apply_*_batch functions are driven directly; closure sinks are
# reached through a stand-in stream that captures the function handed
# to writeStream.foreachBatch — no streaming query, no trigger timing.
# ---------------------------------------------------------------------------


class _ForeachBatchCapture:
    """Stands in for a streaming DataFrame: keeps the function a sink
    hands to ``writeStream.foreachBatch``."""

    apply = None

    @property
    def writeStream(self):
        return self

    def foreachBatch(self, fn):
        self.apply = fn
        return self

    def option(self, *_):
        return self

    def outputMode(self, *_):
        return self

    def start(self):
        return self


def _capture(start_sink, *args, **kw):
    cap = _ForeachBatchCapture()
    start_sink(cap, *args, **kw)
    return cap.apply


def _visible_rows(path: str, distinct: bool) -> list:
    """Every row a Spark reader sees under ``path`` (hive partition
    columns included; ``_``/``.``-prefixed dirs and files skipped, as
    Spark skips them), read independently through DuckDB."""
    files = []
    for d, dirs, names in os.walk(path):
        dirs[:] = [x for x in dirs if not x.startswith((".", "_"))]
        files += [
            os.path.join(d, f)
            for f in names
            if f.endswith(".parquet") and not f.startswith((".", "_"))
        ]
    if not files:
        return []
    con = duckdb.connect()
    try:
        cur = con.execute(
            "SELECT * FROM read_parquet(?, hive_partitioning=1, union_by_name=1)",
            [sorted(files)],
        )
        cols = [c[0] for c in cur.description]
        rows = [repr(sorted(zip(cols, r))) for r in cur.fetchall()]
    finally:
        con.close()
    return sorted(set(rows)) if distinct else sorted(rows)


def _surfaces(root: str, spec: dict) -> dict:
    """``spec`` maps a path under ``root`` to ``rows`` (exact multiset),
    ``distinct`` (row set: the ingest indexes may hold a crashed
    attempt's rows twice, which every probe absorbs) or ``json``."""
    import json

    out = {}
    for rel, how in spec.items():
        p = os.path.join(root, rel)
        if how == "json":
            with open(p) as f:
                out[rel] = json.load(f)
        else:
            out[rel] = _visible_rows(p, distinct=how == "distinct")
    return out


_TEXTS = [
    "the quick brown fox jumps over the lazy dog near the old river bank today",
    "completely different words describe an unrelated subject in every single token here now",
    "yet another fully distinct sentence carrying no overlap with previous documents at all",
    "a fourth unique passage whose shingles match nothing else in the corpus stream",
]


def _text_case(spark, replay_guard):
    from dataflow_python_etl_spark.streaming.pipeline import stream_dedup_ingest

    a, b, c, d = _TEXTS
    batches = [
        [(1, a), (2, b)],
        [(11, a), (12, c), (13, c)],  # 11 dups the corpus, 13 dups 12
        [(21, c), (22, d)],  # 21 dups the corpus
    ]
    spec = {"corpus": "rows", "index": "distinct"}
    if replay_guard == "watermark":
        spec["corpus.__ingest_watermark"] = "json"

    def make(root):
        j = lambda n: os.path.join(root, n)  # noqa: E731
        return _capture(
            stream_dedup_ingest, j("corpus"), j("index"), j("ckpt"),
            replay_guard=replay_guard,
        )

    ddl = "doc_id long, text string"
    return [spark.createDataFrame(b, ddl) for b in batches], make, spec, None


def _audio_chunk_case(spark):
    import numpy as np

    from dataflow_python_etl_spark.streaming.pipeline import (
        apply_chunked_audio_batch,
    )

    rng = np.random.RandomState(5)

    def clip(n):
        return rng.randint(-32768, 32768, size=n).astype(np.float64)

    def chunks(cid, samples, n):
        parts = np.array_split(samples, n)
        return [
            (cid, i, [float(x) for x in p], i == n - 1) for i, p in enumerate(parts)
        ]

    A, B, C = clip(1500), clip(1200), clip(1200)
    a, b, c = chunks(1, A, 2), chunks(2, B, 3), chunks(3, C, 2)
    trim = chunks(4, A[100:1400], 1)  # contained in A: dropped
    batches = [
        a + b[:1] + c[:1],
        c[1:] + trim,  # clip 2 stays open, untouched by this batch
        b[1:],
    ]
    names = ("seg_path", "state_path", "index_path", "corpus_path")
    spec = {n: "rows" for n in names}
    spec["state_path/_applied_batch.json"] = "json"

    def make(root):
        paths = {n: os.path.join(root, n) for n in names}
        return lambda df, bid: apply_chunked_audio_batch(df, bid, **paths)

    ddl = "clip_id long, chunk_seq long, samples array<double>, is_last boolean"
    return [spark.createDataFrame(b, ddl) for b in batches], make, spec, None


def _ivf_case(spark):
    from dataflow_python_etl_spark.streaming.pipeline import apply_ivf_index_batch

    centroids = [[1.0, 0.0, 0.0, 0.0], [0.0, 1.0, 0.0, 0.0], [0.0, 0.0, 1.0, 1.0]]

    def vecs(ids):
        return [(i, [float((i * p) % 7) for p in (1, 3, 5, 11)]) for i in ids]

    batches = [vecs(range(1, 5)), vecs(range(5, 9)), vecs(range(9, 13))]
    spec = {"ivf": "rows", "ivf.__ingest_watermark": "json"}

    def make(root):
        path = os.path.join(root, "ivf")
        return lambda df, bid: apply_ivf_index_batch(df, bid, path, centroids)

    ddl = "vec_id long, embedding array<float>"
    return [spark.createDataFrame(b, ddl) for b in batches], make, spec, None


def _search_case(spark):
    from dataflow_python_etl_spark.streaming.pipeline import apply_search_index_batch

    a, b, c, d = _TEXTS
    batches = [[(1, a), (2, b)], [(3, c), (4, a)], [(5, d)]]
    spec = {"idx": "rows", "idx/_search_stats.json": "json"}

    def make(root):
        path = os.path.join(root, "idx")
        return lambda df, bid: apply_search_index_batch(df, bid, path, n_buckets=4)

    ddl = "doc_id long, text string"
    return [spark.createDataFrame(b, ddl) for b in batches], make, spec, None


def _additive_agg_case(spark):
    from pyspark.sql import functions as F

    from dataflow_python_etl_spark.operators.upsert import (
        stream_additive_agg_to_table,
    )

    def agg(df):
        return df.groupBy("k").agg(
            F.count(F.lit(1)).alias("n"), F.sum("v").alias("s")
        )

    batches = [
        [("a", 1), ("b", 2)],
        [("a", 3), ("c", 4), ("c", 5)],
        [("b", 6), ("d", 7)],
    ]
    spec = {"mv": "rows", "mv/_applied_batch.json": "json"}

    def make(root):
        j = lambda n: os.path.join(root, n)  # noqa: E731
        return _capture(stream_additive_agg_to_table, j("mv"), j("ckpt"), ["k"], agg)

    ddl = "k string, v long"
    return [spark.createDataFrame(b, ddl) for b in batches], make, spec, None


def _upsert_case(spark):
    from dataflow_python_etl_spark.streaming.pipeline import stream_upsert_to_table

    batches = [[(1, "a"), (2, "b")], [(2, "c"), (3, "d")], [(1, "e"), (4, "f")]]

    def make(root):
        j = lambda n: os.path.join(root, n)  # noqa: E731
        return _capture(stream_upsert_to_table, j("t"), ["id"], j("ckpt"))

    ddl = "id long, v string"
    return [spark.createDataFrame(b, ddl) for b in batches], make, {"t": "rows"}, None


def _cdc_case(spark):
    from dataflow_python_etl_spark.streaming.pipeline import stream_cdc_to_table

    batches = [
        [(1, "a", "I"), (2, "b", "I"), (3, "c", "I")],
        [(1, "a2", "U"), (2, None, "D"), (4, "d", "I")],
        [(4, "d2", "U"), (3, None, "D"), (5, "e", "I")],
    ]

    def make(root):
        j = lambda n: os.path.join(root, n)  # noqa: E731
        return _capture(stream_cdc_to_table, j("t"), ["id"], j("ckpt"))

    ddl = "id long, v string, op string"
    return [spark.createDataFrame(b, ddl) for b in batches], make, {"t": "rows"}, None


def _kmv_case(spark):
    from dataflow_python_etl_spark.operators.upsert import stream_kmv_agg_to_table

    batches = [
        [("x", i) for i in range(6)] + [("y", 1)],
        [("x", i) for i in range(4, 10)] + [("z", 2)],
        [("y", i) for i in range(8)],
    ]

    def make(root):
        j = lambda n: os.path.join(root, n)  # noqa: E731
        return _capture(stream_kmv_agg_to_table, j("t"), j("ckpt"), "grp", "item", k=4)

    ddl = "grp string, item long"
    return [spark.createDataFrame(b, ddl) for b in batches], make, {"t": "rows"}, None


def _drift_case(spark):
    from dataflow_python_etl_spark.operators.lm import build_drift_reference
    from dataflow_python_etl_spark.streaming.pipeline import apply_drift_monitor_batch

    ddl = "doc_id long, text string"
    a, b, c, d = _TEXTS
    batches = [[(1, a)], [(2, c), (3, d)], [(4, b)]]

    def setup(root):
        ref = spark.createDataFrame([(0, a), (1, b)], ddl)
        build_drift_reference(ref, os.path.join(root, "ref"), buckets=16)

    def make(root):
        ref, out = os.path.join(root, "ref"), os.path.join(root, "out")
        return lambda df, bid: apply_drift_monitor_batch(df, bid, ref, out, buckets=16)

    return [spark.createDataFrame(b, ddl) for b in batches], make, {"out": "rows"}, setup


_SINK_CASES = {
    "text_watermark": lambda spark: _text_case(spark, "watermark"),
    "text_anti_join": lambda spark: _text_case(spark, "anti_join"),
    "chunked_audio": _audio_chunk_case,
    "ivf": _ivf_case,
    "search_index": _search_case,
    "additive_agg": _additive_agg_case,
    "upsert": _upsert_case,
    "cdc_parquet": _cdc_case,
    "kmv": _kmv_case,
    "drift": _drift_case,
}


@pytest.fixture
def few_shuffle_partitions(spark):
    key = "spark.sql.shuffle.partitions"
    prev = spark.conf.get(key)
    spark.conf.set(key, "2")
    yield
    spark.conf.set(key, prev)


def _tree_digest(root: str) -> str:
    """Names and bytes of every dir and file under ``root``."""
    import hashlib

    h = hashlib.sha256()
    for d, dirs, names in os.walk(root):
        dirs.sort()
        h.update(os.path.relpath(d, root).encode() + b"/\0")
        for n in sorted(names):
            with open(os.path.join(d, n), "rb") as f:
                h.update(n.encode() + b"\0" + hashlib.sha256(f.read()).digest())
    return h.hexdigest()


@pytest.mark.parametrize("case", list(_SINK_CASES))
def test_streaming_sink_every_crash_point(spark, tmp_path, case, few_shuffle_partitions):
    batches, make, spec, setup = _SINK_CASES[case](spark)
    prepared = str(tmp_path / "prepared")
    os.makedirs(prepared)
    if setup is not None:
        setup(prepared)
    make(prepared)(batches[0], 0)

    # census: a crash-free batch 1 on a copy of the prepared tree
    # snapshots the tree before each in-scope op (the state a kill at
    # that op leaves); after batch 2 its surfaces are the expected result
    census, snaps = str(tmp_path / "census"), str(tmp_path / "snaps")
    shutil.copytree(prepared, census)
    apply = make(census)
    with Injector(census, snapshot_dir=snaps) as inj:
        apply(batches[1], 1)
    n_ops = inj.n
    assert n_ops >= 1, inj.trace
    # k == n_ops: batch 1 fully committed, re-delivered anyway
    shutil.copytree(census, os.path.join(snaps, f"k{n_ops}"))
    apply(batches[2], 2)
    want = _surfaces(census, spec)

    # a kill before anything ran, or between shutil.move and the
    # os.rename inside it, leaves bytes already replayed: skip repeats
    replayed = {_tree_digest(prepared)}
    for k in range(n_ops + 1):
        root = os.path.join(snaps, f"k{k}")
        digest = _tree_digest(root)
        if digest not in replayed:
            replayed.add(digest)
            apply = make(root)
            apply(batches[1], 1)  # at-least-once re-delivery
            apply(batches[2], 2)
            at = inj.trace[k] if k < n_ops else "after commit"
            assert _surfaces(root, spec) == want, f"{case}: crash at op {k}: {at}"
        shutil.rmtree(root)
