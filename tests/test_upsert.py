"""Keyed upsert over parquet: updates replace, inserts append, the
rest is untouched; table-path variant swaps safely."""

from pyspark.sql import functions as F

from dataflow_python_etl_spark.operators.upsert import upsert_df, upsert_table


def _base(spark):
    return spark.createDataFrame(
        [(1, "a", 10.0), (2, "b", 20.0), (3, "c", 30.0)], "id: long, name: string, v: double"
    )


def test_upsert_df_semantics(spark):
    updates = spark.createDataFrame(
        [(2, "b2", 22.0), (4, "d", 40.0)], "id: long, name: string, v: double"
    )
    out = {r["id"]: (r["name"], r["v"]) for r in upsert_df(_base(spark), updates, ["id"]).collect()}
    assert out == {1: ("a", 10.0), 2: ("b2", 22.0), 3: ("c", 30.0), 4: ("d", 40.0)}


def test_upsert_table_swaps(spark, tmp_path):
    path = str(tmp_path / "t")
    _base(spark).write.parquet(path)
    updates = spark.createDataFrame([(1, "a9", 99.0)], "id: long, name: string, v: double")
    out = upsert_table(spark, path, updates, ["id"])
    assert out.count() == 3
    assert out.where(F.col("id") == 1).first()["v"] == 99.0
    # original rows for other keys intact after the swap
    assert out.where(F.col("id") == 3).first()["name"] == "c"


def test_merge_df_update_insert_delete(spark):
    from dataflow_python_etl_spark.operators.upsert import merge_df

    source = spark.createDataFrame(
        [(2, "b2", 22.0), (3, "c", -1.0), (4, "d", 40.0), (5, "e", -5.0)],
        "id: long, name: string, v: double",
    )
    out = merge_df(
        _base(spark),
        source,
        ["id"],
        when_matched_update={"name": F.col("s.name"), "v": F.col("s.v")},
        when_matched_delete_condition=F.col("s.v") < 0,
        when_not_matched_insert={
            "id": F.col("s.id"),
            "name": F.col("s.name"),
            "v": F.col("s.v"),
        },
        when_not_matched_insert_condition=F.col("s.v") >= 0,
    )
    got = {r["id"]: (r["name"], r["v"]) for r in out.collect()}
    # 1 untouched, 2 updated, 3 deleted (matched + negative), 4 inserted,
    # 5 dropped (source-only but fails the insert condition)
    assert got == {1: ("a", 10.0), 2: ("b2", 22.0), 4: ("d", 40.0)}
    assert out.columns == ["id", "name", "v"]


def test_merge_df_conditional_update_keeps_unmatched_clause_rows(spark):
    from dataflow_python_etl_spark.operators.upsert import merge_df

    source = spark.createDataFrame(
        [(1, "a9", 5.0), (2, "b9", 99.0)], "id: long, name: string, v: double"
    )
    out = merge_df(
        _base(spark),
        source,
        ["id"],
        when_matched_update={"v": F.col("s.v")},
        # only update when the source value is larger
        when_matched_update_condition=F.col("s.v") > F.col("t.v"),
    )
    got = {r["id"]: (r["name"], r["v"]) for r in out.collect()}
    # id=1 fails the gate -> kept; id=2 updated (v only; name keeps target)
    assert got == {1: ("a", 10.0), 2: ("b", 99.0), 3: ("c", 30.0)}


def test_merge_df_duplicate_source_keys_raise(spark):
    import pytest
    from pyspark.errors import PySparkException

    from dataflow_python_etl_spark.operators.upsert import merge_df

    source = spark.createDataFrame(
        [(2, "x", 1.0), (2, "y", 2.0)], "id: long, name: string, v: double"
    )
    merged = merge_df(
        _base(spark), source, ["id"], when_matched_update={"v": F.col("s.v")}
    )
    with pytest.raises(PySparkException, match="multiple source rows"):
        merged.collect()


def test_merge_table_swaps(spark, tmp_path):
    from dataflow_python_etl_spark.operators.upsert import merge_table

    path = str(tmp_path / "mt")
    _base(spark).write.parquet(path)
    source = spark.createDataFrame([(3, "", 0.0)], "id: long, name: string, v: double")
    out = merge_table(
        spark, path, source, ["id"], when_matched_delete_condition=F.lit(True)
    )
    assert {r["id"] for r in out.collect()} == {1, 2}


def test_merge_df_property_vs_python_reference(spark):
    """Randomized clause matrix: merge_df must equal a row-at-a-time
    Python evaluation of the same MERGE semantics. One Spark job per
    case is slow, so cases are batched: each drawn example carries
    target rows, source rows, and a threshold gating the update."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from dataflow_python_etl_spark.operators.upsert import merge_df

    row = st.tuples(
        st.integers(min_value=0, max_value=6),          # key
        st.floats(min_value=-10, max_value=10, allow_nan=False, width=32),
    )

    @settings(max_examples=12, deadline=None)
    @given(
        tgt=st.lists(row, max_size=6, unique_by=lambda r: r[0]),
        src=st.lists(row, max_size=6, unique_by=lambda r: r[0]),
        thresh=st.floats(min_value=-5, max_value=5, allow_nan=False),
    )
    def check(tgt, src, thresh):
        target = spark.createDataFrame(
            [(k, float(v)) for k, v in tgt] or [(99, 0.0)], "id: long, v: double"
        )
        if not tgt:
            target = target.where("id < 0")
        source = spark.createDataFrame(
            [(k, float(v)) for k, v in src] or [(99, 0.0)], "id: long, v: double"
        )
        if not src:
            source = source.where("id < 0")
        out = merge_df(
            target,
            source,
            ["id"],
            when_matched_update={"v": F.col("s.v")},
            when_matched_update_condition=F.col("s.v") > F.lit(thresh),
            when_matched_delete_condition=F.col("s.v") < F.lit(-8.0),
            when_not_matched_insert={"id": F.col("s.id"), "v": F.col("s.v")},
            when_not_matched_insert_condition=F.col("s.v") >= F.lit(0.0),
        )
        got = {r["id"]: r["v"] for r in out.collect()}

        tdict = {k: float(v) for k, v in tgt}
        sdict = {k: float(v) for k, v in src}
        want = {}
        for k, tv in tdict.items():
            if k in sdict:
                sv = sdict[k]
                if sv < -8.0:
                    continue  # deleted
                want[k] = sv if sv > thresh else tv
            else:
                want[k] = tv
        for k, sv in sdict.items():
            if k not in tdict and sv >= 0.0:
                want[k] = sv
        assert got == want

    check()


def test_merge_df_null_keys_never_match(spark):
    from dataflow_python_etl_spark.operators.upsert import merge_df

    target = spark.createDataFrame(
        [(None, "t-null", 1.0), (1, "a", 10.0)], "id: long, name: string, v: double"
    )
    # two null-key source rows: not ambiguous (can't match), both insert
    source = spark.createDataFrame(
        [(None, "s-null-1", 2.0), (None, "s-null-2", 3.0), (1, "a2", 20.0)],
        "id: long, name: string, v: double",
    )
    out = merge_df(
        target,
        source,
        ["id"],
        when_matched_update={"v": F.col("s.v")},
        when_not_matched_insert={
            "id": F.col("s.id"), "name": F.col("s.name"), "v": F.col("s.v"),
        },
    ).collect()
    names = sorted(r["name"] for r in out)
    # target null row kept; both source null rows inserted; id=1 updated
    assert names == ["a", "s-null-1", "s-null-2", "t-null"]
    assert [r["v"] for r in out if r["name"] == "a"] == [20.0]


def test_merge_df_guard_window_reuses_join_exchange(spark):
    """The dup guard must not add a shuffle: window partitioning ==
    join partitioning, so the plan has exactly 2 exchanges (one per
    join side), same as a guard-less merge."""
    from dataflow_python_etl_spark.operators.upsert import merge_df

    target = _base(spark)
    source = _base(spark)
    plan = (
        merge_df(target, source, ["id"], when_matched_update={"v": F.col("s.v")})
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert plan.count("Exchange hashpartitioning") == 2, plan


def test_upsert_schema_evolution_additive(spark):
    from dataflow_python_etl_spark.operators.upsert import upsert_df

    updates = spark.createDataFrame(
        [(2, "b2", 22.0, "eu"), (4, "d", 40.0, "us")],
        "id: long, name: string, v: double, region: string",
    )
    out = upsert_df(_base(spark), updates, ["id"], allow_schema_evolution=True)
    assert set(out.columns) == {"id", "name", "v", "region"}
    got = {r["id"]: (r["name"], r["v"], r["region"]) for r in out.collect()}
    # untouched rows backfill NULL for the new column
    assert got == {
        1: ("a", 10.0, None),
        2: ("b2", 22.0, "eu"),
        3: ("c", 30.0, None),
        4: ("d", 40.0, "us"),
    }
    # updates may also DROP a non-key column (stays NULL on their rows)
    narrow = spark.createDataFrame([(5, 50.0)], "id: long, v: double")
    out2 = upsert_df(_base(spark), narrow, ["id"], allow_schema_evolution=True)
    assert {r["id"]: r["name"] for r in out2.collect()}[5] is None


def test_upsert_schema_evolution_rejects_type_change(spark):
    import pytest

    from dataflow_python_etl_spark.operators.upsert import upsert_df

    retyped = spark.createDataFrame([(1, "x", 5)], "id: long, name: string, v: long")
    with pytest.raises(ValueError, match="additive-only"):
        upsert_df(_base(spark), retyped, ["id"], allow_schema_evolution=True)


def test_vacuum_table_dir(tmp_path):
    import os
    import time

    from dataflow_python_etl_spark.operators.upsert import vacuum_table_dir

    wh = tmp_path / "lake"
    wh.mkdir()
    (wh / "good_table").mkdir()
    (wh / "t").mkdir()  # base table exists -> its leftovers are removable
    stale = wh / "t.__tmp_dead01"
    fresh = wh / "t.__bak_live02"
    orphan = wh / "lost.__bak_only03"  # base table MISSING -> never removed
    stale.mkdir()
    fresh.mkdir()
    orphan.mkdir()
    old = (time.time() - 100_000, time.time() - 100_000)
    os.utime(stale, old)
    os.utime(orphan, old)
    removed = vacuum_table_dir(str(wh), older_than_s=3600)
    assert removed == [str(stale)]
    assert fresh.exists() and (wh / "good_table").exists()
    # the orphan backup may be the only surviving copy of `lost`
    assert orphan.exists()


def test_merge_df_null_condition_keeps_row(spark):
    """A clause condition evaluating to NULL must not fire — and must
    NOT drop the row from the kept filter (SQL three-valued logic)."""
    from dataflow_python_etl_spark.operators.upsert import merge_df

    target = spark.createDataFrame([(1, "a", 10.0), (2, "b", 20.0)],
                                   "id: long, name: string, v: double")
    # flag is NULL for key 1 -> delete must not fire, row must be KEPT
    source = spark.createDataFrame([(1, None, 0.0), (2, "del", 0.0)],
                                   "id: long, name: string, v: double")
    out = merge_df(
        target, source, ["id"],
        when_matched_delete_condition=F.col("s.name") == "del",
    ).collect()
    assert {r["id"]: r["v"] for r in out} == {1: 10.0}


def test_forget_keys_erasure_audit_idempotent(spark, tmp_path):
    from pyspark.sql import functions as F

    from dataflow_python_etl_spark.operators.upsert import forget_keys
    from dataflow_python_etl_spark.sources.catalog import read_table

    ev = read_table(spark, "/root/testdata/sf0.001", "events").limit(500)
    orders = read_table(spark, "/root/testdata/sf0.001", "orders").limit(300)
    t_ev = str(tmp_path / "events_t")
    t_or = str(tmp_path / "orders_t")
    ev.write.parquet(t_ev)
    orders.write.parquet(t_or)
    users = ev.select(F.col("user_id")).distinct().limit(5)
    # duplicate + NULL requests must not distort the audit
    reqs = users.unionAll(users).unionAll(
        spark.createDataFrame([(None,)], "user_id: long")
    )
    n_ev_hit = ev.join(users, "user_id", "semi").count()
    n_or_hit = orders.join(
        users.withColumnRenamed("user_id", "o_custkey"), "o_custkey", "semi"
    ).count()
    rep = {
        r["table"]: r
        for r in forget_keys(
            spark, [(t_ev, "user_id"), (t_or, "o_custkey")], reqs
        ).collect()
    }
    assert rep[t_ev]["rows_before"] == 500
    assert rep[t_ev]["rows_removed"] == n_ev_hit > 0
    assert rep[t_or]["rows_removed"] == n_or_hit
    # tables actually forgot: no surviving row matches a request key
    assert spark.read.parquet(t_ev).join(users, "user_id", "semi").count() == 0
    assert rep[t_ev]["rows_after"] == spark.read.parquet(t_ev).count()
    # idempotent: a second run removes nothing
    rep2 = forget_keys(spark, [(t_ev, "user_id")], reqs).first()
    assert rep2["rows_removed"] == 0
    assert rep2["rows_before"] == rep[t_ev]["rows_after"]
    import pytest

    with pytest.raises(ValueError, match="at least one"):
        forget_keys(spark, [], reqs)


def test_refresh_additive_agg_equals_full_recompute(spark, tmp_path):
    from pyspark.sql import functions as F

    from dataflow_python_etl_spark.operators.upsert import refresh_additive_agg
    from dataflow_python_etl_spark.sources.catalog import read_table

    ev = read_table(spark, "/root/testdata/sf0.001", "events")

    def agg(df):
        return df.groupBy("event_type").agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum(F.round(F.col("value") * 100).cast("long")).alias("sum_cents"),
        )

    path = str(tmp_path / "agg_table")
    cut1, cut2 = "2024-01-10", "2024-01-20"
    batches = [
        ev.where(F.col("ts") < cut1),
        ev.where((F.col("ts") >= cut1) & (F.col("ts") < cut2)),
        ev.where(F.col("ts") >= cut2),
    ]
    for b in batches:
        refresh_additive_agg(spark, path, agg(b), ["event_type"])
    got = {
        r["event_type"]: (r["n"], r["sum_cents"])
        for r in spark.read.parquet(path).collect()
    }
    want = {
        r["event_type"]: (r["n"], r["sum_cents"]) for r in agg(ev).collect()
    }
    assert got == want and sum(n for n, _ in want.values()) == ev.count()
    # schema drift fails loudly — names AND types (a widened measure
    # would silently truncate through the cast)
    import pytest

    bad = agg(ev).withColumnRenamed("sum_cents", "sum_dollars")
    with pytest.raises(ValueError, match="schema mismatch"):
        refresh_additive_agg(spark, path, bad, ["event_type"])
    drift = agg(ev).withColumn("sum_cents", F.col("sum_cents").cast("double"))
    with pytest.raises(ValueError, match="schema mismatch"):
        refresh_additive_agg(spark, path, drift, ["event_type"])
    with pytest.raises(ValueError, match="key columns"):
        refresh_additive_agg(spark, path, agg(ev), ["missing_col"])


def test_refresh_additive_agg_ledger_makes_replay_noop(spark, tmp_path):
    """foreachBatch is at-least-once: the same batch_id delivered
    twice (crash between fold and checkpoint commit) must fold ONCE —
    the ledger sidecar, swapped atomically with the data, is what
    provides exactly-once, not the checkpoint."""
    from pyspark.sql import functions as F

    from dataflow_python_etl_spark.operators.upsert import refresh_additive_agg

    path = str(tmp_path / "mv")
    b0 = spark.createDataFrame([("a", 2)], "k string, n long")
    b1 = spark.createDataFrame([("a", 3), ("b", 1)], "k string, n long")
    refresh_additive_agg(spark, path, b0, ["k"], batch_id=0)
    # replayed creation batch: no-op
    refresh_additive_agg(spark, path, b0, ["k"], batch_id=0)
    refresh_additive_agg(spark, path, b1, ["k"], batch_id=1)
    # replayed fold batch: no-op
    refresh_additive_agg(spark, path, b1, ["k"], batch_id=1)
    got = {r["k"]: r["n"] for r in spark.read.parquet(path).collect()}
    assert got == {"a": 5, "b": 1}


def _read_agg_ledger(table_path: str):
    import os

    from dataflow_python_etl_spark.operators.upsert import AGG_LEDGER, _read_marker

    return _read_marker(os.path.join(table_path, AGG_LEDGER))["last_batch_id"]


def test_refresh_additive_agg_ledgerless_fold_keeps_ledger(spark, tmp_path):
    """A batch caller folding WITHOUT a batch_id into a ledgered table
    must not erase the ledger (write_and_swap rebuilds the dir, so the
    sidecar must be carried forward explicitly): a streaming restart
    after such a mixed fold would otherwise find no ledger and
    double-count its replayed batch."""
    from dataflow_python_etl_spark.operators.upsert import refresh_additive_agg

    path = str(tmp_path / "mv")
    b0 = spark.createDataFrame([("a", 2)], "k string, n long")
    refresh_additive_agg(spark, path, b0, ["k"], batch_id=7)
    assert _read_agg_ledger(path) == 7
    # ledgerless (batch-side backfill) fold: ledger survives the swap
    b_extra = spark.createDataFrame([("b", 4)], "k string, n long")
    refresh_additive_agg(spark, path, b_extra, ["k"])
    assert _read_agg_ledger(path) == 7
    # streaming replay of batch 7 after the mixed fold: still a no-op
    refresh_additive_agg(spark, path, b0, ["k"], batch_id=7)
    got = {r["k"]: r["n"] for r in spark.read.parquet(path).collect()}
    assert got == {"a": 2, "b": 4}


def test_refresh_additive_agg_reset_checkpoint_raises(spark, tmp_path):
    """Only the recorded batch is a replay: a batch id below the ledger
    means a checkpoint reset over a live MV, which must fail loudly
    (naming the sink) instead of silently skipping every early batch."""
    import pytest

    from dataflow_python_etl_spark.operators.upsert import refresh_additive_agg

    path = str(tmp_path / "mv")
    b0 = spark.createDataFrame([("a", 2)], "k string, n long")
    b1 = spark.createDataFrame([("a", 3)], "k string, n long")
    refresh_additive_agg(spark, path, b0, ["k"], batch_id=0)
    refresh_additive_agg(spark, path, b1, ["k"], batch_id=1)
    with pytest.raises(RuntimeError, match="refresh_additive_agg: .*checkpoint was reset"):
        refresh_additive_agg(spark, path, b0, ["k"], batch_id=0)
    assert [tuple(r) for r in spark.read.parquet(path).collect()] == [("a", 5)]


def test_stream_additive_agg_parity_and_restart_guard(spark, tmp_path):
    import shutil

    import pytest
    from pyspark.sql import functions as F

    from dataflow_python_etl_spark.operators.upsert import (
        stream_additive_agg_to_table,
    )
    from dataflow_python_etl_spark.sources.catalog import read_table

    ev = read_table(spark, "/root/testdata/sf0.001", "events").select(
        "event_id", "ts", "user_id", "event_type", "value", "props"
    )

    def agg(df):
        return df.groupBy("event_type").agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum(F.round(F.col("value") * 100).cast("long")).alias("sum_cents"),
        )

    src = str(tmp_path / "in")
    table = str(tmp_path / "mv")
    ckpt = str(tmp_path / "ckpt")
    cutoff = "2024-01-15"
    ev.where(F.col("ts") < cutoff).write.parquet(src)
    stream = spark.readStream.schema(ev.schema).parquet(src)
    q = stream_additive_agg_to_table(stream, table, ckpt, ["event_type"], agg)
    q.processAllAvailable()
    ev.where(F.col("ts") >= cutoff).write.mode("append").parquet(src)
    q.processAllAvailable()
    q.stop()
    got = {
        r["event_type"]: (r["n"], r["sum_cents"])
        for r in spark.read.parquet(table).collect()
    }
    want = {
        r["event_type"]: (r["n"], r["sum_cents"]) for r in agg(ev).collect()
    }
    assert got == want
    # restart with the table gone: must FAIL, not rebuild from batch 2
    shutil.rmtree(table)
    ev.limit(10).write.mode("append").parquet(src)
    stream2 = spark.readStream.schema(ev.schema).parquet(src)
    q2 = stream_additive_agg_to_table(stream2, table, ckpt, ["event_type"], agg)
    with pytest.raises(Exception, match="missing"):
        q2.processAllAvailable()
    q2.stop()


def test_refresh_kmv_agg_merge_law_and_replay(spark, tmp_path):
    """refresh(kmv(A), kmv(B), kmv(C)) == kmv(A∪B∪C) exactly, and
    re-delivering a batch (at-least-once replay) converges — set
    union is idempotent, so the KMV MV needs NO ledger (unlike the
    additive fold)."""
    import pytest
    from pyspark.sql import functions as F

    from dataflow_python_etl_spark.operators.sketches import kmv_sketches
    from dataflow_python_etl_spark.operators.upsert import refresh_kmv_agg

    rows = [(g, i * 7 % 97) for g in ("a", "b") for i in range(60)]
    df = spark.createDataFrame(rows, "grp: string, member: long")
    path = str(tmp_path / "mv")
    k = 16
    batches = [
        df.where(F.col("member") % 3 == p) for p in range(3)
    ]
    for b in batches:
        refresh_kmv_agg(spark, path, kmv_sketches(b, "grp", "member", k), ["set_id"], k)

    def arrays(frame):
        return {r["set_id"]: list(r["hashes"]) for r in frame.collect()}

    full = arrays(kmv_sketches(df, "grp", "member", k))
    assert arrays(spark.read.parquet(path)) == full
    # replay batch 1: table must not move
    refresh_kmv_agg(spark, path, kmv_sketches(batches[1], "grp", "member", k), ["set_id"], k)
    assert arrays(spark.read.parquet(path)) == full
    # schema contract: a renamed key column fails loudly
    bad = kmv_sketches(df, "grp", "member", k).withColumnRenamed("set_id", "sid")
    with pytest.raises(ValueError, match="key columns absent"):
        refresh_kmv_agg(spark, path, bad, ["set_id"], k)
    with pytest.raises(ValueError, match="schema mismatch"):
        refresh_kmv_agg(
            spark, path,
            kmv_sketches(df, "grp", "member", k)
            .withColumn("set_id", F.col("set_id").cast("binary")),
            ["set_id"], k,
        )
    with pytest.raises(ValueError, match="k must be"):
        refresh_kmv_agg(spark, path, kmv_sketches(df, "grp", "member", k), ["set_id"], 1)
    # a column the merge can't carry is rejected up front, never
    # silently dropped on the first fold
    with pytest.raises(ValueError, match="unexpected non-sketch columns"):
        refresh_kmv_agg(
            spark, path,
            kmv_sketches(df, "grp", "member", k).withColumn("updated_at", F.lit(1)),
            ["set_id"], k,
        )


def test_stream_kmv_agg_parity_and_replay_free(spark, tmp_path):
    """The streaming KMV MV converges to the full-history sketch
    across micro-batches with NO ledger — the set-union merge makes
    at-least-once delivery safe by construction. Restart with the
    table gone must fail loudly (never rebuild from one batch)."""
    import shutil

    import pytest
    from pyspark.sql import functions as F

    from dataflow_python_etl_spark.operators.sketches import kmv_sketches
    from dataflow_python_etl_spark.operators.upsert import stream_kmv_agg_to_table
    from dataflow_python_etl_spark.sources.catalog import read_table

    ev = read_table(spark, "/root/testdata/sf0.001", "events").select(
        "event_id", "ts", "user_id", "event_type", "value", "props"
    )
    src = str(tmp_path / "in")
    table = str(tmp_path / "kmv_mv")
    ckpt = str(tmp_path / "ckpt")
    cutoff = "2024-01-15"
    ev.where(F.col("ts") < cutoff).write.parquet(src)
    stream = spark.readStream.schema(ev.schema).parquet(src)
    q = stream_kmv_agg_to_table(stream, table, ckpt, "event_type", "user_id", k=64)
    q.processAllAvailable()
    ev.where(F.col("ts") >= cutoff).write.mode("append").parquet(src)
    q.processAllAvailable()
    q.stop()

    def arrays(frame):
        return {r["set_id"]: list(r["hashes"]) for r in frame.collect()}

    got = arrays(spark.read.parquet(table))
    want = arrays(kmv_sketches(ev, "event_type", "user_id", 64))
    assert got == want and len(want) > 0
    # lost table on restart: fail loudly
    shutil.rmtree(table)
    ev.limit(10).write.mode("append").parquet(src)
    stream2 = spark.readStream.schema(ev.schema).parquet(src)
    q2 = stream_kmv_agg_to_table(stream2, table, ckpt, "event_type", "user_id", k=64)
    with pytest.raises(Exception, match="missing"):
        q2.processAllAvailable()
    q2.stop()


def test_compact_table_rows_sidecars_and_file_count(spark, tmp_path):
    """compact_table: many small files -> few even files, rows
    byte-identical, every _-prefixed sidecar (the replay ledger, a
    _manifest dir) swapped WITH the data — compaction must never be
    the separate write that drops replay protection."""
    import os

    import pytest
    from pyspark.sql import functions as F

    from dataflow_python_etl_spark.operators.upsert import (
        compact_table,
        refresh_additive_agg,
    )

    import json

    path = str(tmp_path / "t")
    # an append-grown table (the streaming-sink shape): one file per
    # micro-write — 6 writes, >= 6 data files
    for b in range(6):
        spark.createDataFrame([(b, b * 10)], "k long, n long").coalesce(
            1
        ).write.mode("append").parquet(path)
    # sidecar state a maintenance pass MUST carry: a replay ledger
    # and a _manifest dir (the shard-export shape)
    with open(os.path.join(path, "_applied_batch.json"), "w") as f:
        json.dump({"last_batch_id": 5}, f)
    os.makedirs(os.path.join(path, "_manifest"))
    with open(os.path.join(path, "_manifest", "part-0.txt"), "w") as f:
        f.write("manifest-bytes")
    before = sorted(map(tuple, spark.read.parquet(path).collect()))
    assert _read_agg_ledger(path) == 5

    report = compact_table(spark, path, target_file_bytes=64 * 1024 * 1024)
    assert report["n_rows"] == len(before) == 6
    assert report["n_files_before"] >= 6
    assert report["n_files_after"] == 1  # tiny table -> one file
    # rows identical; BOTH sidecars survived the swap byte-identically
    assert sorted(map(tuple, spark.read.parquet(path).collect())) == before
    assert _read_agg_ledger(path) == 5
    with open(os.path.join(path, "_manifest", "part-0.txt")) as f:
        assert f.read() == "manifest-bytes"
    # the carried ledger still suppresses a replayed fold
    dup = spark.createDataFrame([(0, 999)], "k long, n long")
    refresh_additive_agg(spark, path, dup, ["k"], batch_id=5)
    assert sorted(map(tuple, spark.read.parquet(path).collect())) == before

    with pytest.raises(ValueError, match="target_file_bytes"):
        compact_table(spark, path, target_file_bytes=0)
    with pytest.raises(ValueError, match="directory"):
        compact_table(spark, str(tmp_path / "absent"))


def test_compact_table_partitioned_layout(spark, tmp_path):
    """Hive-partitioned tables compact to ~one file per live
    partition value and KEEP the partitioned layout (a dataloader
    listing shard_id=K still sees its directory)."""
    import os

    from pyspark.sql import functions as F

    from dataflow_python_etl_spark.operators.upsert import compact_table

    path = str(tmp_path / "t")
    df = spark.range(200).select(
        (F.col("id") % 3).alias("part"), F.col("id").alias("v")
    )
    # many small files per partition: one write per slice
    for s in range(5):
        df.where(F.col("v") % 5 == s).write.mode("append").partitionBy(
            "part"
        ).parquet(path)
    before = sorted(map(tuple, spark.read.parquet(path).collect()))

    report = compact_table(spark, path)
    assert sorted(map(tuple, spark.read.parquet(path).collect())) == before
    assert report["n_files_after"] < report["n_files_before"]
    dirs = {d.split("=")[0] for d in os.listdir(path) if "=" in d}
    assert dirs == {"part"}
    # one data file per partition value
    for d in os.listdir(path):
        if d.startswith("part="):
            files = [f for f in os.listdir(os.path.join(path, d))
                     if not f.startswith(".") and not f.startswith("_")]
            assert len(files) == 1, (d, files)


def test_compact_table_nested_sidecar_and_zero_padded_partition(spark, tmp_path):
    """ADVICE r7 regressions: (a) a '_'-prefixed sidecar NESTED inside
    a partition dir must survive compaction like a top-level one;
    (b) a string partition column with zero-padded numeric-looking
    values (shard=007) must NOT be renormalized by partition type
    inference (shard=7 would rename the paths a dataloader keys on)."""
    import os

    from dataflow_python_etl_spark.operators.upsert import compact_table

    path = str(tmp_path / "t")
    df = spark.createDataFrame(
        [("007", 1), ("007", 2), ("042", 3)], "shard string, v long"
    )
    for _ in range(2):  # two appends -> >1 file per partition
        df.write.mode("append").partitionBy("shard").parquet(path)
    os.makedirs(os.path.join(path, "shard=007", "_meta"))
    with open(os.path.join(path, "shard=007", "_meta", "ledger.json"), "w") as f:
        f.write('{"nested": true}')

    report = compact_table(spark, path)
    assert report["n_rows"] == 6
    # zero-padded partition dirs preserved exactly
    dirs = sorted(d for d in os.listdir(path) if d.startswith("shard="))
    assert dirs == ["shard=007", "shard=042"]
    # nested sidecar carried through the swap byte-identically
    with open(os.path.join(path, "shard=007", "_meta", "ledger.json")) as f:
        assert f.read() == '{"nested": true}'
    # values still read back as the original strings (a reader that
    # pins inference off — e.g. a dynamic-overwrite replay keying on
    # the literal dir names — sees the exact pre-compaction values;
    # default readers re-infer types exactly as before compaction)
    key = "spark.sql.sources.partitionColumnTypeInference.enabled"
    prev = spark.conf.get(key, "true")
    spark.conf.set(key, "false")
    try:
        got = sorted(
            map(tuple, spark.read.parquet(path).select("v", "shard").collect())
        )
    finally:
        spark.conf.set(key, prev)
    assert got == [(1, "007"), (1, "007"), (2, "007"), (2, "007"),
                   (3, "042"), (3, "042")]


def test_compact_table_refuses_unrecovered_crash_state(spark, tmp_path):
    """compact_table must REFUSE to run over unrecovered crash state
    (a leftover .__append_tmp_* stage dir or sibling .__bak_*) instead
    of silently deleting the only copy of in-flight data."""
    import os

    import pytest

    from dataflow_python_etl_spark.operators.upsert import compact_table

    path = str(tmp_path / "t")
    spark.createDataFrame([(1, 2)], "k long, n long").write.parquet(path)

    stage = os.path.join(path, ".__append_tmp_deadbeef")
    os.makedirs(stage)
    with pytest.raises(RuntimeError, match="unrecovered"):
        compact_table(spark, path)
    os.rmdir(stage)

    os.makedirs(path + ".__bak_12345678")
    with pytest.raises(RuntimeError, match="unrecovered"):
        compact_table(spark, path)
    os.rmdir(path + ".__bak_12345678")

    # clean state compacts fine afterwards
    report = compact_table(spark, path)
    assert report["n_rows"] == 1


def test_merge_df_schema_evolution_additive(spark):
    """VERDICT r7 gap 4: a CDC feed that grows a column merges into a
    long-lived table — new source columns append to the output schema,
    NULL except where an assignment sets them; type changes and
    un-flagged new-column assignments stay loud errors."""
    import pytest
    from pyspark.sql import functions as F

    from dataflow_python_etl_spark.operators.upsert import merge_df

    target = spark.createDataFrame(
        [(1, "a"), (2, "b"), (3, "c")], "k long, v string"
    )
    source = spark.createDataFrame(
        [(2, "B", 20), (4, "D", 40)], "k long, v string, extra long"
    )
    got = merge_df(
        target,
        source,
        ["k"],
        when_matched_update={"v": F.col("s.v"), "extra": F.col("s.extra")},
        when_not_matched_insert={
            "k": F.col("s.k"),
            "v": F.col("s.v"),
            "extra": F.col("s.extra"),
        },
        allow_schema_evolution=True,
    )
    assert got.columns == ["k", "v", "extra"]
    rows = {r["k"]: (r["v"], r["extra"]) for r in got.collect()}
    assert rows == {
        1: ("a", None),  # untouched target row: evolved col backfills NULL
        2: ("B", 20),    # updated: assignment sets it
        3: ("c", None),
        4: ("D", 40),    # inserted: assignment sets it
    }

    # unassigned evolved column stays NULL even on updated rows
    got2 = merge_df(
        target,
        source,
        ["k"],
        when_matched_update={"v": F.col("s.v")},
        allow_schema_evolution=True,
    )
    rows2 = {r["k"]: (r["v"], r["extra"]) for r in got2.collect()}
    assert rows2 == {1: ("a", None), 2: ("B", None), 3: ("c", None)}

    # without the flag, assigning a column the target lacks is an error
    # (previously it was silently dropped by the output projection)
    with pytest.raises(ValueError, match="unknown columns"):
        merge_df(
            target,
            source,
            ["k"],
            when_matched_update={"extra": F.col("s.extra")},
        )
    # type changes on shared columns stay loud
    retyped = spark.createDataFrame([(2, 9)], "k long, v long")
    with pytest.raises(ValueError, match="additive-only"):
        merge_df(target, retyped, ["k"], allow_schema_evolution=True)


def test_merge_table_schema_evolution_roundtrip(spark, tmp_path):
    """merge_table forwards the evolution flag; the swapped table
    carries the widened schema and the next non-evolving merge reads
    it back cleanly."""
    from pyspark.sql import functions as F

    from dataflow_python_etl_spark.operators.upsert import merge_table

    path = str(tmp_path / "t")
    spark.createDataFrame([(1, "a"), (2, "b")], "k long, v string").write.parquet(
        path
    )
    src = spark.createDataFrame([(2, "B", 7)], "k long, v string, n long")
    out = merge_table(
        spark,
        path,
        src,
        ["k"],
        when_matched_update={"v": F.col("s.v"), "n": F.col("s.n")},
        allow_schema_evolution=True,
    )
    assert set(out.columns) == {"k", "v", "n"}
    rows = {r["k"]: (r["v"], r["n"]) for r in spark.read.parquet(path).collect()}
    assert rows == {1: ("a", None), 2: ("B", 7)}
