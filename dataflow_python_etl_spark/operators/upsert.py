"""Keyed upsert (MERGE) over parquet tables — the general form of the
reference's per-row UPDATE (operator O23, ``datalake_compensation.py:
132-139``; SURVEY.md §7.3.4).

Vanilla Spark has no mutable storage, so an upsert is a recompute:
``existing ANTI-JOIN keys(updates) UNION updates`` → write to a temp
path → swap. One shuffle (the anti join on the key; broadcast when
the update batch is small, which is the common CDC case), atomic-ish
swap at the end.
"""

from __future__ import annotations

import json
import os
import shutil
import uuid

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F


def swap_table_dir(table_path: str, new_path: str) -> None:
    """Replace ``table_path`` with ``new_path`` without a window where
    the table is gone: the old table is renamed aside first, the new
    one moved in, and only then is the backup deleted. If the move
    fails mid-way the backup is restored, so a crash never leaves
    readers with a missing table. Handles both directory tables and
    single-file ``*.parquet`` tables (the driver's testdata shape).
    (Local-FS implementation; on HDFS/S3 this maps to rename /
    committed overwrite.)
    """
    bak = f"{table_path}.__bak_{uuid.uuid4().hex[:8]}"
    shutil.move(table_path, bak)
    try:
        shutil.move(new_path, table_path)
    except BaseException:
        shutil.move(bak, table_path)  # restore; table never lost
        raise
    if os.path.isdir(bak):
        shutil.rmtree(bak)
    else:
        os.remove(bak)


def write_and_swap(
    df: DataFrame,
    table_path: str,
    fmt: str = "parquet",
    options: dict | None = None,
    partition_by: list[str] | None = None,
    extra_files: dict[str, str] | None = None,
    pre_swap=None,
) -> None:
    """THE one overwrite path: write ``df`` (any datasource format —
    parquet default, json/orc/csv via ``fmt``/``options``) to a
    ``.__tmp_*`` sibling, then replace ``table_path`` — via
    :func:`swap_table_dir` when the target exists (readers never see
    a missing table; naming an input table as the output cannot
    overwrite-while-reading), plain rename when it doesn't.

    Every writer in the repo goes through this single implementation
    because :func:`vacuum_table_dir` and :func:`recover_table_dir`
    depend on the exact ``.__tmp_`` / ``.__bak_`` naming conventions —
    five hand-rolled copies of this triple had already drifted (one
    crashed on single-file targets).

    ``extra_files`` ({name: content}) are written INTO the tmp dir
    before the swap, so sidecar state (e.g. the additive-refresh
    batch ledger) becomes visible atomically WITH the data it
    describes — a crash can never publish data without its sidecar
    or vice versa. Underscore-prefix the names so Spark scans skip
    them; directory-format tables only.

    ``pre_swap`` (callable, receives the tmp dir path) runs after the
    data write but before the swap, for sidecars that are themselves
    Spark jobs (e.g. a ``_manifest`` parquet) — same atomicity
    contract as ``extra_files``, for content a plain string can't
    express."""
    tmp = f"{table_path}.__tmp_{uuid.uuid4().hex[:8]}"
    w = df.write.mode("overwrite")
    for k, v in (options or {}).items():
        w = w.option(k, v)
    if partition_by:
        w = w.partitionBy(*partition_by)
    w.format(fmt).save(tmp)
    for name, content in (extra_files or {}).items():
        if not os.path.isdir(tmp):
            raise ValueError(
                "extra_files requires a directory-format table "
                f"(got single-file output at {tmp})"
            )
        with open(os.path.join(tmp, name), "w") as f:
            f.write(content)
    if pre_swap is not None:
        if not os.path.isdir(tmp):
            raise ValueError(
                "pre_swap requires a directory-format table "
                f"(got single-file output at {tmp})"
            )
        pre_swap(tmp)
    if os.path.exists(table_path):
        swap_table_dir(table_path, tmp)
    else:
        os.rename(tmp, table_path)


def recover_table_dir(table_path: str) -> bool:
    """Crash recovery for :func:`swap_table_dir`'s rename window: if
    the process died after the old table was renamed to ``.__bak_*``
    but before the new one was moved in, the backup holds the ONLY
    copy of the table. Restore the newest backup and return True;
    return False when the table exists or there is nothing to recover.
    Older backups (multiple crashes) are left for ``vacuum_table_dir``,
    which can collect them once the base table exists again."""
    import glob

    if os.path.exists(table_path):
        return False
    baks = sorted(
        glob.glob(f"{glob.escape(table_path)}.__bak_*"),  # dir or single-file table
        key=os.path.getmtime,
    )
    if not baks:
        return False
    shutil.move(baks[-1], table_path)
    return True


# ---------------------------------------------------------------------------
# Batch markers: the small JSON records that turn foreachBatch's
# at-least-once delivery into per-batch exactly-once. Every streaming
# sink reads and commits its marker here. Watermark sinks keep
# ``{"batch_id", "max_id"}`` beside their table; ledger sinks keep the
# last applied batch id inside it (``AGG_LEDGER`` swapped WITH the
# data via ``write_and_swap``'s ``extra_files``, or the search stats).
# ---------------------------------------------------------------------------

AGG_LEDGER = "_applied_batch.json"  # "_"-prefixed: Spark scans skip it


def _read_marker(path: str):
    """The JSON marker at ``path``, or None before its first commit."""
    if not os.path.exists(path):
        return None
    with open(path) as f:
        return json.load(f)


def _write_marker(path: str, marker) -> None:
    """Commit ``marker`` at ``path`` atomically (tmp + ``os.replace``):
    a torn watermark would silently re-admit, or forever skip, ids on
    the next restart."""
    tmp = path + ".__tmp"
    with open(tmp, "w") as f:
        json.dump(marker, f)
    os.replace(tmp, path)


def _ledger_file(marker: dict) -> dict[str, str]:
    """``marker`` as the ``extra_files`` entry that swaps it in WITH
    the data it describes."""
    return {AGG_LEDGER: json.dumps(marker)}


def _batch_applied(sink: str, batch_id: int, recorded: int | None) -> bool:
    """The ledger sinks' one replay rule. foreachBatch re-delivers only
    the batch it last ran, so ``batch_id == recorded`` is a replay of a
    fully applied batch: a no-op. ``batch_id < recorded`` means the
    checkpoint was reset over a live table, and skipping would silently
    drop every early batch, so it fails loudly."""
    if recorded is None or batch_id > recorded:
        return False
    if batch_id == recorded:
        return True
    raise RuntimeError(
        f"{sink}: batch {batch_id} arrived after batch {recorded} was "
        "applied — the checkpoint was reset over a live table. Restore "
        "the checkpoint, or rebuild the table under a fresh one."
    )


def _guard_missing_table(table_path: str, batch_id: int, sink: str) -> None:
    """A missing table MUST NOT be silently treated as empty on a
    restarted sink: if a previous run died inside ``swap_table_dir``'s
    rename window, the only copy of the table lives in a ``.__bak_*``
    sibling, and merging this batch into an "empty" table would drop
    every prior row — and, with the base path recreated, a later
    vacuum would collect the backup holding the only copy. Restore the
    backup when one exists; if none does but the checkpoint says we've
    applied batches before (batch_id > 0), fail loudly rather than
    resurrect the table from one batch."""
    if os.path.exists(table_path):
        return
    if recover_table_dir(table_path):
        return  # crashed mid-swap; replaying this batch is idempotent
    if batch_id > 0:
        raise RuntimeError(
            f"{sink} restart at batch {batch_id} but table "
            f"{table_path} is missing and no .__bak_* backup exists — "
            "refusing to rebuild the table from a single batch (prior "
            "rows would be silently lost). Restore the table or start "
            "a fresh checkpoint."
        )


def upsert_df(
    existing: DataFrame,
    updates: DataFrame,
    key_cols: list[str],
    allow_schema_evolution: bool = False,
) -> DataFrame:
    """Rows of ``updates`` replace same-keyed rows of ``existing``;
    unmatched update rows are inserts.

    Column sets must match unless ``allow_schema_evolution`` — then the
    output schema is the union: columns new in ``updates`` backfill
    NULL for untouched rows, and columns absent from ``updates`` are
    NULL on the replaced/inserted rows TOO — an upsert is whole-row
    replacement, so an update batch that omits a column nulls it for
    the keys it touches (use :func:`merge_df` with explicit
    assignments when updated rows must keep their old values for
    unassigned columns). Type changes stay loud errors — silently
    coercing those corrupts a table at scale.

    The key set is NOT broadcast-hinted: via ``stream_upsert_to_table``
    with a file source and no trigger cap, batch 0 is the entire
    backlog — a hard hint there exceeds the driver/broadcast limits.
    AQE converts the anti join to broadcast at runtime whenever the
    batch is actually small (the common CDC case), so small batches
    keep the broadcast plan without the unbounded-hint failure mode.
    """
    if allow_schema_evolution:
        e_types = dict(existing.dtypes)
        u_types = dict(updates.dtypes)
        clash = [c for c in e_types.keys() & u_types.keys() if e_types[c] != u_types[c]]
        if clash:
            raise ValueError(
                f"schema evolution is additive-only; type changes on {sorted(clash)}"
            )
        if missing_keys := set(key_cols) - set(u_types):
            raise ValueError(f"updates lack key columns {sorted(missing_keys)}")
        keys = updates.select(*key_cols).distinct()
        kept = existing.join(keys, on=key_cols, how="left_anti")
        return kept.unionByName(updates, allowMissingColumns=True)
    assert set(existing.columns) == set(updates.columns), "schema mismatch"
    keys = updates.select(*key_cols).distinct()
    kept = existing.join(keys, on=key_cols, how="left_anti")
    return kept.unionByName(updates)


def _guard_duplicate_source_keys(
    source: DataFrame, key_cols: list[str], label: str
) -> DataFrame:
    """Distributed duplicate-source-key rejection shared by
    :func:`merge_df` and ``table_diff``: duplicate fully-non-null
    source keys would apply a nondeterministic one-of-N update, so
    they fail loudly.

    The guard lives in a FILTER over the window output (a dead
    projected column would be pruned by Catalyst, silently removing
    the check); null keys are exempt — they never match a target row,
    so duplicates among them are not ambiguous. The window partitions
    on the same key the MERGE join shuffles on, so the exchange is
    reused (plan-pinned)."""
    from pyspark.sql import Window

    n_dup = F.count(F.lit(1)).over(Window.partitionBy(*key_cols))
    key_non_null = F.lit(True)
    for k in key_cols:
        key_non_null = key_non_null & F.col(k).isNotNull()
    return (
        source.withColumn("__n_dup", n_dup)
        .where(
            F.when(
                (F.col("__n_dup") > 1) & key_non_null,
                F.raise_error(
                    F.concat(
                        F.lit(f"{label}: multiple source rows for key ("),
                        F.concat_ws(", ", *[F.col(k).cast("string") for k in key_cols]),
                        F.lit(")"),
                    )
                ).cast("boolean"),
            ).otherwise(F.lit(True))
        )
        .drop("__n_dup")
    )


def merge_df(
    target: DataFrame,
    source: DataFrame,
    key_cols: list[str],
    *,
    when_matched_update: dict[str, Column] | None = None,
    when_matched_update_condition: Column | None = None,
    when_matched_delete_condition: Column | None = None,
    when_not_matched_insert: dict[str, Column] | None = None,
    when_not_matched_insert_condition: Column | None = None,
    fail_on_duplicate_source_keys: bool = True,
    allow_schema_evolution: bool = False,
) -> DataFrame:
    """General MERGE (the Delta/Iceberg ``MERGE INTO`` clause family)
    as a single full-outer-join recompute — the closed form of the
    reference's per-row UPDATE loop (O23) when matched rows can also
    be deleted and source-only rows conditionally inserted.

    Clause semantics (evaluated per joined row, Delta clause order):

    - matched + ``when_matched_delete_condition`` → row dropped
    - matched + ``when_matched_update`` (gated by the optional update
      condition) → target columns reassigned; unassigned columns keep
      their target value
    - matched otherwise → target row kept unchanged
    - source-only + ``when_not_matched_insert`` (gated by the optional
      insert condition) → row built from the assignment map
    - source-only otherwise → dropped
    - target-only → kept unchanged

    Conditions and assignment values are ``Column`` expressions over
    the aliases ``t`` (target) and ``s`` (source), e.g.
    ``F.col("s.v") > F.col("t.v")`` — the same referencing rule as
    Delta's MERGE. Output schema = target schema — unless
    ``allow_schema_evolution``, the Delta ``autoMerge`` analog for
    long-lived lake tables whose CDC feed grows columns (VERDICT r7
    gap 4): columns new in ``source`` are APPENDED to the output
    schema, NULL everywhere except where an update/insert assignment
    explicitly sets them (``upsert_df``'s additive-only discipline:
    type changes on shared columns stay loud errors). Assignment maps
    may then target the new columns; without the flag, assigning a
    column the target lacks is an error (it would otherwise be
    silently dropped by the output projection).

    Null join keys never match — standard ``MERGE ON t.k = s.k``
    semantics: null-key target rows are kept unchanged, null-key
    source rows take the not-matched path. (An eqNullSafe variant was
    measured: its join partitions on ``(coalesce(k), isnull(k))``,
    which cannot reuse the guard window's ``k`` partitioning — one
    extra full shuffle of the source for nonstandard semantics.)

    Scale shape: exactly one shuffle (the full-outer join on the key;
    AQE broadcasts the source side when it is small — no hard hint, so
    an unbounded CDC backlog cannot OOM the driver). Duplicate
    fully-non-null source keys would apply a nondeterministic one-of-N
    update, so by default they fail loudly — distributed, via a window
    count + raise_error on the same key partitioning the join needs
    (no extra driver action; the window's exchange is reused by the
    join, pinned in tests). Duplicate NULL-key source rows are not an
    error: they can't match anything, so each just takes the
    not-matched path.
    """
    if when_matched_update is None and when_matched_update_condition is not None:
        raise ValueError("when_matched_update_condition requires when_matched_update")
    if when_not_matched_insert is None and when_not_matched_insert_condition is not None:
        raise ValueError("when_not_matched_insert_condition requires when_not_matched_insert")
    if when_not_matched_insert is not None:
        missing = set(target.columns) - set(when_not_matched_insert)
        if missing:
            raise ValueError(f"insert assignments missing target columns: {sorted(missing)}")

    new_cols: list[str] = []
    s_types = dict(source.dtypes)
    if allow_schema_evolution:
        t_types = dict(target.dtypes)
        clash = [
            c for c in t_types.keys() & s_types.keys() if t_types[c] != s_types[c]
        ]
        if clash:
            raise ValueError(
                f"schema evolution is additive-only; type changes on {sorted(clash)}"
            )
        new_cols = [c for c in source.columns if c not in t_types]
    assignable = set(target.columns) | set(new_cols)
    for label, m in (
        ("update", when_matched_update),
        ("insert", when_not_matched_insert),
    ):
        unknown = set(m or ()) - assignable
        if unknown:
            raise ValueError(
                f"{label} assignments target unknown columns {sorted(unknown)}"
                " (pass allow_schema_evolution=True to add source columns)"
            )

    if fail_on_duplicate_source_keys:
        source = _guard_duplicate_source_keys(source, key_cols, "merge_df")

    t = target.withColumn("__t_present", F.lit(True)).alias("t")
    s = source.withColumn("__s_present", F.lit(True)).alias("s")
    cond = None
    for k in key_cols:
        eq = F.col(f"t.{k}") == F.col(f"s.{k}")
        cond = eq if cond is None else cond & eq
    joined = t.join(s, cond, "full_outer")

    matched = F.col("t.__t_present").isNotNull() & F.col("s.__s_present").isNotNull()
    t_only = F.col("t.__t_present").isNotNull() & F.col("s.__s_present").isNull()
    s_only = F.col("t.__t_present").isNull() & F.col("s.__s_present").isNotNull()

    # A clause condition that evaluates to NULL must NOT fire (SQL
    # three-valued logic: WHEN MATCHED AND <null> skips the clause).
    # Without the coalesce, a NULL delete condition makes the kept
    # filter below NULL and the row is silently DROPPED instead of
    # kept — the one place where NULL≠false changes row fate.
    def _fires(c: Column) -> Column:
        return F.coalesce(c, F.lit(False))

    delete_hit = (
        matched & _fires(when_matched_delete_condition)
        if when_matched_delete_condition is not None
        else F.lit(False)
    )
    update_hit = F.lit(False)
    if when_matched_update is not None:
        update_hit = matched & ~delete_hit
        if when_matched_update_condition is not None:
            update_hit = update_hit & _fires(when_matched_update_condition)
    insert_hit = F.lit(False)
    if when_not_matched_insert is not None:
        insert_hit = s_only
        if when_not_matched_insert_condition is not None:
            insert_hit = insert_hit & _fires(when_not_matched_insert_condition)

    kept = joined.where(t_only | (matched & ~delete_hit) | insert_hit)
    out_cols = []
    for c in list(target.columns) + new_cols:
        # evolved columns have no target value: NULL (typed from the
        # source) everywhere an assignment below doesn't set them
        col = (
            F.col(f"t.{c}")
            if c in set(target.columns)
            else F.lit(None).cast(s_types[c])
        )
        if when_matched_update is not None and c in when_matched_update:
            col = F.when(update_hit, when_matched_update[c]).otherwise(col)
        if when_not_matched_insert is not None and c in when_not_matched_insert:
            col = F.when(insert_hit, when_not_matched_insert[c]).otherwise(col)
        out_cols.append(col.alias(c))
    return kept.select(*out_cols)


def merge_table(
    spark: SparkSession,
    table_path: str,
    source: DataFrame,
    key_cols: list[str],
    **clauses,
) -> DataFrame:
    """MERGE into a parquet table path with write-to-temp-and-swap
    (same adapter shape as :func:`upsert_table`)."""
    existing = spark.read.parquet(table_path)
    merged = merge_df(existing, source, key_cols, **clauses)
    write_and_swap(merged, table_path)
    return spark.read.parquet(table_path)


def upsert_table(
    spark: SparkSession,
    table_path: str,
    updates: DataFrame,
    key_cols: list[str],
    allow_schema_evolution: bool = False,
) -> DataFrame:
    """Upsert into a parquet table path with write-to-temp-and-swap
    (Spark cannot overwrite a path it is lazily reading)."""
    existing = spark.read.parquet(table_path)
    merged = upsert_df(existing, updates, key_cols, allow_schema_evolution)
    write_and_swap(merged, table_path)
    return spark.read.parquet(table_path)


def vacuum_table_dir(warehouse: str, older_than_s: float = 24 * 3600) -> list[str]:
    """Remove stale ``.__tmp_*`` / ``.__bak_*`` directories left by
    swaps that crashed between write and rename. Age-gated so a
    concurrently-running swap's live temp dir is never collected
    (default 24 h — generous next to any real write).

    SAFETY: a leftover whose BASE TABLE is missing is never removed —
    a process killed between ``swap_table_dir``'s two renames leaves
    the only surviving copy of the table in the ``.__bak_*`` dir, and
    vacuuming it would destroy the table. Those are reported for
    manual restore instead. Returns the removed paths."""
    import re
    import sys
    import time

    removed = []
    pat = re.compile(r"^(?P<base>.+)\.__(tmp|bak)_")
    cutoff = time.time() - older_than_s
    for name in os.listdir(warehouse):
        m = pat.match(name)
        full = os.path.join(warehouse, name)
        if not m or os.path.getmtime(full) >= cutoff:
            continue
        base = os.path.join(warehouse, m.group("base"))
        if not os.path.exists(base):
            print(
                f"vacuum: NOT removing {full} — base table {base} is missing; "
                "this may be the only surviving copy (crashed mid-swap). "
                "Restore it with: mv {0} {1}".format(full, base),
                file=sys.stderr,
            )
            continue
        if os.path.isdir(full):
            shutil.rmtree(full, ignore_errors=True)
        else:  # single-file table leftovers
            os.remove(full)
        removed.append(full)
    return sorted(removed)


def forget_keys(
    spark,
    tables: list[tuple[str, str]],
    keys: DataFrame,
    key_col: str = "user_id",
) -> DataFrame:
    """Right-to-be-forgotten propagation: delete every row whose key
    is in ``keys`` from each ``(table_path, table_key_col)`` parquet
    table, returning an audit report ``(table, rows_before,
    rows_removed, rows_after)`` — the GDPR/CCPA erasure primitive a
    training-data platform must run across its whole star before any
    export.

    One scan per table: the table LEFT-joins the DISTINCT deletion
    keys (AQE broadcasts a request-sized key set; a backlog of
    millions shuffles — both correct), the per-row match marker is
    counted through the ``Observation`` API ON THE WRITE ACTION
    itself, and surviving rows go through ``write_and_swap`` — so
    audit numbers and written data come from the SAME job, and a
    crash leaves the old table intact (readers never see a
    half-forgotten table, which would be a compliance failure in
    both directions). Idempotent: re-running removes 0 rows.
    The deletion keys are deduplicated; NULL table keys never match
    (a NULL is not an identity to forget).
    """
    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    if not tables:
        raise ValueError("forget_keys needs at least one (path, key_col) table")
    kset = keys.select(F.col(key_col).alias("__fk")).where(
        F.col("__fk").isNotNull()
    ).distinct()
    report = []
    for path, col in tables:
        df = spark.read.parquet(path)
        j = df.join(kset, df[col] == F.col("__fk"), "left")
        obs = Observation(f"forget:{path}")
        observed = j.observe(
            obs,
            F.count(F.lit(1)).alias("before"),
            F.sum(F.col("__fk").isNotNull().cast("long")).alias("removed"),
        )
        kept = observed.where(F.col("__fk").isNull()).drop("__fk")
        write_and_swap(kept, path)
        before = int(obs.get["before"])
        removed = int(obs.get["removed"] or 0)
        report.append((path, before, removed, before - removed))
    return spark.createDataFrame(
        report,
        "table string, rows_before long, rows_removed long, rows_after long",
    )


def _guard_erasure_stale(table_path: str, op: str) -> None:
    """Refuse to fold into an erasure-tombstoned MV: its sketch cells
    irreversibly contain a forgotten item's contribution, and every
    further fold would perpetuate it (see operators.erasure). Rebuild
    from the cleansed base via erasure.rebuild_mv, which clears the
    marker atomically with the fresh data."""
    from dataflow_python_etl_spark.operators.erasure import ERASURE_TOMBSTONE

    if os.path.exists(os.path.join(table_path, ERASURE_TOMBSTONE)):
        raise RuntimeError(
            f"{op}: MV at {table_path} is tombstoned by an erasure request "
            "— its aggregates cannot subtract the forgotten contribution; "
            "rebuild from the cleansed base (erasure.rebuild_mv) before "
            "folding further batches."
        )


def refresh_additive_agg(
    spark,
    table_path: str,
    batch_agg: DataFrame,
    key_cols: list[str],
    batch_id: int | None = None,
) -> None:
    """Incremental materialized-aggregate maintenance: fold an
    already-aggregated batch into a persisted aggregate table whose
    measure columns are all ADDITIVE (counts, sums; min/max are NOT
    — a min can't be unmade by addition; averages must be carried as
    (sum, count) pairs and divided at read time).

    Contract (pinned in tests): ``refresh(agg(A), agg(B)) ≡
    agg(A ∪ B)`` — additivity is exactly the property that makes the
    per-refresh cost |aggregate| + |batch|, never the fact history.
    Both the creation and every fold go through ``write_and_swap``
    (crash-safe, readers never torn).

    Replay safety: the fold itself is NOT idempotent (re-adding a
    batch double-counts), so callers with replayable inputs pass a
    monotonic ``batch_id`` — it is recorded in a ledger sidecar
    written ATOMICALLY with the folded data (write_and_swap
    ``extra_files``). The recorded batch is a silent no-op skip, and
    a batch BELOW it raises (a checkpoint reset over a live table;
    ``_batch_applied``). foreachBatch is at-least-once: a crash after
    the fold but before Spark's checkpoint commit re-delivers the
    same batch_id on restart, and the ledger — not the checkpoint —
    is what makes that replay a no-op. A pre-ledger table (built by
    a batch caller without ids) starts protection at its first
    ledgered fold; conversely a ledgerless fold into a LEDGERED
    table carries the existing ledger forward unchanged (pinned) —
    a mixed batch+streaming maintenance schedule never drops replay
    protection. Schema must match the existing table exactly,
    names AND types (a silently-widened measure would truncate
    through the cast and drift the aggregate)."""
    if not key_cols:
        raise ValueError("refresh_additive_agg requires key_cols")
    missing = [k for k in key_cols if k not in batch_agg.columns]
    if missing:
        raise ValueError(f"key columns absent from batch: {missing}")
    _guard_erasure_stale(table_path, "refresh_additive_agg")
    ledger = _ledger_file({"last_batch_id": batch_id}) if batch_id is not None else None
    if not os.path.exists(table_path):
        write_and_swap(batch_agg, table_path, extra_files=ledger)
        return
    applied = (_read_marker(os.path.join(table_path, AGG_LEDGER)) or {}).get(
        "last_batch_id"
    )
    if batch_id is not None:
        if _batch_applied("refresh_additive_agg", batch_id, applied):
            return  # replayed batch: already folded in, skip
    elif applied is not None:
        # Ledgerless fold into a LEDGERED table: carry the existing
        # ledger forward. write_and_swap rebuilds the table dir from
        # scratch, so omitting it here would silently erase replay
        # protection — a later streaming restart would find no ledger
        # and re-apply its last delivered batch (double-count).
        ledger = _ledger_file({"last_batch_id": applied})
    cur = spark.read.parquet(table_path)
    cur_types = {f.name: f.dataType for f in cur.schema.fields}
    new_types = {f.name: f.dataType for f in batch_agg.schema.fields}
    if cur_types != new_types:
        raise ValueError(
            f"schema mismatch: table {sorted(cur_types.items(), key=str)} vs "
            f"batch {sorted(new_types.items(), key=str)}"
        )
    measures = [c for c in cur.columns if c not in key_cols]
    merged = (
        cur.select(cur.columns)
        .unionByName(batch_agg.select(cur.columns))
        .groupBy(*key_cols)
        .agg(*[F.sum(c).cast(cur_types[c]).alias(c) for c in measures])
    )
    write_and_swap(merged, table_path, extra_files=ledger)


def stream_additive_agg_to_table(
    stream_df: DataFrame,
    table_path: str,
    checkpoint: str,
    key_cols: list[str],
    agg_fn,
) -> "pyspark.sql.streaming.StreamingQuery":  # noqa: F821
    """Streaming materialized-view maintenance: per micro-batch,
    aggregate with the caller's ``agg_fn(batch_df) -> DataFrame``
    (which must produce the additive ``(key_cols, measures)`` shape)
    and fold it in via :func:`refresh_additive_agg` with the
    micro-batch id as the replay ledger key. foreachBatch alone is
    AT-LEAST-once — a crash between the fold and Spark's checkpoint
    commit re-delivers the batch — so exactly-once comes from the
    ledger sidecar swapped atomically with the data, which turns the
    re-delivery into a no-op (replay-pinned in tests). The table
    converges to the full-history aggregate (parity-pinned)."""

    def apply_batch(batch_df: DataFrame, batch_id: int) -> None:
        # repo invariant: a restarted sink whose table vanished must
        # FAIL (or restore the mid-swap backup), never rebuild the
        # aggregate from a single batch
        _guard_missing_table(table_path, batch_id, "stream_additive_agg_to_table")
        refresh_additive_agg(
            batch_df.sparkSession, table_path, agg_fn(batch_df), key_cols,
            batch_id=batch_id,
        )

    return (
        stream_df.writeStream.foreachBatch(apply_batch)
        .option("checkpointLocation", checkpoint)
        .outputMode("update")
        .start()
    )


def staged_partition_append(
    df: DataFrame,
    path: str,
    partition_col: str,
    label: str,
) -> None:
    """THE crash-safe partitioned-append protocol (shared by the IVF
    index and the search postings index — one copy, like
    ``write_and_swap``): write ``df``'s ``{partition_col}=*`` output
    to a HIDDEN stage dir inside the table (``.``-prefixed, invisible
    to concurrent readers), then move the completed parquet files
    into the matching partitions.

    Crash contract: a crash while WRITING leaves only the stage dir
    (readers unaffected); a crash mid-MOVE leaves a complete-file
    subset visible plus the unmoved remainder staged. Because rows
    would duplicate, re-running is NOT the recovery — the next append
    REFUSES while a leftover stage dir exists, and the error says how
    to recover (finish moving the leftover files, or delete the stage
    dirs and rebuild)."""
    leftovers = [d for d in os.listdir(path) if d.startswith(".__append_tmp_")]
    if leftovers:
        raise ValueError(
            f"{label} at {path} has leftover append stage dir(s) {leftovers} "
            f"from a crashed append. Recover first: move any "
            f"{partition_col}=*/ parquet files still inside them into the "
            "matching table partitions (completing the interrupted move), or "
            "delete the stage dirs and rebuild — then retry. Re-running the "
            "append blindly would duplicate the already-moved rows."
        )
    stage = os.path.join(path, f".__append_tmp_{uuid.uuid4().hex}")
    df.write.partitionBy(partition_col).parquet(stage)
    prefix = f"{partition_col}="
    for part in sorted(os.listdir(stage)):
        src_dir = os.path.join(stage, part)
        if not (part.startswith(prefix) and os.path.isdir(src_dir)):
            continue  # _SUCCESS etc.
        dst_dir = os.path.join(path, part)
        os.makedirs(dst_dir, exist_ok=True)
        for fname in sorted(os.listdir(src_dir)):
            if fname.startswith((".", "_")):
                continue
            dst = os.path.join(dst_dir, fname)
            if os.path.exists(dst):  # job-UUID filenames make this ~impossible
                raise ValueError(f"append target file already exists: {dst}")
            os.rename(os.path.join(src_dir, fname), dst)
    shutil.rmtree(stage)


def refresh_kmv_agg(
    spark: SparkSession,
    table_path: str,
    batch_sketch: DataFrame,
    key_cols: list[str],
    k: int,
) -> None:
    """Incremental DISTINCT-COUNT materialized view via mergeable KMV
    sketches — the non-additive counterpart of
    :func:`refresh_additive_agg`. A count-distinct can NOT be folded
    additively (re-seen keys double-count), and keeping the exact key
    sets makes the MV as big as the data; the standard answer is a
    mergeable sketch: the table stores one KMV hash array per key
    (``operators.sketches.kmv_sketches`` shape) and each refresh
    merges under the KMV merge law — k smallest of the DISTINCT
    union (``kmv(A ∪ B) = k-min(kmv(A) ∪ kmv(B))``), so
    ``refresh(kmv(A), kmv(B)) ≡ kmv(A ∪ B)`` EXACTLY — not just
    collision-improbably — because ``kmv_sketches`` itself dedups on
    the HASH value (the hash is the identity on both the build and
    the merge side, so a 60-bit collision between distinct keys
    collapses identically everywhere).

    Replay safety WITHOUT a ledger: set union is idempotent — a
    re-delivered batch merges to the same arrays (per-key
    convergence, the MERGE/SCD2 free lunch — unlike the additive
    fold, which needs the ledger sidecar). Per-refresh cost is
    |aggregate| + |batch|, never the fact history; estimates are
    read off the arrays all-integer (``est ≈ (k−1)·(M div R_k)``).
    Writes go through ``write_and_swap`` (crash-safe, never torn)."""
    if not key_cols:
        raise ValueError("refresh_kmv_agg requires key_cols")
    if "hashes" not in batch_sketch.columns:
        raise ValueError("batch_sketch must carry a 'hashes' array column")
    missing = [c for c in key_cols if c not in batch_sketch.columns]
    if missing:
        raise ValueError(f"key columns absent from batch: {missing}")
    extra = [c for c in batch_sketch.columns if c not in key_cols and c != "hashes"]
    if extra:
        # the merge regroups on key_cols and rebuilds ONLY the hash
        # array — a column it can't carry must be rejected up front,
        # not silently dropped on the first fold
        raise ValueError(f"unexpected non-sketch columns in batch: {extra}")
    if k < 2:
        raise ValueError(f"k must be >= 2, got {k}")
    _guard_erasure_stale(table_path, "refresh_kmv_agg")
    if not os.path.exists(table_path):
        write_and_swap(batch_sketch, table_path)
        return
    cur = spark.read.parquet(table_path)
    # simpleString: parquet round-trips drop containsNull=False on the
    # hash array, so nullability must not fail the name+type contract
    cur_types = {f.name: f.dataType.simpleString() for f in cur.schema.fields}
    new_types = {f.name: f.dataType.simpleString() for f in batch_sketch.schema.fields}
    if cur_types != new_types:
        raise ValueError(
            f"schema mismatch: table {sorted(cur_types.items())} vs "
            f"batch {sorted(new_types.items())}"
        )
    merged = (
        cur.select(cur.columns)
        .unionByName(batch_sketch.select(cur.columns))
        .groupBy(*key_cols)
        .agg(
            F.slice(
                F.array_sort(F.array_distinct(F.flatten(F.collect_list("hashes")))),
                1,
                k,
            ).alias("hashes")
        )
    )
    write_and_swap(merged, table_path)


def stream_kmv_agg_to_table(
    stream_df: DataFrame,
    table_path: str,
    checkpoint: str,
    set_col: str,
    key_col: str,
    k: int = 256,
) -> "pyspark.sql.streaming.StreamingQuery":  # noqa: F821
    """Streaming DISTINCT-COUNT materialized view: per micro-batch,
    sketch the batch (``kmv_sketches``) and merge it into the
    persisted per-key KMV table via :func:`refresh_kmv_agg` — the
    non-additive sibling of :func:`stream_additive_agg_to_table`,
    and the one where foreachBatch's at-least-once delivery needs NO
    ledger at all: the KMV merge is a set union, so a replayed batch
    merges to the same arrays (replay convergence pinned). The table
    converges to the full-history sketch (parity-pinned); estimates
    are read off the arrays with ``_kmv_est_int``."""
    from dataflow_python_etl_spark.operators.sketches import kmv_sketches

    def apply_batch(batch_df: DataFrame, batch_id: int) -> None:
        _guard_missing_table(table_path, batch_id, "stream_kmv_agg_to_table")
        refresh_kmv_agg(
            batch_df.sparkSession,
            table_path,
            kmv_sketches(batch_df, set_col, key_col, k),
            ["set_id"],
            k,
        )

    return (
        stream_df.writeStream.foreachBatch(apply_batch)
        .option("checkpointLocation", checkpoint)
        .outputMode("update")
        .start()
    )


def compact_table(
    spark: SparkSession,
    table_path: str,
    target_file_bytes: int = 128 * 1024 * 1024,
) -> dict:
    """Small-file compaction — the maintenance op every streaming
    sink in this repo eventually needs: each micro-batch fold/append
    writes its own parquet files, and a few thousand batches later
    the table is thousands of kilobyte files whose per-file open/
    footer cost dominates every scan. Rewrites the table to
    ``ceil(data_bytes / target_file_bytes)`` evenly-sized files
    (Hive-partitioned layouts rewrite to ~one file per live
    partition value instead — the partition is the unit a dataloader
    lists). Returns ``{n_files_before, n_files_after, n_rows,
    bytes_before}``.

    Correctness contract (pinned in tests):
    - rows are IDENTICAL before/after (a pure physical rewrite);
    - the write goes through :func:`write_and_swap` — readers never
      see a missing or torn table, and a crash mid-compaction leaves
      the original untouched (recover_table_dir semantics);
    - every ``_``-prefixed sidecar (the additive-refresh batch
      ledger, a shard ``_manifest`` dir …) is carried into the tmp
      dir BEFORE the swap — compaction must never be the "separate
      write" that drops replay protection (the ADVICE-r6 bug class:
      a sidecar not swapped WITH the data is a sidecar that
      eventually vanishes).

    At 100 TB run this per-partition from an orchestrator (pass the
    partition dir as ``table_path``); the rewrite cost is one scan +
    one shuffle-free write, and the swap is O(1) renames either way.
    """
    import glob
    import math

    if target_file_bytes < 1:
        raise ValueError(f"target_file_bytes must be >= 1, got {target_file_bytes}")
    if not os.path.isdir(table_path):
        raise ValueError(f"compact_table needs a directory table, got {table_path}")

    # Refuse to compact over unrecovered crash state: a leftover
    # .__append_tmp_* stage (staged_partition_append's recovery
    # protocol says it MUST be recovered before any further write) or
    # a sibling .__tmp_* / .__bak_* (write_and_swap mid-flight) may be
    # the only copy of in-flight data — silently deleting it via the
    # swap would destroy it.
    stale = glob.glob(f"{glob.escape(table_path)}.__tmp_*") + glob.glob(
        f"{glob.escape(table_path)}.__bak_*"
    )
    for root, dirs, _ in os.walk(table_path):
        stale += [
            os.path.join(root, d) for d in dirs if d.startswith(".__append_tmp_")
        ]
    if stale:
        raise RuntimeError(
            "compact_table: unrecovered crash state present — run "
            "recover_table_dir / recover_partition_appends first: "
            f"{sorted(stale)[:5]}"
        )

    data_files, sidecars, part_cols = [], [], set()
    for root, dirs, files in os.walk(table_path):
        for d in list(dirs):
            if "=" in d:
                part_cols.add(d.split("=", 1)[0])
        for fn in files:
            p = os.path.join(root, fn)
            rel = os.path.relpath(p, table_path)
            comps = rel.split(os.sep)
            # ANY '_'-prefixed path component marks a sidecar — a
            # partition-nested ledger (events/_applied_batch.json or
            # day=3/_manifest/part-*) must survive the swap exactly
            # like a top-level one (ADVICE r7: top-level-only carry
            # silently dropped nested sidecars).
            if any(c.startswith("_") for c in comps):
                sidecars.append(rel)
            elif not fn.startswith("."):
                data_files.append(p)
    n_before = len(data_files)
    bytes_before = sum(os.path.getsize(p) for p in data_files)

    # Partition columns are NOT in the parquet footers — their values
    # and types come from directory-name inference at read time, so an
    # unguarded re-read + rewrite renormalizes them (shard=007 →
    # shard=7 under int inference), silently renaming the partition
    # paths a dataloader or dynamic-overwrite replay keys on. Disable
    # type inference for the compaction read: values stay the literal
    # directory strings and the rewrite reproduces the exact dir names;
    # downstream readers re-infer types exactly as before.
    infer_key = "spark.sql.sources.partitionColumnTypeInference.enabled"
    infer_prev = spark.conf.get(infer_key, "true")
    spark.conf.set(infer_key, "false")
    try:
        df = spark.read.option("basePath", table_path).parquet(table_path)
        n_rows = df.count()
        parts = sorted(part_cols)
        if parts:
            # ~one file per live partition value: hash-cluster rows by
            # the partition key so each value lands in one task's output
            out = df.repartition(*[F.col(c) for c in parts])
        else:
            n_files = max(1, math.ceil(bytes_before / target_file_bytes))
            out = df.repartition(n_files)

        def _carry_sidecars(tmp_dir: str) -> None:
            for rel in sidecars:
                src = os.path.join(table_path, rel)
                dst = os.path.join(tmp_dir, rel)
                os.makedirs(os.path.dirname(dst), exist_ok=True)
                shutil.copyfile(src, dst)

        write_and_swap(
            out, table_path, partition_by=parts or None, pre_swap=_carry_sidecars
        )
    finally:
        spark.conf.set(infer_key, infer_prev)
    n_after = sum(
        1
        for root, _, files in os.walk(table_path)
        if not os.path.relpath(root, table_path).startswith("_")
        for fn in files
        if not fn.startswith(".") and not fn.startswith("_")
    )
    return {
        "n_files_before": n_before,
        "n_files_after": n_after,
        "n_rows": n_rows,
        "bytes_before": bytes_before,
    }
