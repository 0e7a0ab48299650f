"""CLI entry points — one subcommand per reference pipeline script.

Parity map (SURVEY.md §3):
- ``ingest``       ≙ ``src/data_ingest.py`` — N CSV files → N typed
  parquet tables (CREATE_IF_NEEDED + WRITE_TRUNCATE ≡ overwrite).
- ``mart``         ≙ ``src/datalake_to_mart.py`` — dedup + broadcast
  joins + scalar transforms → ``schema_prod``.
- ``compensation`` ≙ ``src/datalake_compensation.py`` — recompute the
  ``compensacion`` column and swap the table in place (no per-row
  RPCs; see operators/compensation.py).

The "warehouse" is a directory of parquet tables (our stand-in for
the reference's BigQuery ``lake`` dataset, SURVEY.md §1.3).

Example:
    python -m dataflow_python_etl_spark.cli ingest \
        --input p.csv,v.csv,s.csv --output pasajero,vuelo,venta \
        --schemas pasajero.json,vuelo.json,venta.json --warehouse /tmp/lake
    python -m dataflow_python_etl_spark.cli mart --warehouse /tmp/lake
    python -m dataflow_python_etl_spark.cli compensation --warehouse /tmp/lake
"""

from __future__ import annotations

import argparse
import os
from pathlib import Path

from pyspark.sql import functions as F

from dataflow_python_etl_spark.session import get_spark

_RESOURCES = Path(__file__).parent / "resources"


def _table_path(warehouse: str, name: str) -> str:
    """Resolve a table name in the warehouse. A name without its own
    dir resolves to an existing single-file ``<name>.parquet`` table
    (the driver's testdata shape) when one exists, so writers replace
    THAT table instead of creating a sibling dir the registration
    loop would shadow with the stale file."""
    p = os.path.join(warehouse, name)
    single = p + ".parquet"
    if not os.path.exists(p) and os.path.exists(single):
        return single
    return p


def run_ingest(args) -> None:
    from dataflow_python_etl_spark.schema import load_bq_schema
    from dataflow_python_etl_spark.sources.csv_ingest import ingest_csv

    spark = get_spark("ingest")
    inputs = args.input.split(",")
    outputs = args.output.split(",")
    schema_files = (
        args.schemas.split(",")
        if args.schemas
        else [str(_RESOURCES / f"{o}.json") for o in outputs]
    )
    if not (len(inputs) == len(outputs) == len(schema_files)):
        raise SystemExit("--input, --output and --schemas must have equal arity")
    for src, out, sf in zip(inputs, outputs, schema_files):
        df = ingest_csv(spark, src, load_bq_schema(sf), _table_path(args.warehouse, out))
        print(f"{src} -> {out}: {df.count()} rows")


def run_mart(args) -> None:
    from dataflow_python_etl_spark.operators.mart import build_mart

    spark = get_spark("mart")
    venta = spark.read.parquet(_table_path(args.warehouse, "venta"))
    pasajero = spark.read.parquet(_table_path(args.warehouse, "pasajero"))
    vuelo = spark.read.parquet(_table_path(args.warehouse, "vuelo"))
    out = build_mart(venta, pasajero, vuelo)
    from dataflow_python_etl_spark.operators.upsert import write_and_swap

    write_and_swap(out, _table_path(args.warehouse, args.output))
    print(f"{args.output}: {spark.read.parquet(_table_path(args.warehouse, args.output)).count()} rows")


def run_compensation(args) -> None:
    from dataflow_python_etl_spark.operators.compensation import apply_compensation

    spark = get_spark("compensation")
    df = apply_compensation(spark, _table_path(args.warehouse, args.output))
    counts = df.groupBy("compensacion").count().collect()
    for r in counts:
        print(f"compensacion={r['compensacion']}: {r['count']}")


def run_explain(args) -> None:
    from dataflow_python_etl_spark.plans.checks import explain_str
    from dataflow_python_etl_spark.queries import QUERIES

    if args.query not in QUERIES:
        raise SystemExit(
            f"unknown query {args.query!r}; choose from: {', '.join(sorted(QUERIES))}"
        )
    spark = get_spark("explain")
    df = QUERIES[args.query].fn(spark, args.sf_dir)
    print(explain_str(df, args.mode))


def run_sql(args) -> None:
    """Ad-hoc SQL over the warehouse — the reference's users live in
    BigQuery SQL (every pipeline embeds SQL strings); this is that
    surface over the parquet catalog. Registers every table in the
    warehouse dir as a temp view, runs the statement, prints a bounded
    sample or writes a new table."""
    from dataflow_python_etl_spark.sources.catalog import read_table

    spark = get_spark("sql")
    wh = Path(args.warehouse)
    for entry in sorted(wh.iterdir()):
        name = entry.stem if entry.suffix == ".parquet" else entry.name
        if name.startswith((".", "_")) or ".__" in entry.name:
            continue  # hidden files / in-flight tmp+bak swap dirs
        if entry.is_dir():
            spark.read.parquet(str(entry)).createOrReplaceTempView(name)
        elif entry.suffix == ".parquet":
            # single-file tables (e.g. the driver's testdata) may carry
            # TIMESTAMP(NANOS); read_table handles the conversion
            read_table(spark, str(wh), name).createOrReplaceTempView(name)
    statement = args.query if args.query else Path(args.file).read_text()
    df = spark.sql(statement)
    if args.output:
        # write-to-temp-and-swap like every other writer: naming an
        # input table as --output must not overwrite-while-reading, a
        # crash mid-write must not leave a half-written table, and a
        # single-file target (testdata *.parquet) swaps the same way
        from dataflow_python_etl_spark.operators.upsert import write_and_swap

        out = _table_path(args.warehouse, args.output)
        write_and_swap(df, out)
        print(f"{args.output}: {spark.read.parquet(out).count()} rows")
    else:
        for row in df.limit(args.limit).collect():
            print(row)


def run_compact(args) -> None:
    """Compact a table's small files — streaming CDC upserts and
    incremental loads accrete files; scans pay per-file open cost and
    lose row-group pruning. See :func:`operators.upsert.compact_table`
    (partition layout and ``_``-prefixed sidecars carried through the
    swap; refuses to run over unrecovered crash state)."""
    from dataflow_python_etl_spark.operators.upsert import compact_table

    spark = get_spark("compact")
    path = _table_path(args.warehouse, args.table)
    st = compact_table(spark, path, target_file_bytes=args.target_file_mb * 1024 * 1024)
    print(
        f"{args.table}: {st['n_files_before']} files ({st['bytes_before']} B) "
        f"-> {st['n_files_after']} files"
    )


def run_zorder(args) -> None:
    """Z-order-cluster a warehouse table (multi-column data skipping;
    see operators/zorder.py)."""
    from dataflow_python_etl_spark.operators.zorder import zorder_table

    spark = get_spark("zorder")
    path = _table_path(args.warehouse, args.table)
    cols = args.by.split(",")
    zorder_table(spark, path, cols, bits=args.bits)
    print(f"{args.table}: z-ordered by {cols}")


def run_profile(args) -> None:
    """Single-pass per-column profile of a warehouse table (the
    data-quality gate before trusting a new drop)."""
    from dataflow_python_etl_spark.operators.profile import profile_table

    spark = get_spark("profile")
    df = spark.read.parquet(_table_path(args.warehouse, args.table))
    for r in profile_table(df).collect():
        print(
            f"{r['column']}\t{r['dtype']}\trows={r['n_rows']}\t"
            f"nulls={r['n_nulls']} ({r['null_frac']})\t"
            f"~distinct={r['n_distinct_approx']}\tmin={r['min']}\tmax={r['max']}"
        )


def run_vacuum(args) -> None:
    """Remove stale swap leftovers (.__tmp_*/.__bak_*) from the
    warehouse — companions of crashed write-and-swap operations."""
    from dataflow_python_etl_spark.operators.upsert import vacuum_table_dir

    removed = vacuum_table_dir(args.warehouse, older_than_s=args.older_than_hours * 3600)
    for path in removed:
        print(f"removed {path}")
    print(f"{len(removed)} stale swap dirs removed")


def run_curate(args) -> None:
    """Run the full corpus-curation pipeline (PII scrub -> quality gate
    -> n-gram dedup [-> semantic dedup] [-> per-domain quota]) over a
    documents-shaped table and write the survivors."""
    from dataflow_python_etl_spark.operators.corpus import curate_corpus

    spark = get_spark("curate")
    docs = spark.read.parquet(_table_path(args.warehouse, args.table))
    emb = (
        spark.read.parquet(_table_path(args.warehouse, args.embeddings))
        if args.embeddings
        else None
    )
    out = curate_corpus(
        docs,
        emb,
        domain_col=args.domain_col,
        max_per_domain=args.max_per_domain,
        min_quality=args.min_quality,
    )
    dest = _table_path(args.warehouse, args.output)
    from dataflow_python_etl_spark.operators.upsert import write_and_swap

    write_and_swap(out, dest)
    n_in = docs.count()
    n_out = spark.read.parquet(dest).count()
    print(f"{args.table}: {n_in} docs -> {args.output}: {n_out} survivors")


def run_chunk(args) -> None:
    """Chunk + pack a documents-shaped table into training sequences
    (the curate -> chunk -> pack -> split chain's middle stages)."""
    from dataflow_python_etl_spark.operators.chunking import (
        chunk_documents,
        pack_sequences,
    )

    spark = get_spark("chunk")
    docs = spark.read.parquet(_table_path(args.warehouse, args.table)).select(
        "doc_id", "text"
    )
    chunks = chunk_documents(
        docs,
        chunk_tokens=args.chunk_tokens,
        overlap_tokens=args.overlap_tokens,
        token_mode=args.token_mode,
    )
    if args.budget:
        chunks = pack_sequences(chunks, args.budget, order_cols=["doc_id", "chunk_id"])
    dest = _table_path(args.warehouse, args.output)
    from dataflow_python_etl_spark.operators.upsert import write_and_swap

    write_and_swap(chunks, dest)
    out = spark.read.parquet(dest)
    n_seq = out.select("seq_id").distinct().count() if args.budget else 0
    packed = f", {n_seq} sequences" if args.budget else ""
    print(f"{args.table}: chunked to {args.output}: {out.count()} chunks{packed}")


def run_split(args) -> None:
    """Leakage-proof group-cohesive train/val/test split of a table."""
    from dataflow_python_etl_spark.operators.corpus import split_by_group

    spark = get_spark("split")
    df = spark.read.parquet(_table_path(args.warehouse, args.table))
    fractions = {}
    for part in args.fractions.split(","):
        name, frac = part.split("=")
        fractions[name] = float(frac)
    out = split_by_group(df, args.group_col, fractions)
    dest = _table_path(args.warehouse, args.output)
    from dataflow_python_etl_spark.operators.upsert import write_and_swap

    write_and_swap(out, dest, partition_by=["split"])
    counts = {
        r["split"]: r["n"]
        for r in spark.read.parquet(dest)
        .groupBy("split")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    print(f"{args.table}: split to {args.output}: {counts}")


def run_dedup(args) -> None:
    """Near-dup pair report (MinHash LSH) over a documents table —
    the batch twin of the streaming dedup ingest."""
    from dataflow_python_etl_spark.operators.dedup import (
        minhash_lsh_pairs,
        unpersist_all,
    )

    spark = get_spark("dedup")
    docs = spark.read.parquet(_table_path(args.warehouse, args.table)).select(
        "doc_id", "text"
    )
    pairs = minhash_lsh_pairs(docs, threshold=args.threshold)
    dest = _table_path(args.warehouse, args.output)
    from dataflow_python_etl_spark.operators.upsert import write_and_swap

    write_and_swap(pairs, dest)
    n = spark.read.parquet(dest).count()
    unpersist_all()
    print(f"{args.table}: {n} near-dup pairs (threshold {args.threshold}) -> {args.output}")


def run_quality(args) -> None:
    """Gopher rule-based quality report over a documents table:
    per-rule reject counts (the monitoring view a curation pipeline
    watches) and optionally the full per-document flags table."""
    from dataflow_python_etl_spark.operators.corpus import gopher_flags

    spark = get_spark("quality")
    docs = spark.read.parquet(_table_path(args.warehouse, args.table))
    flags = gopher_flags(docs, min_words=args.min_words)
    rules = [c for c in flags.columns if c.startswith("rule_")]
    # ONE aggregation job: per-rule pass counts + total (report-sized
    # collect — |rules|+2 numbers, never rows); coalesce(0) so an
    # EMPTY table reports 0/0 instead of None arithmetic
    counts = flags.agg(
        F.count(F.lit(1)).alias("total"),
        *[
            F.coalesce(F.sum(F.col(r).cast("long")), F.lit(0)).alias(r)
            for r in rules + ["passes"]
        ],
    ).collect()[0]
    for r in rules:
        print(f"{r}: {counts['total'] - counts[r]} rejected")
    print(f"passes: {counts['passes']}/{counts['total']}")
    if args.output:
        from dataflow_python_etl_spark.operators.upsert import write_and_swap

        write_and_swap(flags, _table_path(args.warehouse, args.output))


def run_search(args) -> None:
    """BM25 keyword search — three modes sharing identical scoring
    semantics (probe ≡ scan is operator-pinned): corpus scan
    (--table + --terms), index build/append (--build-index /
    --append), and index probe (--index + --terms; per-query cost is
    the terms' postings, not the corpus). Collects are top-k- or
    report-bounded, never corpus-sized."""
    from dataflow_python_etl_spark.operators.search import (
        append_to_search_index,
        bm25_search,
        build_search_index,
        load_search_stats,
        search_index,
    )

    spark = get_spark("search")
    if args.build_index or args.append:
        if not (args.warehouse and args.table):
            raise SystemExit("search: index build/append needs --warehouse and --table")
        docs = spark.read.parquet(_table_path(args.warehouse, args.table))
        if args.build_index:
            build_search_index(docs, args.build_index)
            st = load_search_stats(args.build_index)
            print(f"built {args.build_index}: {st['n_docs']} docs, "
                  f"{st['sum_dl']} tokens, {st['n_buckets']} buckets")
        else:
            append_to_search_index(docs, args.append)
            st = load_search_stats(args.append)
            print(f"appended into {args.append}: now {st['n_docs']} docs, "
                  f"{st['sum_dl']} tokens")
        return
    if not args.terms:
        raise SystemExit("search: query mode needs --terms")
    terms = tuple(t for t in args.terms.split(",") if t)
    if args.index:
        result = search_index(spark, args.index, terms, top_k=args.top_k)
    else:
        if not (args.warehouse and args.table):
            raise SystemExit("search: scan mode needs --warehouse and --table")
        docs = spark.read.parquet(_table_path(args.warehouse, args.table))
        result = bm25_search(docs, terms, top_k=args.top_k)
    for r in result.collect():
        print(f"{r[0]}\t{r['bm25']:.6f}\t{r['n_terms_matched']} terms")


def run_overlap(args) -> None:
    """KMV audience overlap: distinct sizes, union, and Jaccard for
    two keyed sets — from two k-hash sketches, never a full
    intersection. One report row printed."""
    from dataflow_python_etl_spark.operators.sketches import kmv_overlap

    spark = get_spark("overlap")
    df = spark.read.parquet(_table_path(args.warehouse, args.table))
    r = kmv_overlap(
        df, args.set_col, args.key_col, args.set_a, args.set_b, k=args.k
    ).first()
    print(
        f"k={r['k']} est_a={r['est_a']} est_b={r['est_b']} "
        f"est_union={r['est_union']} n_common={r['n_common']} "
        f"jaccard_ppm={r['jaccard_ppm']}"
    )


def run_mix(args) -> None:
    """Epoch-weighted training-mixture replication: write the
    upsampled table and report per-stratum replica counts."""
    from dataflow_python_etl_spark.operators.corpus import epoch_upsample

    spark = get_spark("mix")
    docs = spark.read.parquet(_table_path(args.warehouse, args.table))
    weights = {}
    for part in args.weights.split(","):
        k, _, v = part.partition("=")
        if not _:
            raise SystemExit(f"mix: --weights entries must be name=float, got {part!r}")
        weights[k] = float(v)
    out = epoch_upsample(
        docs,
        strata_col=args.strata_col,
        weights=weights,
        key_col=args.key_col,
        default_weight=args.default_weight,
    )
    dest = _table_path(args.warehouse, args.output)
    from dataflow_python_etl_spark.operators.upsert import write_and_swap

    write_and_swap(out, dest)
    # report-sized: one row per stratum
    for r in (
        spark.read.parquet(dest)
        .groupBy(args.strata_col)
        .agg(F.count(F.lit(1)).alias("rows"), F.max("epoch").alias("max_epoch"))
        .orderBy(args.strata_col)
        .collect()
    ):
        print(f"{r[0]}: {r['rows']} rows, max epoch {r['max_epoch']}")


def run_forget(args) -> None:
    """Right-to-be-forgotten erasure across warehouse tables: delete
    every row matching the requested keys and print the audit report
    (one row per table — report-sized by construction)."""
    from dataflow_python_etl_spark.operators.upsert import forget_keys

    spark = get_spark("forget")
    tables = []
    for part in args.tables.split(","):
        name, _, col = part.partition(":")
        if not _:
            raise SystemExit(
                f"forget: --tables entries must be table:key_col, got {part!r}"
            )
        tables.append((_table_path(args.warehouse, name), col))
    if args.keys_table:
        name, _, col = args.keys_table.partition(":")
        if not _:
            raise SystemExit("forget: --keys-table must be table:key_col")
        keys = spark.read.parquet(_table_path(args.warehouse, name)).select(
            F.col(col).cast("long").alias("user_id")
        )
    elif args.keys:
        keys = spark.createDataFrame(
            [(int(k),) for k in args.keys.split(",")], "user_id: long"
        )
    else:
        raise SystemExit("forget: pass --keys or --keys-table")
    for r in forget_keys(spark, tables, keys).collect():
        print(
            f"{r['table']}: {r['rows_removed']} of {r['rows_before']} rows "
            f"erased, {r['rows_after']} remain"
        )


def run_shard(args) -> None:
    """Export a documents table as hash-sharded training partitions
    with a checksummed manifest; prints the per-shard accounting."""
    from dataflow_python_etl_spark.operators.chunking import write_training_shards

    spark = get_spark("shard")
    docs = spark.read.parquet(_table_path(args.warehouse, args.table))
    manifest = write_training_shards(
        docs,
        _table_path(args.warehouse, args.output),
        args.n_shards,
        id_col=args.id_col,
        text_col=args.text_col,
    )
    for r in manifest.orderBy("shard_id").collect():  # n_shards rows
        print(
            f"shard {r['shard_id']}: {r['n_docs']} docs, {r['n_tokens']} tokens, "
            f"{r['n_chars']} chars, checksum {r['checksum']:x}"
        )


def run_events_report(args) -> None:
    """One-command product-analytics report over an events table:
    funnel, weekly retention, top transitions, and anomaly count —
    every collect is report-sized (steps / cohort-weeks / top-10 /
    one count), never event-sized."""
    from dataflow_python_etl_spark.operators.events import (
        funnel_report,
        retention_matrix,
        event_transitions,
    )
    from dataflow_python_etl_spark.operators.timeseries import rolling_anomalies

    spark = get_spark("events-report")
    ev = _read_events_table(spark, args.warehouse, args.table)
    steps = tuple(s for s in args.funnel.split(",") if s)
    print("== funnel ==")
    for r in funnel_report(ev, steps).orderBy("step").collect():
        print(f"step {r['step']} {r['step_name']}: {r['users']} users")
    print("== weekly retention ==")
    for r in (
        retention_matrix(ev).orderBy("cohort", "period_offset").collect()
    ):
        print(f"{r['cohort']} +{r['period_offset']}w: {r['users']}")
    print("== top transitions ==")
    for r in (
        event_transitions(ev)
        .orderBy(F.col("transitions").desc(), "from_type", "to_type")
        .limit(10)
        .collect()
    ):
        print(f"{r['from_type']} -> {r['to_type']}: {r['transitions']}")
    print("== top journeys ==")
    from dataflow_python_etl_spark.operators.events import top_paths

    for r in top_paths(ev, top_k=5).collect():
        print(f"journey {r['path']}: {r['n_users']} users")
    n_anom = rolling_anomalies(ev).where("is_anomaly").count()
    print(f"== anomalies ==\n{n_anom} anomalous buckets")
    print("== last-touch attribution ==")
    from dataflow_python_etl_spark.operators.events import attribution

    for r in (
        attribution(ev, conversion_type=steps[-1])
        .orderBy(F.col("conversions").desc(), "touch_type")
        .collect()
    ):
        print(
            f"{r['touch_type']}: {r['conversions']} conversions, "
            f"value {r['total_value']}"
        )
    from dataflow_python_etl_spark.operators.timeseries import cusum_change_points

    n_drift = cusum_change_points(ev).where("alarm").count()
    print(f"== drift ==\n{n_drift} CUSUM-alarmed buckets")
    from dataflow_python_etl_spark.operators.events import conversion_lag

    print("== time to convert (hours) ==")
    for r in (
        conversion_lag(ev, steps[0], steps[-1])
        .orderBy("lag_bucket")
        .limit(10)
        .collect()
    ):
        print(f"+{r['lag_bucket']}h: {r['n_users']} users")
    from dataflow_python_etl_spark.operators.timeseries import ewma_levels

    print("== smoothed hourly level (EWMA a=0.2) ==")
    for r in ewma_levels(ev).orderBy("grp").collect():
        print(f"{r['grp']}: {r['ewma']} ({r['n_buckets']} buckets)")
    from dataflow_python_etl_spark.operators.expectations import mad_outliers

    print("== robust outliers (3 x 1.4826 x MAD) ==")
    for r in (
        mad_outliers(ev, "value", group_col="event_type")
        .orderBy("event_type")
        .collect()
    ):
        print(f"{r['event_type']}: {r['n_outliers']}/{r['n']} flagged")


def run_bpe(args) -> None:
    """Learn BPE merges from a documents table and write the encoded
    corpus (bpe_tokens / n_bpe_tokens) plus a merges table."""
    from dataflow_python_etl_spark.operators.tokenizer import (
        apply_bpe,
        learn_bpe_merges,
        word_frequencies,
    )

    spark = get_spark("bpe")
    docs = spark.read.parquet(_table_path(args.warehouse, args.table)).select(
        "doc_id", "text"
    )
    wf = word_frequencies(
        docs, top_words=None if args.uncapped_words else args.top_words
    )
    merges = learn_bpe_merges(wf, n_merges=args.merges)
    from dataflow_python_etl_spark.operators.upsert import write_and_swap

    write_and_swap(
        spark.createDataFrame(
            [(i, a, b) for i, (a, b) in enumerate(merges)],
            "rank: long, a: string, b: string",
        ),
        _table_path(args.warehouse, args.output + "_merges"),
    )
    dest = _table_path(args.warehouse, args.output)
    write_and_swap(apply_bpe(docs, merges), dest)
    n = spark.read.parquet(dest).count()
    print(f"{args.table}: learned {len(merges)} merges; encoded {n} docs -> {args.output}")


def run_ivf(args) -> None:
    """IVF ANN index lifecycle over an embeddings table: build (fit
    centroids + write the cell-partitioned inverted file), append new
    vectors, report cell-balance staleness, or query top-k."""
    import json

    from dataflow_python_etl_spark.operators.similarity import (
        append_to_ivf_index,
        build_ivf_index,
        fit_ivf_centroids,
        fit_pq_codebooks,
        ivf_index_stats,
        ivf_topk_indexed,
    )

    spark = get_spark("ivf")
    index = _table_path(args.warehouse, args.index)
    cents_path = index + "_centroids"

    def _quantize_flag():
        if args.int8 and args.pq:
            raise SystemExit("ivf: --int8 and --pq are mutually exclusive")
        return "int8" if args.int8 else "pq" if args.pq else None

    def _load_centroids():
        rows = spark.read.parquet(cents_path).orderBy("cid").collect()
        return [list(r["centroid"]) for r in rows]

    if args.action == "build":
        emb = spark.read.parquet(_table_path(args.warehouse, args.table))
        cents = fit_ivf_centroids(emb, k=args.k)
        from dataflow_python_etl_spark.operators.upsert import write_and_swap

        write_and_swap(
            spark.createDataFrame(
                [(i, c) for i, c in enumerate(cents)],
                "cid: long, centroid: array<double>",
            ),
            cents_path,
        )
        quant = _quantize_flag()
        books = (
            fit_pq_codebooks(emb, m=args.pq_m, ksub=args.pq_ksub)
            if quant == "pq"
            else None
        )
        build_ivf_index(emb, cents, index, quantize=quant, pq_codebooks=books)
        print(f"{args.table}: built {args.index} with k={args.k}"
              + (f" ({quant})" if quant else ""))
    elif args.action == "append":
        emb = spark.read.parquet(_table_path(args.warehouse, args.table))
        append_to_ivf_index(emb, _load_centroids(), index, quantize=_quantize_flag())
        print(f"{args.table}: appended to {args.index}")
    elif args.action == "stats":
        stats = ivf_index_stats(spark, index, n_cells=len(_load_centroids()))
        print(json.dumps(stats))
    else:  # query
        queries = spark.read.parquet(_table_path(args.warehouse, args.table))
        out = ivf_topk_indexed(
            spark, index, queries, _load_centroids(), k=args.topk, n_probe=args.n_probe
        )
        from dataflow_python_etl_spark.operators.upsert import write_and_swap

        dest = _table_path(args.warehouse, args.output)
        write_and_swap(out, dest)
        print(f"{args.index}: {spark.read.parquet(dest).count()} neighbor rows -> {args.output}")


def run_decontaminate(args) -> None:
    """Benchmark decontamination: split a documents table into a clean
    corpus and a flagged report by n-gram collision with an eval
    table (operators.dedup.contamination_check — corpus side never
    shuffles; see the operator docstring for the 100 TB shape)."""
    from dataflow_python_etl_spark.operators.dedup import contamination_check
    from dataflow_python_etl_spark.operators.upsert import write_and_swap

    spark = get_spark("decontaminate")
    docs = spark.read.parquet(_table_path(args.warehouse, args.table))
    ev = spark.read.parquet(_table_path(args.warehouse, args.eval_table))
    flagged = contamination_check(docs, ev, min_overlap=args.min_overlap)
    report = _table_path(args.warehouse, args.output + "_flagged")
    # write the report FIRST, then anti-join against the written ids:
    # both outputs derive from one consistent flag set even if the
    # (lazy) flag plan would otherwise evaluate twice
    write_and_swap(flagged, report)
    flagged_ids = spark.read.parquet(report).select("doc_id")
    clean = docs.join(flagged_ids, "doc_id", "left_anti")
    dest = _table_path(args.warehouse, args.output)
    write_and_swap(clean, dest)
    n_flag = flagged_ids.count()
    n_clean = spark.read.parquet(dest).count()
    print(
        f"{args.table}: {n_flag} contaminated docs flagged (>= {args.min_overlap} "
        f"shared shingles with {args.eval_table}), {n_clean} clean -> {args.output}"
    )


def _read_events_table(spark, warehouse: str, table: str):
    """Events tables may be single-file TIMESTAMP(NANOS) parquet (the
    driver's testdata shape) — route those through read_table (the
    CLAUDE.md invariant); dir tables written by this CLI are plain."""
    p = _table_path(warehouse, table)
    if p.endswith(".parquet"):
        from dataflow_python_etl_spark.sources.catalog import read_table

        return read_table(spark, warehouse, table)
    return spark.read.parquet(p)


def run_growth(args) -> None:
    """Weekly growth-accounting ledger: new / retained / resurrected /
    churned per week — the collect is |weeks|-sized by construction."""
    from dataflow_python_etl_spark.operators.events import growth_accounting

    spark = get_spark("growth")
    ev = _read_events_table(spark, args.warehouse, args.table)
    print("week        new  retained  resurrected  churned")
    for r in growth_accounting(ev).orderBy("week").collect():
        print(
            f"{r['week']}  {r['new_users']:>4}  {r['retained_users']:>8}  "
            f"{r['resurrected_users']:>11}  {r['churned_users']:>7}"
        )


def run_rules(args) -> None:
    """Market-basket association rules: top-k directed rules with
    integer-ppm confidence and lift. The collect is top-k-sized."""
    from dataflow_python_etl_spark.operators.profile import association_rules

    spark = get_spark("rules")
    df = spark.read.parquet(_table_path(args.warehouse, args.table))
    rules = association_rules(
        df, args.basket_col, args.item_col,
        min_pair_support=args.min_support, top_k=args.top_k,
    )
    for r in rules.collect():
        print(
            f"{r['antecedent']} -> {r['consequent']}: support={r['support_n']} "
            f"conf_ppm={r['conf_ppm']} lift_ppm={r['lift_ppm']}"
        )


def main(argv: list[str] | None = None) -> None:
    p = argparse.ArgumentParser(prog="dataflow_python_etl_spark")
    sub = p.add_subparsers(dest="cmd", required=True)

    pi = sub.add_parser("ingest", help="CSV files -> typed parquet tables")
    pi.add_argument("--input", required=True, help="comma-separated CSV paths")
    pi.add_argument("--output", required=True, help="comma-separated table names")
    pi.add_argument("--schemas", default=None, help="comma-separated BQ-JSON schema files")
    pi.add_argument("--warehouse", required=True)
    pi.set_defaults(fn=run_ingest)

    pm = sub.add_parser("mart", help="build denormalized schema_prod")
    pm.add_argument("--warehouse", required=True)
    pm.add_argument("--output", default="schema_prod")
    pm.set_defaults(fn=run_mart)

    pc = sub.add_parser("compensation", help="recompute compensacion in place")
    pc.add_argument("--warehouse", required=True)
    pc.add_argument("--output", default="schema_prod")
    pc.set_defaults(fn=run_compensation)

    pe = sub.add_parser("explain", help="print the physical plan of a declared query")
    pe.add_argument("query", help="query name from the declared surface (e.g. q01_pricing_summary)")
    pe.add_argument("--sf-dir", default="/root/testdata/sf0.001")
    pe.add_argument("--mode", default="formatted", choices=["simple", "formatted", "extended", "cost"])
    pe.set_defaults(fn=run_explain)

    ps = sub.add_parser("sql", help="ad-hoc SQL over the warehouse tables")
    ps.add_argument("--warehouse", required=True)
    ps.add_argument("--query", default=None, help="SQL text (or use --file)")
    ps.add_argument("--file", default=None, help="path to a .sql file")
    ps.add_argument("--output", default=None, help="write result as this table instead of printing")
    ps.add_argument("--limit", type=int, default=20, help="max rows to print")
    ps.set_defaults(fn=run_sql)

    pk = sub.add_parser("compact", help="rewrite a table's small files to target-size files")
    pk.add_argument("--warehouse", required=True)
    pk.add_argument("--table", required=True)
    pk.add_argument("--target-file-mb", type=int, default=128)
    pk.set_defaults(fn=run_compact)

    pz = sub.add_parser("zorder", help="cluster a table by z-order for multi-column skipping")
    pz.add_argument("--warehouse", required=True)
    pz.add_argument("--table", required=True)
    pz.add_argument("--by", required=True, help="comma-separated columns (≥2)")
    pz.add_argument("--bits", type=int, default=8)
    pz.set_defaults(fn=run_zorder)

    pp = sub.add_parser("profile", help="single-pass per-column stats of a table")
    pp.add_argument("--warehouse", required=True)
    pp.add_argument("--table", required=True)
    pp.set_defaults(fn=run_profile)

    pv = sub.add_parser("vacuum", help="remove stale .__tmp_*/.__bak_* swap leftovers")
    pv.add_argument("--warehouse", required=True)
    pv.add_argument("--older-than-hours", type=float, default=24.0)
    pv.set_defaults(fn=run_vacuum)

    pu = sub.add_parser("curate", help="corpus curation pipeline over a documents table")
    pu.add_argument("--warehouse", required=True)
    pu.add_argument("--table", required=True)
    pu.add_argument("--output", default="curated")
    pu.add_argument("--embeddings", default=None, help="embeddings table for semantic dedup")
    pu.add_argument("--domain-col", default=None)
    pu.add_argument("--max-per-domain", type=int, default=1000)
    pu.add_argument("--min-quality", type=float, default=0.3)
    pu.set_defaults(fn=run_curate)

    ph = sub.add_parser("chunk", help="chunk (+optionally pack) documents into training sequences")
    ph.add_argument("--warehouse", required=True)
    ph.add_argument("--table", required=True)
    ph.add_argument("--output", default="chunks")
    ph.add_argument("--chunk-tokens", type=int, default=512)
    ph.add_argument("--overlap-tokens", type=int, default=64)
    ph.add_argument("--token-mode", choices=["whitespace", "bpe"], default="bpe")
    ph.add_argument("--budget", type=int, default=None, help="pack into sequences of <= N tokens")
    ph.set_defaults(fn=run_chunk)

    pl = sub.add_parser("split", help="leakage-proof group-cohesive train/val/test split")
    pl.add_argument("--warehouse", required=True)
    pl.add_argument("--table", required=True)
    pl.add_argument("--output", default="splits")
    pl.add_argument("--group-col", required=True)
    pl.add_argument("--fractions", default="train=0.8,val=0.1,test=0.1")
    pl.set_defaults(fn=run_split)

    pd = sub.add_parser("dedup", help="MinHash-LSH near-dup pair report over a documents table")
    pd.add_argument("--warehouse", required=True)
    pd.add_argument("--table", required=True)
    pd.add_argument("--output", default="dup_pairs")
    pd.add_argument("--threshold", type=float, default=0.5)
    pd.set_defaults(fn=run_dedup)

    pi2 = sub.add_parser("ivf", help="IVF ANN index: build/append/stats/query")
    pi2.add_argument("action", choices=["build", "append", "stats", "query"])
    pi2.add_argument("--warehouse", required=True)
    pi2.add_argument("--index", default="ivf_index")
    pi2.add_argument("--table", default=None, help="embeddings (build/append) or queries (query) table")
    pi2.add_argument("--output", default="neighbors")
    pi2.add_argument("--k", type=int, default=8, help="number of cells (build)")
    pi2.add_argument("--topk", type=int, default=3)
    pi2.add_argument("--n-probe", type=int, default=1)
    pi2.add_argument("--int8", action="store_true", help="SQ8-quantize the inverted file")
    pi2.add_argument(
        "--pq", action="store_true",
        help="product-quantize the inverted file (M-byte codes; smaller than "
        "SQ8 at coarser error; codebooks persist as an index sidecar)",
    )
    pi2.add_argument("--pq-m", type=int, default=32, help="PQ subspaces (build --pq)")
    pi2.add_argument("--pq-ksub", type=int, default=64, help="PQ codebook size (build --pq)")
    pi2.set_defaults(fn=run_ivf)

    pdc = sub.add_parser(
        "decontaminate", help="drop docs sharing n-gram shingles with an eval table"
    )
    pdc.add_argument("--warehouse", required=True)
    pdc.add_argument("--table", required=True)
    pdc.add_argument("--eval-table", required=True)
    pdc.add_argument("--output", default="decontaminated")
    pdc.add_argument("--min-overlap", type=int, default=1)
    pdc.set_defaults(fn=run_decontaminate)

    pb = sub.add_parser("bpe", help="learn BPE merges and encode a documents table")
    pb.add_argument("--warehouse", required=True)
    pb.add_argument("--table", required=True)
    pb.add_argument("--output", default="bpe_encoded")
    pb.add_argument("--merges", type=int, default=200)
    pb.add_argument(
        "--top-words",
        type=int,
        default=1_000_000,
        help="cap on the driver-collected word table (default 1M)",
    )
    pb.add_argument(
        "--uncapped-words",
        action="store_true",
        help="explicitly disable the --top-words cap (driver memory is then "
        "bounded only by |distinct words| — unsafe on web-scale corpora)",
    )
    pb.set_defaults(fn=run_bpe)

    pq2 = sub.add_parser("quality", help="Gopher rule-based quality report")
    pq2.add_argument("--warehouse", required=True)
    pq2.add_argument("--table", required=True)
    pq2.add_argument("--output", default=None, help="optionally write the flags table")
    pq2.add_argument("--min-words", type=int, default=50)
    pq2.set_defaults(fn=run_quality)

    pse = sub.add_parser("search", help="BM25 keyword search (corpus scan or persisted index)")
    pse.add_argument("--warehouse")
    pse.add_argument("--table")
    pse.add_argument("--terms", help="comma-separated query terms")
    pse.add_argument("--top-k", type=int, default=20)
    pse.add_argument("--index", help="probe this persisted postings index instead of scanning")
    pse.add_argument("--build-index", help="build a persisted postings index at this path")
    pse.add_argument("--append", help="append --table's documents into this existing index")
    pse.set_defaults(fn=run_search)

    po = sub.add_parser("overlap", help="KMV audience overlap between two keyed sets")
    po.add_argument("--warehouse", required=True)
    po.add_argument("--table", required=True)
    po.add_argument("--set-col", required=True)
    po.add_argument("--key-col", required=True)
    po.add_argument("--set-a", required=True)
    po.add_argument("--set-b", required=True)
    po.add_argument("--k", type=int, default=256)
    po.set_defaults(fn=run_overlap)

    pmx = sub.add_parser("mix", help="epoch-weighted training-mixture replication")
    pmx.add_argument("--warehouse", required=True)
    pmx.add_argument("--table", required=True)
    pmx.add_argument("--output", default="mixture")
    pmx.add_argument("--strata-col", default="lang")
    pmx.add_argument("--key-col", default="doc_id")
    pmx.add_argument("--weights", required=True, help="name=float[,name=float...]")
    pmx.add_argument("--default-weight", type=float, default=1.0)
    pmx.set_defaults(fn=run_mix)

    per = sub.add_parser("events-report", help="funnel/retention/transitions/anomaly report")
    per.add_argument("--warehouse", required=True)
    per.add_argument("--table", default="events")
    per.add_argument("--funnel", default="signup,click,purchase",
                     help="comma-separated ordered funnel steps")
    per.set_defaults(fn=run_events_report)

    pf = sub.add_parser("forget", help="GDPR erasure: delete keys across tables, print audit")
    pf.add_argument("--warehouse", required=True)
    pf.add_argument("--tables", required=True,
                    help="table:key_col[,table:key_col...] to erase from")
    pf.add_argument("--keys", default=None, help="comma-separated key values")
    pf.add_argument("--keys-table", default=None,
                    help="table:key_col holding the deletion requests")
    pf.set_defaults(fn=run_forget)

    psh = sub.add_parser("shard", help="hash-sharded training export with checksummed manifest")
    psh.add_argument("--warehouse", required=True)
    psh.add_argument("--table", default="documents")
    psh.add_argument("--output", default="shards")
    psh.add_argument("--n-shards", type=int, default=8)
    psh.add_argument("--id-col", default="doc_id")
    psh.add_argument("--text-col", default="text")
    psh.set_defaults(fn=run_shard)

    pg = sub.add_parser("growth", help="weekly growth-accounting ledger over an events table")
    pg.add_argument("--warehouse", required=True)
    pg.add_argument("--table", default="events")
    pg.set_defaults(fn=run_growth)

    pr = sub.add_parser("rules", help="market-basket association rules over a basket table")
    pr.add_argument("--warehouse", required=True)
    pr.add_argument("--table", default="lineitem")
    pr.add_argument("--basket-col", default="l_orderkey")
    pr.add_argument("--item-col", default="l_partkey")
    pr.add_argument("--min-support", type=int, default=1)
    pr.add_argument("--top-k", type=int, default=20)
    pr.set_defaults(fn=run_rules)

    args = p.parse_args(argv)
    if args.cmd == "sql" and not (args.query or args.file):
        raise SystemExit("sql: provide --query or --file")
    args.fn(args)


if __name__ == "__main__":
    main()
