"""The benchmark's workloads. Each takes a ``run.Bench``, drives the
engine's public functions, and returns ``(records per pass, per-layer
values)``; the per-layer values are only filled in traced runs.

Why these workloads (see METRICS.md for the full table):

- ``etl_mart`` is what the paper computes: typed CSV ingest of the
  three airline tables, the deduped, broadcast-joined mart and the
  compensation recompute: 14 Spark jobs and five table commits per
  pass. The sales scan splits over both executor cores, which are
  about half busy over a pass; the rest is per-job and commit
  overhead. Almost no driver-side plan building.
- ``stream_dedup`` is streaming near-dup ingest, a closed loop with one
  micro-batch in flight. Each batch runs a fixed number of small Spark
  jobs, so it is bound by per-job and per-batch overhead and by
  driver-side plan building, not by per-document compute.
"""

from __future__ import annotations

import datetime
import os
import time

from perfbench import checks, gen, metrics, trace

# etl_mart input size and untimed warm-up passes. Sales rows are the
# fact table; the dimension sizes follow from gen.airline_csvs' ratios.
# At this size the sales CSV (about 10 MB) splits into one scan task per
# core; METRICS.md gives the pass walls behind both numbers.
ETL_SALES = 100_000
ETL_WARMUP = 3

# stream_dedup: documents per micro-batch, and the untimed full-size
# warm-up batches; batch walls level off from the fourth batch on.
STREAM_BATCH = 400
STREAM_WARMUP = 3
BANDS_PER_DOC = 32 // 4  # num_perm / rows_per_band, the operator defaults


def _trace_wrap(b, targets) -> None:
    if b.tracer is not None:
        for module, attr, name, jobs in targets:
            b.tracer.wrap(module, attr, name, jobs=jobs)


def _finish_trace(b, extra: dict[str, list[float]]) -> tuple[dict[str, float], dict]:
    """Stop the session (which closes the event log), parse the log and
    fold it into per-layer values. Returns them with the parsed log."""
    counts = b.tracer.group_job_counts()
    app = b.app_id()
    b.jvm_peak_mb = trace.peak_rss_mb(b.jvm_pid())
    b.stop_jvm()
    log = trace.parse_event_log(trace.event_log_files(str(b.work / "eventlog"), app))
    groups = log["groups"]
    out = metrics.span_metrics(b.tracer, b.traced_tags, groups, extra)
    out["trace.job_count_mismatches"] = sum(
        1 for g, n in counts.items() if groups.get(g, {}).get("jobs", 0) != n)
    return out, log


# ---------------------------------------------------------------------------
# etl_mart
# ---------------------------------------------------------------------------

TABLES = ("pasajero", "vuelo", "venta")
TODAY = datetime.date(checks.TODAY_YEAR, 1, 1)


def etl_mart(b):
    from dataflow_python_etl_spark import schema
    from dataflow_python_etl_spark.operators import compensation, mart, upsert
    from dataflow_python_etl_spark.sources import csv_ingest

    files, dims = gen.airline_csvs(b.seed, ETL_SALES)
    csv = {}
    for t in TABLES:
        csv[t] = str(b.work / "in" / f"{t}.csv")
        with open(csv[t], "wb") as f:
            f.write(files[t])
    expected = checks.mart_expected(csv)
    records = dims["sales_rows"] + dims["pasajero_rows"] + dims["vuelo_rows"]
    print(f"# etl_mart inputs: {dims}", flush=True)

    _trace_wrap(b, [
        (csv_ingest, "ingest_csv", "sources.ingest_csv", True),
        (mart, "build_mart", "operators.mart.build_mart", True),
        (compensation, "apply_compensation", "operators.compensation.apply_compensation", True),
        (upsert, "write_and_swap", "operators.upsert.write_and_swap", True),
        (upsert, "swap_table_dir", "operators.upsert.swap_table_dir", True),
    ])

    res = os.path.join(os.path.dirname(schema.__file__), "resources")
    schemas = {}

    def prep(spark, rep):
        schemas.update({t: schema.load_bq_schema(os.path.join(res, f"{t}.json")) for t in TABLES})

    b.setup(prep)
    spark = b.spark
    out = b.work / "tables"
    mart_path = str(out / "schema_prod")

    def one_pass(k):
        tabs = {t: b.step(csv_ingest.ingest_csv, spark, csv[t], schemas[t], str(out / t))
                for t in TABLES}
        m = mart.build_mart(tabs["venta"], tabs["pasajero"], tabs["vuelo"])
        with b.span("operators.mart.write"):
            b.step(upsert.write_and_swap, m, mart_path)
        b.step(compensation.apply_compensation, spark, mart_path, today=TODAY)

    def check(k):
        return checks.check_mart(mart_path, expected, dims["sales_rows"])

    b.run_passes(one_pass, check, ETL_WARMUP)
    layer = _finish_trace(b, {})[0] if b.tracer is not None else {}
    return records, layer


# ---------------------------------------------------------------------------
# stream_dedup
# ---------------------------------------------------------------------------

def stream_dedup(b):
    from dataflow_python_etl_spark.operators import dedup
    from dataflow_python_etl_spark.sources import sinks
    from dataflow_python_etl_spark.streaming import pipeline

    corpus = gen.CorpusGen(b.seed)
    print(f"# stream_dedup inputs: {corpus.dims}, batch {STREAM_BATCH} docs, "
          f"{STREAM_WARMUP} warm-up batches", flush=True)

    _trace_wrap(b, [
        # these run inside the stream's foreachBatch callback, on the
        # stream's own thread and job group: time them, leave the group
        (dedup, "minhash_lsh_pairs_incremental",
         "operators.dedup.minhash_lsh_pairs_incremental", False),
        (sinks, "write_bucketed", "sources.sinks.write_bucketed", False),
    ])

    src = b.work / "in"
    start_s = []

    def prep(spark, rep):
        d = b.work / f"stream{rep}"
        t = time.perf_counter()
        q = pipeline.stream_dedup_ingest(
            spark.readStream.schema("doc_id long, text string").json(str(src)),
            str(d / "corpus"), str(d / "index"), str(d / "ckpt"),
            index_table=f"perfbench_band_index_{rep}", index_buckets=32,
            replay_guard="watermark",
        )
        start_s.append(time.perf_counter() - t)
        return q

    q = b.setup(prep)
    final = b.work / f"stream{len(start_s) - 1}"
    sc = b.spark.sparkContext
    st = sc.statusTracker()
    group = str(q.runId)
    batches: list[list[int]] = []
    texts: dict[int, str] = {}
    jobs_seen = {}  # batch -> StatusTracker job count
    progress = {}   # batch -> durationMs
    py4j = {}       # batch -> py4j calls
    staged = {}
    jobs_before = len(st.getJobIdsForGroup(group))

    def stage(k):
        """Generate batch k's file outside the timed window; the pass
        only renames it into the source directory."""
        docs = corpus.take(STREAM_BATCH)
        tmp = src / f".batch{k:05d}.json.tmp"  # hidden: the file source skips it
        with open(tmp, "wb") as f:
            f.write(gen.jsonl(docs))
        staged[k] = (tmp, src / f"batch{k:05d}.json", docs)

    def one_pass(k):
        tmp, path, docs = staged.pop(k)
        batches.append([d for d, _ in docs])
        texts.update(docs)
        c0 = b.counter.calls if b.counter is not None else 0
        os.replace(tmp, path)
        b.step(q.processAllAvailable)
        if b.counter is not None:
            py4j[k] = b.counter.calls - c0

    def check(k):
        nonlocal jobs_before
        n = len(st.getJobIdsForGroup(group))
        jobs_seen[k], jobs_before = n - jobs_before, n
        # the closed loop lands one file, hence runs one batch, per pass
        for p in q.recentProgress:
            if p["batchId"] == k:
                progress[k] = p["durationMs"]
        stage(k + 1)
        return []

    stage(0)
    b.run_passes(one_pass, check, STREAM_WARMUP)
    q.stop()

    expected = checks.expected_survivors(batches, checks.lsh_pairs(texts, dedup.MINHASH_AB))
    for err in checks.check_stream(str(final / "corpus"), str(final / "index"),
                                   expected, BANDS_PER_DOC):
        if err is not None:
            b.fail(err)
    print(f"# stream_dedup: {len(batches)} batches, "
          f"{sum(map(len, expected))} survivors of {len(texts)} docs", flush=True)

    layer = {}
    if b.tracer is not None:
        tags = b.traced_tags
        extra = {
            "streaming.pipeline.stream_dedup_ingest.wall_s": start_s,
            "streaming.pipeline.batch.py4j_calls": [py4j.get(k, 0) for k in tags],
        }
        for d in metrics.DURATIONS:
            extra[f"streaming.pipeline.durationMs.{d}"] = [
                progress.get(k, {}).get(d, 0) for k in tags]
        layer, log = _finish_trace(b, extra)
        per_batch = log["batches"]
        for f in trace.FIELDS:
            layer[f"streaming.pipeline.batch.{f}"] = metrics.median(
                [per_batch.get(str(k), {}).get(f, 0) for k in tags])
        layer["streaming.pipeline.batch.wall_s"] = metrics.median(b.traced_walls)
        layer["trace.job_count_mismatches"] += sum(
            1 for k in tags if per_batch.get(str(k), {}).get("jobs", 0) != jobs_seen.get(k))
    return STREAM_BATCH, layer


WORKLOADS = {"etl_mart": etl_mart, "stream_dedup": stream_dedup}
