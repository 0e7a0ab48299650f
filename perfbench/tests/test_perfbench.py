"""Self-tests of the benchmark's own parts. Run from the checkout root:

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
from pathlib import Path

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from perfbench import checks, gen, metrics, trace, workloads

# ---------------------------------------------------------------------------
# generators
# ---------------------------------------------------------------------------


def test_airline_csvs_are_deterministic_per_seed():
    a, dims_a = gen.airline_csvs(7, 2000)
    b, dims_b = gen.airline_csvs(7, 2000)
    c, _ = gen.airline_csvs(8, 2000)
    assert a == b and dims_a == dims_b
    assert a["venta"] != c["venta"] and a["pasajero"] != c["pasajero"]
    venta = a["venta"].decode().splitlines()
    pasajero = a["pasajero"].decode().splitlines()
    assert len(venta) == dims_a["sales_rows"] == 2000
    # the FIXTURES.md edge cases are present
    assert any("|CANCELACION|" in r and "|-" in r for r in venta)
    assert any(r.split("|")[4].startswith("+") for r in pasajero)
    assert any(r.endswith("|") for r in pasajero)  # empty birthdate
    vuelo = [r.split("|") for r in a["vuelo"].decode().splitlines()]
    flights = [r[4] for r in vuelo]
    assert len(set(flights)) < len(flights)  # duplicate cod_vuelo
    dnis = {r.split("|")[0] for r in pasajero}
    assert any(r.split("|")[3] not in dnis for r in venta)  # orphan dni


def test_corpus_is_deterministic_and_prefix_stable():
    one = gen.CorpusGen(7).take(300)
    split = gen.CorpusGen(7)
    two = split.take(100) + split.take(200)
    assert gen.jsonl(one) == gen.jsonl(two)
    assert gen.jsonl(gen.CorpusGen(8).take(300)) != gen.jsonl(one)
    assert [d for d, _ in one] == list(range(300))
    assert json.loads(gen.jsonl(one[:1]))["text"] == one[0][1]


# ---------------------------------------------------------------------------
# py4j counter and span bookkeeping
# ---------------------------------------------------------------------------


class _FakeClient:
    def send_command(self, command, retry=True, binary=False):
        return "!yv"


def test_py4j_counter_excludes_memory_release_commands():
    counter = trace.Py4jCounter()
    counter.install(_FakeClient)
    try:
        client = _FakeClient()
        client.send_command("c\no12\ncount\ne\n")
        client.send_command("m\nd\no12\ne\n")  # GC-driven release: not counted
        client.send_command("r\nu\nSparkConf\ne\n")
        counter.enabled = False
        client.send_command("c\no12\ncount\ne\n")
        assert counter.calls == 2
    finally:
        counter.uninstall()
    assert _FakeClient.send_command.__name__ == "send_command"
    assert counter.calls == 2


def test_span_totals_are_inclusive_of_children():
    parent = trace.Span("outer", "outer#0", None, 1)
    child = trace.Span("inner", "inner#1", parent, 1)
    groups = {"outer#0": dict(trace._zero(), jobs=1, tasks=2),
              "inner#1": dict(trace._zero(), jobs=3, tasks=5)}
    tot = trace.span_totals([parent, child], groups)
    assert tot[id(child)]["jobs"] == 3 and tot[id(child)]["tasks"] == 5
    assert tot[id(parent)]["jobs"] == 4 and tot[id(parent)]["tasks"] == 7


def test_event_log_parser_counts_a_fixed_job(tmp_path):
    from pyspark.sql import SparkSession

    log_dir = tmp_path / "eventlog"
    log_dir.mkdir()
    spark = (SparkSession.builder.master("local[2]").appName("perfbench-selftest")
             .config("spark.ui.enabled", "false")
             .config("spark.eventLog.enabled", "true")
             .config("spark.eventLog.dir", str(log_dir))
             .config("spark.eventLog.compress", "false")
             .getOrCreate())
    try:
        sc = spark.sparkContext
        app = sc.applicationId
        sc.setJobGroup("one_stage", "count")
        assert sc.parallelize(range(100), 4).count() == 100
        sc.setJobGroup("two_stages", "reduceByKey")
        out = sc.parallelize(range(100), 4).map(lambda x: (x % 3, 1)).reduceByKey(
            lambda a, b: a + b, 2).collect()
        assert sorted(out) == [(0, 34), (1, 33), (2, 33)]
        st = sc.statusTracker()
        tracked = {g: len(st.getJobIdsForGroup(g)) for g in ("one_stage", "two_stages")}
    finally:
        spark.stop()
    log = trace.parse_event_log(trace.event_log_files(str(log_dir), app))
    g = log["groups"]
    assert tracked == {"one_stage": 1, "two_stages": 1}
    assert (g["one_stage"]["jobs"], g["one_stage"]["tasks"]) == (1, 4)
    assert (g["two_stages"]["jobs"], g["two_stages"]["tasks"]) == (1, 6)
    assert g["two_stages"]["shuffle_write_bytes"] > 0 == g["one_stage"]["shuffle_write_bytes"]
    assert (log["jobs"], log["stages"]) == (2, 3)


def test_event_log_files_fail_without_a_rolled_log(tmp_path):
    (tmp_path / "app-1").write_text("{}\n")  # a single-file log is not Spark 4's layout
    with pytest.raises(FileNotFoundError):
        trace.event_log_files(str(tmp_path), "app-1")


# ---------------------------------------------------------------------------
# correctness checks reject planted wrong answers
# ---------------------------------------------------------------------------


def _write_parquet(path: str, table: pa.Table) -> None:
    os.makedirs(path, exist_ok=True)
    pq.write_table(table, os.path.join(path, "part-0.parquet"))


@pytest.fixture(scope="module")
def airline(tmp_path_factory):
    d = tmp_path_factory.mktemp("airline")
    files, dims = gen.airline_csvs(3, 1500)
    csv = {}
    for t, data in files.items():
        csv[t] = str(d / f"{t}.csv")
        with open(csv[t], "wb") as f:
            f.write(data)
    return checks.mart_expected(csv), dims["sales_rows"], d


def _mart_rows(expected):
    rows = [(k[0], k[1]) for k, n in sorted(expected.items(), key=repr) for _ in range(n)]
    return pa.table({"cod_vuelo": [r[0] for r in rows], "compensacion": [r[1] for r in rows]})


def test_mart_oracle_exercises_every_outcome(airline):
    expected, n_sales, _ = airline
    assert sum(expected.values()) == n_sales
    outcomes = {c for _, c in expected}
    assert outcomes == {None, "NO APLICA", "ASIENTO_PREFERENCIAL", "ASISTENCIA_PREFERENCIAL"}
    assert any(v is None for v, _ in expected)  # orphan flights form a NULL partition


def test_check_mart_rejects_planted_wrong_answers(airline):
    expected, n_sales, d = airline
    good = _mart_rows(expected)
    _write_parquet(str(d / "good"), good)
    assert checks.check_mart(str(d / "good"), expected, n_sales) == []

    comp = good.column("compensacion").to_pylist()
    i = comp.index("NO APLICA")
    comp[i] = "ASIENTO_PREFERENCIAL"  # one row granted a seat it did not earn
    _write_parquet(str(d / "regranted"), good.set_column(1, "compensacion", pa.array(comp)))
    errs = checks.check_mart(str(d / "regranted"), expected, n_sales)
    assert len(errs) == 1 and "counts differ" in errs[0]

    _write_parquet(str(d / "lost_row"), good.slice(1))
    errs = checks.check_mart(str(d / "lost_row"), expected, n_sales)
    assert any("mart rows" in e for e in errs)


def test_lsh_pairs_finds_near_duplicates_only():
    from dataflow_python_etl_spark.operators.dedup import MINHASH_AB

    base = " ".join(f"w{i}" for i in range(60))
    near = base.replace("w30", "x30")
    other = " ".join(f"z{i}" for i in range(60))
    pairs = checks.lsh_pairs({1: base, 2: near, 3: other}, MINHASH_AB)
    assert pairs == {(1, 2)}


def test_expected_survivors_follow_the_ingest_rule():
    pairs = {(0, 1), (1, 2), (0, 3), (2, 4)}
    # batch 0: 1 and 2 pair with a lower id of their batch (2's partner
    # is itself dropped, which does not matter); batch 1: 3 pairs with
    # survivor 0, 4 only with non-survivor 2
    assert checks.expected_survivors([[0, 1, 2], [3, 4]], pairs) == [{0}, {4}]


def _stream_tables(d, survivors: list[set[int]], bands: int, index_rows=None):
    for k, ids in enumerate(survivors):
        _write_parquet(str(d / "corpus" / f"ingest_batch={k}"),
                       pa.table({"doc_id": pa.array(sorted(ids), pa.int64()),
                                 "text": ["t"] * len(ids)}))
    docs = index_rows or [d_ for ids in survivors for d_ in sorted(ids) for _ in range(bands)]
    _write_parquet(str(d / "index"), pa.table({"doc": pa.array(docs, pa.int64()),
                                               "band": [0] * len(docs), "sig": ["s"] * len(docs)}))


def test_check_stream_rejects_planted_wrong_answers(tmp_path):
    want = [{0, 2}, {5}]
    _stream_tables(tmp_path / "good", want, 8)
    assert checks.check_stream(str(tmp_path / "good/corpus"), str(tmp_path / "good/index"),
                               want, 8) == [None, None]

    _stream_tables(tmp_path / "extra", [{0, 2}, {5, 6}], 8)  # a near-dup slipped through
    errs = checks.check_stream(str(tmp_path / "extra/corpus"), str(tmp_path / "extra/index"),
                               want, 8)
    assert errs[0] is None and "batch 1" in errs[1]

    short = [0] * 8 + [2] * 7 + [5] * 8  # one band row missing for doc 2
    _stream_tables(tmp_path / "short", want, 8, index_rows=short)
    errs = checks.check_stream(str(tmp_path / "short/corpus"), str(tmp_path / "short/index"),
                               want, 8)
    assert errs[0] is not None and "index rows" in errs[0] and errs[1] is None


def test_benchmark_json_lists_exactly_the_metrics_a_run_prints():
    bench = json.loads((Path(__file__).resolve().parents[2] / "BENCHMARK.json").read_text())
    assert {m["name"]: m["unit"] for m in bench["end_to_end"]} == metrics.END_TO_END
    assert {m["name"]: m["unit"] for m in bench["per_layer"]} == metrics.per_layer_units()
    assert sorted(w["name"] for w in bench["workloads"]) == sorted(workloads.WORKLOADS)
