"""Regression tests for tools/changed.py scoping (ADVICE r7: editing
module-level state shared by oracle f-strings — _NGRAM_*_CTES, _t,
TODAY — must force a FULL run, because per-query block diffs cannot
see which oracles the change rewrote)."""

import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent / "tools"))

from changed import _query_blocks, _residue  # noqa: E402

_SRC_V1 = '''
from x import y

_SHARED_CTE = "WITH g AS (SELECT 1)"
TODAY = "2026-08-13"


@_q("q900_demo", f"{_SHARED_CTE} SELECT 1 AS one", "doc")
def q900_demo(spark, sf_dir):
    return spark.range(1)


@_q("q901_other", "SELECT 2 AS two", "doc")
def q901_other(spark, sf_dir):
    return spark.range(2)
'''


def test_residue_ignores_query_block_edits():
    # editing a query BLOCK leaves the residue identical — scoping by
    # block diff stays valid
    v2 = _SRC_V1.replace("return spark.range(2)", "return spark.range(3)")
    assert _residue(_SRC_V1) == _residue(v2)
    assert _query_blocks(_SRC_V1)["q901_other"] != _query_blocks(v2)["q901_other"]


def test_residue_sees_shared_constant_edits():
    # editing the shared CTE constant (which q900's oracle f-string
    # closed over at import time) changes the residue even though every
    # query block is byte-identical — the signal queries_affected_since
    # uses to force the full run
    v2 = _SRC_V1.replace("SELECT 1)", "SELECT 99)")
    assert _residue(_SRC_V1) != _residue(v2)
    assert _query_blocks(_SRC_V1) == _query_blocks(v2)


def test_residue_sees_helper_and_import_edits():
    v2 = _SRC_V1.replace('TODAY = "2026-08-13"', 'TODAY = "2027-01-01"')
    assert _residue(_SRC_V1) != _residue(v2)
    v3 = _SRC_V1.replace("from x import y", "from x import z")
    assert _residue(_SRC_V1) != _residue(v3)


def test_certify_duration_ledger_and_shard_packing(tmp_path, monkeypatch):
    """The shard packer uses MEASURED seconds when the ledger has
    them, estimates new files at the ledger's median seconds-per-byte,
    keeps every test_streaming* file in shard 0, and the junit fold
    merges without evicting files a partial run didn't execute."""
    import importlib.util
    import json

    spec = importlib.util.spec_from_file_location(
        "certify_mod", "/root/repo/tools/certify.py"
    )
    m = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(m)

    shards = m._shard_test_files(4)
    streaming = [f for s in shards for f in s if "test_streaming" in f]
    assert streaming and all(f in shards[0] for f in streaming)
    allf = [f for s in shards for f in s]
    assert len(allf) == len(set(allf))

    # junit fold: merge semantics
    xml = tmp_path / "s.xml"
    xml.write_text(
        '<testsuites><testsuite><testcase classname="tests.test_lm" '
        'name="a" time="1.5"/><testcase classname="tests.test_lm" '
        'name="b" time="2.0"/><testcase classname="tests.test_corpus" '
        'name="c" time="3.25"/><testcase '
        'classname="tests.test_core_functions.TestScalars" name="d" '
        'time="0.75"/></testsuite></testsuites>'
    )
    ledger_path = tmp_path / "ledger.json"
    ledger_path.write_text(json.dumps({"tests/test_plans.py": 9.0}))
    monkeypatch.setattr(m, "DURATIONS_PATH", ledger_path)
    m._update_durations([str(xml)])
    got = json.loads(ledger_path.read_text())
    assert got["tests/test_lm.py"] == 3.5
    assert got["tests/test_corpus.py"] == 3.25
    # class-based tests count toward their module's file
    assert got["tests/test_core_functions.py"] == 0.75
    assert got["tests/test_plans.py"] == 9.0  # untouched entry survives
