"""Round-5 corpus-analytics additions: Gopher rule filter (q67),
multilingual language-ID (q68), collocation mining (q69), and BM25
search (q70) — functional semantics on crafted fixtures plus the
plan properties that make each safe at 100 TB."""

import math

import pytest
from pyspark.sql import functions as F

from dataflow_python_etl_spark.functions.text import langid_scores
from dataflow_python_etl_spark.operators.corpus import gopher_flags
from dataflow_python_etl_spark.operators.profile import collocations
from dataflow_python_etl_spark.operators.search import bm25_search
from dataflow_python_etl_spark.plans.checks import count_exchanges, explain_str
from dataflow_python_etl_spark.queries import QUERIES

SF_DIR = "/root/testdata/sf0.001"


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


# ---------------------------------------------------------------------------
# gopher_flags
# ---------------------------------------------------------------------------

GOOD = "the cat sat and the dog ran to the park in the morning " * 5  # 65 words


def test_gopher_passes_prose(spark):
    row = gopher_flags(_docs(spark, [(1, GOOD.strip())])).collect()[0]
    assert row.passes, row.asDict()
    assert row.n_words == 65
    assert row.rule_word_count and row.rule_stop_words and row.rule_alpha_words


def test_gopher_rejects_short_and_reports_which_rule(spark):
    row = gopher_flags(_docs(spark, [(1, "too short to pass")])).collect()[0]
    assert not row.passes
    assert not row.rule_word_count  # the failing rule is identified
    assert row.rule_mean_word_len  # others still evaluated


def test_gopher_bullet_and_dup_line_rules(spark):
    bullets = "\n".join(["- item one here"] * 10)
    row = gopher_flags(
        _docs(spark, [(1, bullets)]), max_bullet_fraction=0.5
    ).collect()[0]
    assert not row.rule_bullet_lines
    assert not row.rule_dup_lines  # 10 identical lines -> dup fraction 0.9


def test_gopher_symbol_and_alpha_rules(spark):
    soup = " ".join(["### 123 ||| 456"] * 20)
    row = gopher_flags(_docs(spark, [(1, soup)])).collect()[0]
    assert not row.rule_symbol_ratio
    assert not row.rule_alpha_words


def test_gopher_zero_exchange_plan(spark):
    df = QUERIES["q67_gopher_rules"].fn(spark, SF_DIR)
    assert count_exchanges(df) == 0, explain_str(df, "simple")
    assert "EvalPython" not in explain_str(df)


# ---------------------------------------------------------------------------
# langid_scores
# ---------------------------------------------------------------------------

def _pred(spark, text):
    df = spark.createDataFrame([(text,)], "text string")
    return df.select(langid_scores("text").alias("s")).collect()[0].s


def test_langid_picks_each_language(spark):
    assert _pred(spark, "el que los se dice cosas").pred == "es"
    assert _pred(spark, "le et les des choses un une").pred == "fr"
    assert _pred(spark, "der die und das ist nicht").pred == "de"
    assert _pred(spark, "the cat of a dog and friends").pred == "en"


def test_langid_tie_breaks_by_profile_order(spark):
    # "la de" hits both the es and fr profiles equally -> es wins
    # (profile order), never fr
    s = _pred(spark, "la de word word")
    assert s.es == s.fr > 0.0
    assert s.pred == "es"


def test_langid_und_when_no_profile_hits(spark):
    s = _pred(spark, "zxqv wvut kjih")
    assert s.pred == "und"
    assert s.en == s.es == s.fr == s.de == 0.0


def test_langid_zero_exchange_plan(spark):
    df = QUERIES["q68_langid_multilang"].fn(spark, SF_DIR)
    assert count_exchanges(df) == 0, explain_str(df, "simple")
    assert "EvalPython" not in explain_str(df)


# ---------------------------------------------------------------------------
# collocations
# ---------------------------------------------------------------------------

def test_collocations_lift_value_and_min_count(spark):
    # corpus: "x y" appears 4 times, "x z" once; 10 tokens, 8 bigrams
    docs = _docs(spark, [(1, "x y x y x y"), (2, "x y x z")])
    out = collocations(docs, min_count=2, top_k=10).collect()
    pairs = {(r.w1, r.w2): r for r in out}
    assert ("x", "z") not in pairs  # below min_count
    r = pairs[("x", "y")]
    assert r.pair_count == 4
    # lift = (4/8) / ((5/10) * (4/10)) = 2.5 exactly
    assert r.lift == pytest.approx(2.5, abs=1e-9)


def test_collocations_ranked_by_lift_then_pair(spark):
    docs = _docs(spark, [(1, "a b a b c d c d c d e e")])
    out = collocations(docs, min_count=2, top_k=5).collect()
    lifts = [r.lift for r in out]
    assert lifts == sorted(lifts, reverse=True)


def test_collocations_no_python_in_plan(spark):
    df = QUERIES["q69_collocations"].fn(spark, SF_DIR)
    assert "EvalPython" not in explain_str(df)


# ---------------------------------------------------------------------------
# bm25_search
# ---------------------------------------------------------------------------

def test_bm25_rejects_empty_query():
    with pytest.raises(ValueError):
        bm25_search(None, query_terms=())


def test_bm25_more_matching_terms_rank_higher(spark):
    docs = _docs(
        spark,
        [
            (1, "table scan merge table plan"),
            (2, "table plan plan plan plan"),
            (3, "plan plan plan plan plan"),
        ],
    )
    out = bm25_search(docs, query_terms=("table", "merge"), top_k=10).collect()
    ids = [r.doc_id for r in out]
    assert ids[0] == 1  # matches both terms
    assert 3 not in ids  # matches nothing
    by_id = {r.doc_id: r for r in out}
    assert by_id[1].n_terms_matched == 2 and by_id[2].n_terms_matched == 1
    assert by_id[1].bm25 > by_id[2].bm25 > 0


def test_bm25_scores_match_reference_formula(spark):
    docs = _docs(spark, [(1, "q w w"), (2, "w w w")])
    out = {r.doc_id: r.bm25 for r in bm25_search(docs, ("q",)).collect()}
    # N=2, df=1, dl=3, avgdl=3, tf=1
    idf = math.log((2 - 1 + 0.5) / (1 + 0.5) + 1)
    expect = idf * (1 * 2.2) / (1 + 1.2 * (0.25 + 0.75 * 3 / 3))
    assert out == {1: pytest.approx(round(expect, 6), abs=1e-9)}


def test_bm25_absent_term_is_harmless(spark):
    docs = _docs(spark, [(1, "table scan")])
    out = bm25_search(docs, query_terms=("table", "zzz_never")).collect()
    assert [r.doc_id for r in out] == [1]
    assert out[0].n_terms_matched == 1


def test_bm25_scan_prunes_to_id_and_text(spark):
    from dataflow_python_etl_spark.plans.checks import read_schema_columns

    df = QUERIES["q70_bm25_search"].fn(spark, SF_DIR)
    assert set(read_schema_columns(df)) == {"doc_id", "text"}
    assert "EvalPython" not in explain_str(df)


# ---------------------------------------------------------------------------
# epoch_upsample (q71)
# ---------------------------------------------------------------------------

def test_epoch_upsample_replica_counts_and_indices(spark):
    from dataflow_python_etl_spark.operators.corpus import epoch_upsample

    df = spark.createDataFrame(
        [(i, "wiki") for i in range(40)] + [(100 + i, "crawl") for i in range(40)],
        "doc_id long, src string",
    )
    out = epoch_upsample(df, "src", {"wiki": 2.5, "crawl": 0.0}, "doc_id").collect()
    by_id = {}
    for r in out:
        by_id.setdefault(r.doc_id, []).append(r.epoch)
    # crawl (weight 0) vanishes entirely
    assert all(i < 100 for i in by_id)
    # every wiki doc appears 2 or 3 times with dense 0-based epochs
    counts = {len(v) for v in by_id.values()}
    assert counts == {2, 3}
    assert all(sorted(v) == list(range(len(v))) for v in by_id.values())
    # fractional selection is ~50% and content-addressed: exact same
    # membership on a second invocation
    n3 = sum(1 for v in by_id.values() if len(v) == 3)
    assert 10 <= n3 <= 30
    again = epoch_upsample(df, "src", {"wiki": 2.5, "crawl": 0.0}, "doc_id").collect()
    assert sorted((r.doc_id, r.epoch) for r in again) == sorted(
        (r.doc_id, r.epoch) for r in out
    )


def test_epoch_upsample_default_weight_and_validation(spark):
    from dataflow_python_etl_spark.operators.corpus import epoch_upsample

    df = spark.createDataFrame([(1, "x")], "doc_id long, src string")
    # default weight 1.0: exactly one replica, epoch 0
    assert [(r.doc_id, r.epoch) for r in epoch_upsample(df, "src", {}, "doc_id").collect()] == [(1, 0)]
    import pytest as _pt

    with _pt.raises(ValueError, match="weight"):
        epoch_upsample(df, "src", {"x": -1.0}, "doc_id")
    with _pt.raises(ValueError, match="default_weight"):
        epoch_upsample(df, "src", {}, "doc_id", default_weight=-0.1)


def test_epoch_upsample_zero_exchange_plan(spark):
    df = QUERIES["q71_epoch_upsample"].fn(spark, SF_DIR)
    assert count_exchanges(df) == 0, explain_str(df, "simple")
    assert "EvalPython" not in explain_str(df)


# ---------------------------------------------------------------------------
# curate_corpus(gopher_rules=True) composition
# ---------------------------------------------------------------------------

def test_curate_corpus_gopher_tier_composition(spark):
    """gopher_rules=True == standalone gopher_flags passes ANDed into
    the quality gate, exactly; the tier actually rejects something the
    soft score alone admits."""
    from dataflow_python_etl_spark.operators.corpus import curate_corpus
    from dataflow_python_etl_spark.operators.dedup import unpersist_all
    from dataflow_python_etl_spark.sources.catalog import read_table

    from dataflow_python_etl_spark.functions.text import pii_scrub
    from dataflow_python_etl_spark.operators.corpus import quality_score
    from dataflow_python_etl_spark.operators.dedup import ngram_jaccard_pairs

    docs = read_table(spark, "/root/testdata/sf0.001", "documents")
    got = {r.doc_id for r in curate_corpus(docs, gopher_rules=True).collect()}
    unpersist_all()
    plain = {r.doc_id for r in curate_corpus(docs).collect()}
    unpersist_all()

    # exact manual composition: scrub -> (quality AND gopher) -> pairs
    scrub = docs.select(F.col("doc_id"), pii_scrub("text").alias("text"))
    passing = gopher_flags(scrub).where("passes").select("doc_id")
    base = (
        scrub.withColumn("quality", quality_score("text"))
        .where(F.col("quality") >= 0.3)
        .join(passing, "doc_id", "left_semi")
    )
    jp = ngram_jaccard_pairs(base, threshold=0.5, max_shingle_df=64)
    want = {
        r.doc_id
        for r in base.join(
            jp.select(F.col("doc_b").alias("doc_id")).distinct(),
            "doc_id",
            "left_anti",
        ).collect()
    }
    unpersist_all()
    assert got, "gopher tier must leave survivors on the fixture corpus"
    assert got != plain, "the hard rules must change the survivor set"
    assert got == want


# ---------------------------------------------------------------------------
# nasty-input robustness battery for the round-5 analytics surface
# ---------------------------------------------------------------------------

NASTY = [
    "",
    " ",
    "\n\n\n",
    "…•#>|*",
    "a" * 5000,
    "tab\tsep\tvals",
    "héllo wörld naïve café",
    "你好 世界 你好",
    "back\\slash 'quo\"tes'",
    "mixed 123 #tags http://x.y/z",
]


def test_analytics_functions_survive_nasty_inputs(spark):
    """Every round-5 signal evaluates without error on degenerate and
    non-ASCII text, and verdict columns are never NULL."""
    from dataflow_python_etl_spark.operators.corpus import gopher_flags

    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(NASTY)], "doc_id long, text string"
    )
    rows = gopher_flags(docs).collect()
    assert len(rows) == len(NASTY)
    assert all(r.passes is not None for r in rows)
    assert not any(r.passes for r in rows)  # none of these are prose

    s = docs.select(langid_scores("text").alias("s")).collect()
    assert all(r.s.pred in ("en", "es", "fr", "de", "und") for r in s)

    assert collocations(docs, min_count=2, top_k=5).count() <= 5
    out = bm25_search(docs, ("mixed", "你好"), top_k=10).collect()
    assert {r.doc_id for r in out} == {7, 9}  # exact-token semantics


def test_boilerplate_handles_unicode_and_crlf_segments(spark):
    from dataflow_python_etl_spark.operators.dedup import (
        dedup_boilerplate_segments,
    )

    shared = "©опечатка — shared bøilerplate 行"
    docs = spark.createDataFrame(
        [(1, f"{shared}\nuniq один"), (2, f"uniq 二\n{shared}")],
        "doc_id long, text string",
    )
    got = {
        r.doc_id: r.cleaned
        for r in dedup_boilerplate_segments(docs).collect()
    }
    assert got == {1: "uniq один", 2: "uniq 二"}


# ---------------------------------------------------------------------------
# histogram (q83) and fuzzy entity matching (q84)
# ---------------------------------------------------------------------------

def test_histogram_covers_all_rows_and_closes_top_edge(spark):
    df = QUERIES["q83_histogram"].fn(spark, SF_DIR)
    rows = df.collect()
    from dataflow_python_etl_spark.sources.catalog import read_table

    li = read_table(spark, SF_DIR, "lineitem")
    assert sum(r.n for r in rows) == li.count()  # nothing falls off an edge
    buckets = {r.bucket for r in rows}
    assert buckets <= set(range(20)) and 19 in buckets  # max lands in 19


def test_fuzzy_match_pairs_semantics(spark):
    from dataflow_python_etl_spark.operators.dedup import fuzzy_match_pairs

    df = spark.createDataFrame(
        [(1, "jon smith"), (2, "john smith"), (3, "john smyth"),
         (4, "jane doe"), (5, "john smith")],  # duplicate record
        "id long, name string",
    )
    got = {(r.name_a, r.name_b): r.distance for r in fuzzy_match_pairs(df, "name").collect()}
    # default block = last word: smith-block pairs match; "john smyth"
    # sits in its own block (the documented blocking recall trade-off)
    # and "jane doe" is never compared to the smiths
    assert got == {("john smith", "jon smith"): 1}
    # a first-letter-of-last-word block key recovers the smyth pairs
    blk = F.substring(F.element_at(F.split(F.col("name"), r"\s+"), -1), 1, 2)
    got2 = {
        (r.name_a, r.name_b): r.distance
        for r in fuzzy_match_pairs(df, "name", block_expr=blk).collect()
    }
    assert got2 == {
        ("john smith", "jon smith"): 1,
        ("john smith", "john smyth"): 1,
        ("john smyth", "jon smith"): 2,
    }
    # distinct-name contract: the duplicate record adds no pair
    import pytest as _pt

    with _pt.raises(ValueError, match="max_distance"):
        fuzzy_match_pairs(df, "name", max_distance=0)


def test_resolve_entities_total_map_and_canonical(spark):
    from dataflow_python_etl_spark.operators.dedup import resolve_entities

    df = spark.createDataFrame(
        [(1, "jon smith"), (2, "john smith"), (3, "john smith"),
         (4, "jane doe"), (5, None)],
        "id long, name string",
    )
    blk = F.substring(F.element_at(F.split(F.col("name"), r"\s+"), -1), 1, 2)
    got = {r.name: r.canonical for r in resolve_entities(df, "name", block_expr=blk).collect()}
    # total over distinct non-null names; cluster canonical = lexicographic min
    assert got == {
        "jon smith": "john smith",
        "john smith": "john smith",
        "jane doe": "jane doe",
    }


def test_resolve_and_merge_entities_survivorship(spark):
    """match → cluster → min-id canonical → MERGE, end-to-end: the
    entity table absorbs a batch of fuzzy-variant records through the
    same merge_df plan the CDC family uses (duplicate-source guard
    included — survivors are keyed by canonical, so the guard holds
    by construction)."""
    from dataflow_python_etl_spark.operators.dedup import resolve_and_merge_entities

    target = spark.createDataFrame(
        [("john smith", 7, 3), ("acme corp", 2, 10)],
        "name string, id long, n_records long",
    )
    records = spark.createDataFrame(
        [(12, "jon smith"), (9, "john smith"), (15, "jane doe"),
         (16, "jane doe")],
        "id long, name string",
    )
    out = {
        r.name: (r.id, r.n_records)
        for r in resolve_and_merge_entities(target, records, "name", "id").collect()
    }
    assert out == {
        # matched: keeps min id across target+batch, adds batch count
        # ("jon smith" resolved into the john smith entity: 2 records)
        "john smith": (7, 5),
        # untouched target entity survives unchanged
        "acme corp": (2, 10),
        # new canonical entity inserts with its batch survivor row
        "jane doe": (15, 2),
    }


def test_search_index_probe_equals_corpus_scan(spark, tmp_path):
    """Index-probe ≡ bm25_search on the same corpus — the persisted
    index's correctness contract (same formula, same ranking)."""
    from dataflow_python_etl_spark.operators.search import (
        bm25_search,
        build_search_index,
        search_index,
    )
    from dataflow_python_etl_spark.sources.catalog import read_table

    docs = read_table(spark, "/root/testdata/sf0.001", "documents")
    path = str(tmp_path / "idx")
    build_search_index(docs, path)
    terms = ("table", "vector", "spark")
    got = search_index(spark, path, terms).collect()
    want = bm25_search(docs, terms).collect()
    assert [(r["doc_id"], r["bm25"], r["n_terms_matched"]) for r in got] == [
        (r["doc_id"], r["bm25"], r["n_terms_matched"]) for r in want
    ]


def test_search_index_probe_prunes_partitions(spark, tmp_path):
    """The probe scan must carry the pbucket partition filter — the
    property that makes per-query cost term-sized at 100 TB."""
    from dataflow_python_etl_spark.operators.search import (
        build_search_index,
        search_index,
    )
    from dataflow_python_etl_spark.plans.checks import explain_str
    from dataflow_python_etl_spark.sources.catalog import read_table

    docs = read_table(spark, "/root/testdata/sf0.001", "documents")
    path = str(tmp_path / "idx")
    build_search_index(docs, path)
    df = search_index(spark, path, ("table",))
    s = explain_str(df)
    assert "PartitionFilters" in s and "pbucket" in s, s
    assert "EvalPython" not in s


def test_search_index_append_equals_rebuild(spark, tmp_path):
    """append(B) onto index(A) ≡ build(A ∪ B): postings, sidecar, and
    scores all converge — the IVF append ≡ rebuild pin for search."""
    import pytest
    from pyspark.sql import functions as F

    from dataflow_python_etl_spark.operators.search import (
        append_to_search_index,
        build_search_index,
        load_search_stats,
        search_index,
    )
    from dataflow_python_etl_spark.sources.catalog import read_table

    docs = read_table(spark, "/root/testdata/sf0.001", "documents")
    a = docs.where(F.col("doc_id") % 5 != 0)
    b_part = docs.where(F.col("doc_id") % 5 == 0)
    inc = str(tmp_path / "inc")
    full = str(tmp_path / "full")
    build_search_index(a, inc)
    append_to_search_index(b_part, inc)
    build_search_index(docs, full)
    assert load_search_stats(inc) == load_search_stats(full)
    terms = ("table", "vector", "spark")
    assert (
        search_index(spark, inc, terms).collect()
        == search_index(spark, full, terms).collect()
    )
    # build refuses to clobber; append refuses a crashed stage
    with pytest.raises(ValueError, match="already exists"):
        build_search_index(docs, inc)
    import os

    os.makedirs(os.path.join(inc, ".__append_tmp_dead"))
    with pytest.raises(ValueError, match="leftover append stage"):
        append_to_search_index(b_part, inc)


def test_streaming_search_index_parity_and_replay(spark, tmp_path):
    """Stream 2 batches of docs into the index, then search: scores
    must equal a batch build over the union; a REPLAYED batch (the
    at-least-once window) must be a no-op thanks to dynamic partition
    overwrite + the sidecar batch ledger; a lost index at batch > 0
    must fail loudly."""
    import pytest
    from pyspark.sql import functions as F

    from dataflow_python_etl_spark.operators.search import (
        build_search_index,
        load_search_stats,
        search_index,
    )
    from dataflow_python_etl_spark.sources.catalog import read_table
    from dataflow_python_etl_spark.streaming.pipeline import (
        apply_search_index_batch,
        stream_docs_to_search_index,
    )

    docs = read_table(spark, "/root/testdata/sf0.001", "documents").select(
        "doc_id", "text"
    )
    b0 = docs.where(F.col("doc_id") % 2 == 0)
    b1 = docs.where(F.col("doc_id") % 2 == 1)
    src = str(tmp_path / "in")
    idx = str(tmp_path / "idx")
    ckpt = str(tmp_path / "ckpt")
    b0.write.parquet(src)
    stream = spark.readStream.schema(docs.schema).parquet(src)
    q = stream_docs_to_search_index(stream, idx, ckpt)
    q.processAllAvailable()
    b1.write.mode("append").parquet(src)
    q.processAllAvailable()
    q.stop()
    full = str(tmp_path / "full")
    build_search_index(docs, full)
    terms = ("table", "vector", "spark")
    got = search_index(spark, idx, terms).collect()
    want = search_index(spark, full, terms).collect()
    assert got == want
    # replay the last batch by hand: postings and sidecar unchanged
    before = load_search_stats(idx)
    apply_search_index_batch(b1, 1, idx)
    assert load_search_stats(idx) == before
    assert search_index(spark, idx, terms).collect() == want
    # index lost mid-history: must FAIL, never rebuild from one batch
    import shutil

    shutil.rmtree(idx)
    with pytest.raises(ValueError, match="restarted search-index sink"):
        apply_search_index_batch(b1, 2, idx)


def test_streaming_search_index_reset_checkpoint_raises(spark, tmp_path):
    """Only the recorded batch is a replay: a batch id below the stats
    sidecar's ``last_batch_id`` means a checkpoint reset over a live
    index, which fails loudly (naming the sink) instead of silently
    dropping every early batch."""
    import pytest

    from dataflow_python_etl_spark.operators.search import load_search_stats
    from dataflow_python_etl_spark.streaming.pipeline import (
        apply_search_index_batch,
    )

    ddl = "doc_id long, text string"
    b0 = spark.createDataFrame([(1, "alpha bravo"), (2, "bravo charlie")], ddl)
    b1 = spark.createDataFrame([(3, "delta echo")], ddl)
    idx = str(tmp_path / "idx")
    apply_search_index_batch(b0, 0, idx, n_buckets=4)
    apply_search_index_batch(b1, 1, idx, n_buckets=4)
    before = load_search_stats(idx)
    with pytest.raises(
        RuntimeError, match="stream_docs_to_search_index: .*checkpoint was reset"
    ):
        apply_search_index_batch(b0, 0, idx, n_buckets=4)
    assert load_search_stats(idx) == before == {
        "n_docs": 3, "sum_dl": 6, "n_buckets": 4, "last_batch_id": 1,
    }
