"""Full-text relevance search over the document corpus: Okapi BM25
(Robertson et al., TREC-3 — the public formula every search engine
starts from) as a pure DataFrame plan.

Scale shape (100 TB): the corpus-sized explode is filtered to the
query's terms BEFORE any shuffle — only (doc, query-term) hits reach
the term-frequency aggregation, so shuffle volume is bounded by
|docs containing a query term| × |query|, never the token stream.
Document lengths and the (N, avgdl) scalars are one map-side-combined
aggregation each; the per-term document frequencies come from the
already-tiny tf table. Nothing is all-pairs, nothing collects.

The log in the idf follows the q58/lm.py precedent: libm ``ln`` is
within 1 ulp on both engines and every score is rounded to 6 places
before ranking (the repo's rounded-score + id tie-break invariant),
so the cross-engine hash is stable in practice.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def bm25_search(
    docs: DataFrame,
    query_terms: tuple[str, ...],
    id_col: str = "doc_id",
    text_col: str = "text",
    k1: float = 1.2,
    b: float = 0.75,
    top_k: int = 20,
) -> DataFrame:
    """Top ``top_k`` documents for a bag-of-words query under BM25.

    ``score(D) = Σ_t idf(t) · tf·(k1+1) / (tf + k1·(1 − b + b·|D|/avgdl))``
    with ``idf(t) = ln((N − df + 0.5)/(df + 0.5) + 1)`` — the standard
    Okapi weighting (k1 saturates term frequency, b normalizes for
    document length). Exact-token match semantics (terms are compared
    against the whitespace tokenization verbatim — normalize upstream
    if needed).

    Returns ``(id, bm25, n_terms_matched)`` ordered by the ROUNDED
    score descending with an id tie-break, so the LIMIT is
    deterministic cross-engine.
    """
    if not query_terms:
        raise ValueError("query_terms must be non-empty")
    from dataflow_python_etl_spark.functions.text import tokens

    lens = docs.select(F.col(id_col), F.size(tokens(text_col)).alias("dl"))
    # (N, avgdl) in ONE single-row aggregation, crossed in as a
    # broadcast (integer sum then one division — exact on both engines)
    stats = lens.agg(
        F.count(F.lit(1)).alias("n_docs"), F.avg("dl").alias("avgdl")
    )
    tf = (
        docs.select(F.col(id_col), F.explode(tokens(text_col)).alias("w"))
        .where(F.col("w").isin(*query_terms))
        .groupBy(id_col, "w")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    df_t = tf.groupBy("w").agg(F.count(F.lit(1)).alias("df"))
    idf = F.log(
        (F.col("n_docs") - F.col("df") + F.lit(0.5)) / (F.col("df") + F.lit(0.5))
        + F.lit(1)
    )
    term_score = idf * (F.col("tf") * F.lit(k1 + 1)) / (
        F.col("tf")
        + F.lit(k1) * (F.lit(1 - b) + F.lit(b) * F.col("dl") / F.col("avgdl"))
    )
    scored = (
        tf.join(lens, id_col)
        .join(df_t, "w")
        .crossJoin(F.broadcast(stats))
        .groupBy(id_col)
        .agg(
            F.round(F.sum(term_score), 6).alias("bm25"),
            F.count(F.lit(1)).cast("long").alias("n_terms_matched"),
        )
    )
    return scored.orderBy(F.col("bm25").desc(), F.col(id_col)).limit(top_k)


# --- Persisted postings index -------------------------------------------
#
# bm25_search re-tokenizes the corpus per query — correct, but at
# 100 TB a search service cannot pay a corpus scan per query. The
# index persists the (term, doc, tf, dl) postings PARTITIONED BY a
# hash bucket of the term, so a probe reads only the query terms'
# buckets (partition pruning at the scan — plan-pinned), never the
# corpus: per-query cost is postings-of-terms, independent of corpus
# row count. Same family as the persisted LSH band index and the IVF
# index (build + probe + incremental append + crash-safe staging).

SEARCH_STATS = "_search_stats.json"  # "_"-prefixed: Spark scans skip it


def _term_bucket_py(term: str, n_buckets: int) -> int:
    """Python mirror of the JVM pbucket expression (md5_hash60 % n) —
    the probe computes its pruning literals driver-side."""
    import hashlib

    return int(hashlib.md5(term.encode("utf-8")).hexdigest()[:15], 16) % n_buckets


def load_search_stats(path: str) -> dict:
    import os

    from dataflow_python_etl_spark.operators.upsert import _read_marker

    stats = _read_marker(os.path.join(path, SEARCH_STATS))
    if stats is None:
        raise ValueError(
            f"search index at {path} has no {SEARCH_STATS} sidecar — not built "
            "by build_search_index, or the sidecar was lost; rebuild the index "
            "(BM25 needs the exact corpus-level (n_docs, sum_dl))"
        )
    return stats


def build_search_index(
    docs: DataFrame,
    path: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_buckets: int = 64,
) -> None:
    """Build the postings index: ``pbucket=*/`` parquet partitions of
    ``(w, doc_id, tf, dl)`` plus the stats sidecar ``{n_docs,
    sum_dl, n_buckets}``. Document length rides ON the posting
    (denormalized) so a probe needs no doclens join; df per term is
    the term's posting count, derived at probe time — postings are
    the ONLY authoritative state besides the two sidecar scalars.
    Tokenization is `functions.text.tokens` — identical to
    :func:`bm25_search`, so probe ≡ full-scan on the same corpus
    (parity-pinned). Two passes over the corpus at build time (tf
    explode + length scan), then never again."""
    import os

    from dataflow_python_etl_spark.functions.text import tokens

    if n_buckets < 1:
        raise ValueError(f"n_buckets must be >= 1, got {n_buckets}")
    if os.path.exists(path):
        raise ValueError(
            f"search index path {path} already exists — use "
            "append_to_search_index for new documents, or remove it to rebuild"
        )
    from dataflow_python_etl_spark.functions.text import md5_hash60

    lens = docs.select(F.col(id_col).alias("doc_id"), F.size(tokens(text_col)).alias("dl"))
    s = lens.agg(
        F.count(F.lit(1)).alias("n"), F.coalesce(F.sum("dl"), F.lit(0)).alias("s")
    ).first()
    if s["n"] == 0:
        raise ValueError(
            "build_search_index: empty corpus — an index with n_docs = 0 "
            "cannot score anything (BM25 divides by avgdl); nothing written"
        )
    tf = (
        docs.select(F.col(id_col).alias("doc_id"), F.explode(tokens(text_col)).alias("w"))
        .groupBy("doc_id", "w")
        .agg(F.count(F.lit(1)).cast("long").alias("tf"))
    )
    postings = tf.join(lens, "doc_id").select(
        "w", "doc_id", "tf", "dl",
        F.pmod(md5_hash60(F.col("w")), F.lit(n_buckets)).cast("int").alias("pbucket"),
    )
    from dataflow_python_etl_spark.operators.upsert import _write_marker

    postings.write.partitionBy("pbucket").parquet(path)
    _write_marker(
        os.path.join(path, SEARCH_STATS),
        {"n_docs": s["n"], "sum_dl": int(s["s"]), "n_buckets": n_buckets},
    )


def search_index(
    spark,
    path: str,
    query_terms: tuple[str, ...],
    k1: float = 1.2,
    b: float = 0.75,
    top_k: int = 20,
) -> DataFrame:
    """Probe the persisted index: identical BM25 semantics to
    :func:`bm25_search` (same formula, same rounded-score + id
    ranking), but the scan touches ONLY the query terms' pbucket
    partitions (pruning literals computed driver-side from the same
    portable hash) — per-query cost is the terms' postings, not the
    corpus."""
    if not query_terms:
        raise ValueError("query_terms must be non-empty")
    stats = load_search_stats(path)
    if stats["n_docs"] <= 0:
        # reachable when erasure removed every indexed document
        # (operators.erasure) — BM25 divides by avgdl, so scoring an
        # empty index must be loud, not a ZeroDivisionError
        raise ValueError(
            f"search index at {path} is empty (n_docs = {stats['n_docs']}) — "
            "every document was removed (erasure?); nothing to score"
        )
    n_docs, avgdl = stats["n_docs"], stats["sum_dl"] / stats["n_docs"]
    buckets = sorted({_term_bucket_py(w, stats["n_buckets"]) for w in query_terms})
    p = (
        spark.read.parquet(path)
        .where(F.col("pbucket").isin(buckets) & F.col("w").isin(*query_terms))
        .select("w", "doc_id", "tf", "dl")
    )
    df_t = p.groupBy("w").agg(F.count(F.lit(1)).alias("df"))
    idf = F.log(
        (F.lit(n_docs) - F.col("df") + F.lit(0.5)) / (F.col("df") + F.lit(0.5))
        + F.lit(1)
    )
    term_score = idf * (F.col("tf") * F.lit(k1 + 1)) / (
        F.col("tf")
        + F.lit(k1) * (F.lit(1 - b) + F.lit(b) * F.col("dl") / F.lit(avgdl))
    )
    scored = (
        p.join(df_t, "w")
        .groupBy("doc_id")
        .agg(
            F.round(F.sum(term_score), 6).alias("bm25"),
            F.count(F.lit(1)).cast("long").alias("n_terms_matched"),
        )
    )
    return scored.orderBy(F.col("bm25").desc(), F.col("doc_id")).limit(top_k)


def append_to_search_index(
    new_docs: DataFrame,
    path: str,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> None:
    """Incrementally index new documents: their postings are staged
    to a hidden dir inside the index and moved into the ``pbucket=``
    partitions (the IVF append protocol: concurrent readers never
    see the stage; a leftover stage dir from a crash REFUSES the
    next append with recovery instructions), then the sidecar scalars
    are bumped. Caller contract: ``new_docs`` ids are not already
    indexed (the dedup-ingest unique-id contract). A crash between
    the move and the sidecar bump leaves scores computed with
    slightly-stale (n_docs, sum_dl) — self-healing on the next
    successful append, or recompute exactly by rebuilding; postings
    themselves are never torn."""
    import os

    from dataflow_python_etl_spark.functions.text import md5_hash60, tokens

    stats = load_search_stats(path)
    n_buckets = stats["n_buckets"]
    lens = new_docs.select(
        F.col(id_col).alias("doc_id"), F.size(tokens(text_col)).alias("dl")
    )
    tf = (
        new_docs.select(
            F.col(id_col).alias("doc_id"), F.explode(tokens(text_col)).alias("w")
        )
        .groupBy("doc_id", "w")
        .agg(F.count(F.lit(1)).cast("long").alias("tf"))
    )
    postings = tf.join(lens, "doc_id").select(
        "w", "doc_id", "tf", "dl",
        F.pmod(md5_hash60(F.col("w")), F.lit(n_buckets)).cast("int").alias("pbucket"),
    )
    from dataflow_python_etl_spark.operators.upsert import (
        _write_marker,
        staged_partition_append,
    )

    staged_partition_append(postings, path, "pbucket", "search index")
    s = lens.agg(
        F.count(F.lit(1)).alias("n"), F.coalesce(F.sum("dl"), F.lit(0)).alias("s")
    ).first()
    _write_marker(
        os.path.join(path, SEARCH_STATS),
        {
            "n_docs": stats["n_docs"] + s["n"],
            "sum_dl": stats["sum_dl"] + int(s["s"]),
            "n_buckets": n_buckets,
        },
    )
