"""Deduplication operators for training-data pipelines
(BASELINE.json north star; SURVEY.md §2.4).

Scale design notes (100 TB):
- Exact dedup is a hash aggregation on the dedup key — one shuffle,
  map-side partial aggregation, AQE coalesces the reduce side.
- N-gram Jaccard builds an inverted index (shingle → docs) and joins
  it with itself: the join key is the shingle, so only docs sharing a
  shingle ever meet — no cross join. Hot shingles are the skew risk;
  ``max_shingle_df`` drops shingles whose document frequency exceeds a
  cap (a standard trick: ubiquitous shingles contribute little to
  Jaccard but quadratic join fan-out).
- MinHash/LSH replaces the exact inverted index with banded
  signatures: candidate pairs only form inside an LSH bucket, then
  are verified with exact Jaccard. Per-doc work is O(shingles ×
  permutations) map-side; the only shuffle key is (band, signature).

Algorithms are the standard public constructions: MinHash resemblance
sketches (Broder, "On the resemblance and containment of documents",
1997), banded LSH (Leskovec/Rajaraman/Ullman, "Mining of Massive
Datasets" ch. 3), SimHash (Charikar, "Similarity estimation
techniques from rounding algorithms", 2002).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from dataflow_python_etl_spark.functions.text import md5_hash60, shingles, tokens

# Universal-hash family over a prime field, seeded deterministically:
# h_i(x) = (a_i * base(x) + b_i) mod P with base(x) the portable
# md5-derived 60-bit hash reduced mod P. The (a_i, b_i) literals are
# embedded in the DuckDB oracle SQL too, so MinHash signatures and
# SimHash fingerprints are bit-identical across engines.
P_MOD = 1_000_000_007


def _hash_family(count: int, seed: int) -> list[tuple[int, int]]:
    import numpy as np

    rng = np.random.RandomState(seed)
    return [
        (int(rng.randint(1, P_MOD)), int(rng.randint(0, P_MOD)))
        for _ in range(count)
    ]


MINHASH_AB: list[tuple[int, int]] = _hash_family(32, seed=1203)
SIMHASH_AB: list[tuple[int, int]] = _hash_family(64, seed=4107)


# Operator-internal caches (the exploded shingle streams) and lineage
# cuts. Spark can't unpersist before the lazy result is consumed, so
# operators register them here and callers (bench, long-lived
# services, the streaming sinks after each batch) reclaim storage with
# unpersist_all() between queries.
_PERSISTED: list[DataFrame] = []


def _persist(df: DataFrame) -> DataFrame:
    df = df.persist()
    _PERSISTED.append(df)
    return df


# Public name for other operator modules (corpus etc.) whose internal
# caches should be reclaimed by the same unpersist_all() sweep.
register_cache = _persist


def _cut(df: DataFrame) -> DataFrame:
    """Eager ``localCheckpoint``, registered for :func:`unpersist_all`.

    For batch-scoped intermediates with several consumers: unlike a
    cache, the cut frame's plan is one ``LogicalRDD`` leaf, so every
    consumer plans (and AQE re-renders) a short tree instead of the
    nested cached lineage. A released cut frame fails on its next use
    (``CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND``) rather than recomputing.
    """
    df = df.localCheckpoint(eager=True)
    _PERSISTED.append(df)
    return df


def _release(df: DataFrame) -> None:
    if df.is_cached:
        df.unpersist()
    else:  # a _cut: free the checkpointed RDD's blocks — the call
        # RDD.unpersist makes, minus its per-RDD "lineage has been
        # truncated" WARN
        rdd_id = df._jdf.logicalPlan().rdd().id()
        df.sparkSession.sparkContext._jsc.sc().unpersistRDD(rdd_id, False)


def unpersist_all() -> int:
    """Release every cache and cut registered by operators; returns count."""
    import warnings

    n = 0
    while _PERSISTED:
        try:
            _release(_PERSISTED.pop())
            n += 1
        except Exception as e:  # dead session/context: nothing to free,
            # but say so — a swallowed failure here is exactly the
            # invisible-cache-leak signal the CLAUDE.md invariant
            # worries about
            warnings.warn(
                f"unpersist_all: failed to release a registered cache ({e!r})",
                RuntimeWarning,
                stacklevel=2,
            )
    return n


def dedup_exact(df: DataFrame, key_cols: list[str], id_col: str) -> DataFrame:
    """Exact dedup: keep the min-id row per duplicate group.

    Deterministic (unlike ``dropDuplicates``, which keeps an arbitrary
    row). Returns one row per distinct key with ``n_dups``.
    """
    return (
        df.groupBy(*key_cols)
        .agg(F.min(id_col).alias(id_col), F.count(F.lit(1)).alias("n_dups"))
        .select(id_col, *key_cols, "n_dups")
    )


def normalize_text(col) -> "F.Column":
    """Aggressive content normalization for fuzzy-exact dedup (the C4
    recipe): lowercase, strip everything but letters/digits/spaces,
    collapse whitespace runs, trim. Two docs differing only in case,
    punctuation, or spacing normalize identically. Pure JVM regex
    chain — zero-shuffle, whole-stage-codegen'd."""
    c = F.col(col) if isinstance(col, str) else col
    return F.trim(
        F.regexp_replace(
            F.regexp_replace(F.lower(c), r"[^a-z0-9\s]", " "), r"\s+", " "
        )
    )


def dedup_normalized(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Fuzzy-exact dedup: group by the md5 of the NORMALIZED text
    (:func:`normalize_text`), keep the min-id survivor — the tier
    between byte-exact dedup and n-gram Jaccard: catches case /
    punctuation / whitespace variants of the same document at exact-
    dedup cost (one map + one map-side-combined groupBy shuffle;
    hashing keeps the shuffle key 32 bytes however long the text is).
    Returns (id, content_key, n_variants) per surviving document.
    """
    return (
        df.select(F.col(id_col), F.md5(normalize_text(text_col)).alias("content_key"))
        .groupBy("content_key")
        .agg(F.min(id_col).alias(id_col), F.count(F.lit(1)).alias("n_variants"))
        .select(id_col, "content_key", "n_variants")
    )


def _doc_shingles(df: DataFrame, id_col: str, text_col: str, n: int) -> DataFrame:
    """(doc, shingle) with per-doc-distinct shingles.

    Dedup happens IN-ARRAY (``array_distinct``) before the explode, so
    no ``distinct()`` shuffle is ever needed. Deliberately does NOT
    also project ``size(...)``: any sibling expression over the same
    array would be re-evaluated per EXPLODED row (Generate evaluates
    the generator once per input row, but a collapsed projection next
    to it re-runs the whole shingle pipeline per output row — measured
    20× slowdown). Set sizes are re-derived with a cheap count.
    """
    shs = F.array_distinct(shingles(text_col, n))
    return df.select(F.col(id_col).alias("doc"), F.explode(shs).alias("shingle"))


def _postings(sh: DataFrame, max_shingle_df: int | None) -> DataFrame:
    """(shingle, docs) posting lists from a (doc, shingle) stream —
    ONE shuffle groups by shingle; the ``max_shingle_df`` cap is a
    free filter on the posting size (no separate hot-shingle scan or
    anti-join pass)."""
    postings = sh.groupBy("shingle").agg(F.collect_list("doc").alias("docs"))
    if max_shingle_df is not None:
        postings = postings.where(F.size("docs") <= max_shingle_df)
    return postings


def _posting_common(postings: DataFrame) -> DataFrame:
    """(doc_a, doc_b, common) — ordered pairs generated NARROWLY by a
    double explode of each posting list, then one pair-keyed count.
    No self-join: the shingle stream is shuffled once (into postings),
    never twice."""
    pairs = (
        postings.where(F.size("docs") >= 2)
        .select(F.explode("docs").alias("a"), F.col("docs"))
        .select("a", F.explode("docs").alias("b"))
        .where(F.col("a") < F.col("b"))
    )
    return (
        pairs.groupBy(F.col("a").alias("doc_a"), F.col("b").alias("doc_b"))
        .agg(F.count(F.lit(1)).alias("common"))
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    threshold: float = 0.5,
    max_shingle_df: int | None = None,
) -> DataFrame:
    """Near-duplicate pairs by exact n-gram-set Jaccard ≥ threshold.

    Inverted-index via posting lists (:func:`_postings` /
    :func:`_posting_common`): explode distinct shingles, group by
    shingle, pair docs within each posting, count common shingles per
    pair, then ``jaccard = |A∩B| / (|A| + |B| - |A∩B|)``. Returns
    ``(doc_a, doc_b, jaccard)`` with ``doc_a < doc_b``.
    """
    sh = _doc_shingles(df, id_col, text_col, n)
    postings = _postings(sh, max_shingle_df)
    if max_shingle_df is not None:
        # Jaccard must be computed over the SAME (capped) shingle sets
        # as the intersection counts — sizes from the uncapped base
        # table would understate every pair's score. The postings
        # frame is cached: it feeds both the pair stream and sizes.
        postings = _persist(postings)
        sizes = (
            postings.select(F.explode("docs").alias("doc"))
            .groupBy("doc")
            .agg(F.count(F.lit(1)).alias("sz"))
        )
    else:
        # Shuffle-free: one shingle evaluation per base row, no explode.
        sizes = df.select(
            F.col(id_col).alias("doc"),
            F.size(F.array_distinct(shingles(text_col, n))).alias("sz"),
        )
    common = _posting_common(postings)
    sa = sizes.alias("sa")
    sb = sizes.alias("sb")
    return (
        common.join(sa, F.col("doc_a") == F.col("sa.doc"))
        .join(sb, F.col("doc_b") == F.col("sb.doc"))
        .withColumn(
            "jaccard",
            F.round(F.col("common") / (F.col("sa.sz") + F.col("sb.sz") - F.col("common")), 6),
        )
        .where(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", "jaccard")
    )


def containment_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    threshold_ppm: int = 800_000,
    max_shingle_df: int | None = None,
) -> DataFrame:
    """Set-CONTAINMENT near-dup pairs: ``(doc_a, doc_b, containment)``
    with ``containment = |A∩B| / min(|A|,|B|) ≥ threshold`` over
    n-gram shingle sets — the subset-duplication detector Jaccard
    structurally misses (a document embedded verbatim inside a 10×
    larger one has Jaccard ≈ 0.1 but containment 1.0; think quoted
    articles, aggregator pages, chunk-of-a-book crawl items).

    EXACT, via prefix filtering (Chaudhuri-Ganti-Kaushik 2006; the
    PPJoin family, Xiao et al. 2008) instead of an all-pairs join:
    order every doc's shingles by ASCENDING global document frequency
    (ties by shingle — deterministic), and probe only each doc's
    PREFIX of size ``sz - ceil(t·sz) + 1`` against the full inverted
    index. Completeness: a qualifying pair shares ``o ≥ ceil(t·m)``
    shingles (m = smaller size), and any o-overlap must intersect the
    smaller doc's first ``m - o + 1`` shingles in ANY global order —
    so the smaller side's probe finds the pair; probing every doc
    covers both roles. The frequency order makes prefixes hit the
    RAREST postings, so candidate volume tracks rare-shingle df, not
    posting-size²; candidates are then verified with the exact
    intersection count (no false positives) and the threshold test is
    an INTEGER cross-multiply (no float boundary). ``max_shingle_df``
    drops boilerplate shingles from the sets on BOTH the index and
    the verify side (the q24 contract — scores computed over the
    same capped sets). One doc-keyed window for prefixes + two
    shingle-keyed joins; everything JVM-side.
    """
    from pyspark.sql import Window

    if not 0 < threshold_ppm <= 1_000_000:
        raise ValueError(f"threshold_ppm must be in (0, 1e6], got {threshold_ppm}")
    sh = _doc_shingles(df, id_col, text_col, n)
    dfreq = sh.groupBy("shingle").agg(F.count(F.lit(1)).alias("__df"))
    if max_shingle_df is not None:
        dfreq = dfreq.where(F.col("__df") <= max_shingle_df)
    # (doc, shingle, __df) over the capped sets — consumed by the
    # prefix build, the index side, and twice by verification
    shf = _persist(sh.join(dfreq, "shingle").select("doc", "shingle", "__df"))
    sizes = shf.groupBy("doc").agg(F.count(F.lit(1)).alias("sz"))
    w = Window.partitionBy("doc").orderBy("__df", "shingle")
    o_req = F.expr(f"(sz * {int(threshold_ppm)} + 999999) div 1000000")
    prefix = (
        shf.withColumn("__pos", F.row_number().over(w))
        .join(sizes, "doc")
        .where(F.col("__pos") <= F.col("sz") - o_req + 1)
        .select("doc", "shingle")
    )
    idx = shf.select("shingle", F.col("doc").alias("__idoc"))
    cand = (
        prefix.join(idx, "shingle")
        .where(F.col("doc") != F.col("__idoc"))
        .select(
            F.least("doc", "__idoc").alias("doc_a"),
            F.greatest("doc", "__idoc").alias("doc_b"),
        )
        .distinct()
    )
    sa = shf.select(F.col("doc").alias("doc_a"), "shingle")
    sb = shf.select(F.col("doc").alias("doc_b"), "shingle")
    common = (
        cand.join(sa, "doc_a")
        .join(sb, ["doc_b", "shingle"])
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("__c"))
    )
    za = sizes.select(F.col("doc").alias("doc_a"), F.col("sz").alias("__sa"))
    zb = sizes.select(F.col("doc").alias("doc_b"), F.col("sz").alias("__sb"))
    m = F.least("__sa", "__sb")
    return (
        common.join(za, "doc_a")
        .join(zb, "doc_b")
        .where(F.col("__c") * F.lit(1_000_000) >= F.lit(int(threshold_ppm)) * m)
        .select(
            "doc_a",
            "doc_b",
            F.round(F.col("__c") / m, 6).alias("containment"),
        )
    )


def text_shingle_hashes(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
) -> DataFrame:
    """``(id, shingle_hash)`` fan-out kernel for the set-fingerprint
    STREAMING sinks (``streaming.pipeline.stream_video_dedup_ingest``
    and its text wrapper): per-doc-DISTINCT word n-gram shingles
    (the same ``_doc_shingles`` the batch operators use),
    xxhash64-compressed so the persisted index stores 8-byte rows
    instead of raw shingle strings — at 100 TB the index is the
    long-lived artifact, and 64-bit collisions are negligible
    relative to the shingle-set sizes. Docs shorter than ``n`` words
    produce NO rows: they can never pair, so they always survive
    ingestion (mirroring the batch form, where an empty shingle set
    never reaches the threshold)."""
    sh = _doc_shingles(df, id_col, text_col, n)
    return sh.select(
        F.col("doc").alias(id_col), F.xxhash64("shingle").alias("shingle_hash")
    )


# --- MinHash + LSH ---------------------------------------------------------
#
# Signature: for permutation i, sig_i(doc) = min over shingles s of
# h_i(s) = (a_i * base(s) + b_i) mod P, base = portable md5-derived
# hash (see MINHASH_AB — cross-engine reproducible, DuckDB-oracle-able).
# Banding: group the signature into bands of `rows_per_band` values;
# docs sharing any band's full sub-signature become candidates;
# candidates are verified with exact Jaccard so the final output has no
# false positives (recall depends on band geometry — that's the
# documented trade-off).

def minhash_signatures(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    num_perm: int = 32,
) -> DataFrame:
    """(id, array<long> signature).

    Explode + one partial-aggregating groupBy on the doc id: the
    shingle pipeline runs ONCE per document (inside Generate), then
    each exploded shingle contributes one md5 + num_perm cheap
    affine+min updates — all NATIVE codegen'd aggregates, combined
    map-side before the doc-id shuffle. Two interpreted alternatives
    measured slower: num_perm sibling ``array_min(transform(...))``
    HOFs re-evaluate the shingle pipeline num_perm× per row
    (CollapseProject), and a single array-state ``aggregate`` +
    ``zip_with`` fold pays ~num_perm × shingles interpreted lambda
    steps (measured ~2× the explode+groupBy cost at sf0.1 despite
    saving the shuffle). Duplicate shingles can't change a min, so no
    distinct is needed.
    """
    sh = df.select(
        F.col(id_col).alias("doc"), F.explode(shingles(text_col, n)).alias("shingle")
    )
    base = (md5_hash60(F.col("shingle")) % P_MOD).alias("bh")
    hashed = sh.select("doc", base)
    # _hash_family is prefix-stable in count (one RNG stream), so any
    # num_perm yields the same leading pairs as MINHASH_AB.
    family = MINHASH_AB if num_perm <= 32 else _hash_family(num_perm, seed=1203)
    # ONE parsed SQL expression for the whole signature: the
    # Column-API spelling cost ~8 py4j round-trips per permutation per
    # plan build, and num_perm aliased aggregates + F.array still cost
    # ~3 per permutation. Integer literal typing (INT vs BIGINT) and
    # the long promotion are identical in the parser, and the array of
    # aggregates plans as the same num_perm native min() aggregates
    # under one projection, so every signature value and the
    # array<bigint> type are unchanged.
    mins_sql = ", ".join(
        f"min((bh * {a} + {b}) % {P_MOD})" for a, b in family[:num_perm]
    )
    return hashed.groupBy(F.col("doc").alias(id_col)).agg(
        F.expr(f"array({mins_sql})").alias("signature")
    )


def _band_frame(sig: DataFrame, id_col: str, num_perm: int, rows_per_band: int) -> DataFrame:
    """(doc, band, sig): one row per document per band, the band's
    sub-signature serialized as a join key."""
    num_bands = num_perm // rows_per_band
    # one parsed expression for the whole band array (optimization
    # r12 — same py4j rationale as minhash_signatures; `signature[i]`
    # is the same 0-based GetArrayItem the Column [] operator builds)
    bands_sql = ", ".join(
        f"struct({bi} AS band, concat_ws(',', "
        + ", ".join(
            f"CAST(signature[{bi * rows_per_band + r}] AS STRING)"
            for r in range(rows_per_band)
        )
        + ") AS sig)"
        for bi in range(num_bands)
    )
    return sig.select(
        F.col(id_col).alias("doc"),
        F.explode(F.expr(f"array({bands_sql})")).alias("bs"),
    ).select("doc", "bs.band", "bs.sig")


def minhash_band_index(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    num_perm: int = 32,
    rows_per_band: int = 4,
) -> DataFrame:
    """The persistable LSH index of a corpus: (doc, band, sig).

    Write this once per corpus (partitioned/bucketed by (band, sig) in
    a real lake) and every incoming batch dedups against it via
    :func:`minhash_lsh_pairs_incremental` — signatures are computed
    only for the DELTA, never recomputed for the indexed corpus."""
    return _band_frame(
        minhash_signatures(df, id_col, text_col, n, num_perm),
        id_col,
        num_perm,
        rows_per_band,
    )


class BandIndexStore:
    """Lifecycle of a PERSISTED MinHash band index, bucketed by
    (band, sig).

    The plain-parquet index forces every (band, sig) probe to shuffle
    BOTH sides of the join — at 100 TB the index side is the corpus ×
    num_bands, so that shuffle grows forever while the batch side stays
    bounded. Bucketing the index by its probe key amortizes the index
    shuffle into the (append-time) write: the probe becomes a
    co-located join where only the BATCH side moves (plan-pinned in
    tests/test_band_index.py — exactly one ``Exchange
    hashpartitioning(band, sig)`` remains, on the batch side).

    ``path`` keeps the files at a caller-chosen location (external
    table); the bucket spec lives in the session catalog. Appends
    preserve the bucket spec (Spark validates it), so incremental
    ingest (:func:`minhash_lsh_pairs_incremental`,
    ``streaming.pipeline.stream_dedup_ingest``) keeps the co-located
    probe across batches.
    """

    def __init__(
        self,
        spark,
        table: str,
        path: str | None = None,
        n_buckets: int = 32,
    ) -> None:
        self.spark = spark
        self.table = table
        self.path = path
        self.n_buckets = n_buckets

    def exists(self) -> bool:
        import os

        if not self.spark.catalog.tableExists(self.table):
            return False
        if self.path is not None and not os.path.exists(self.path):
            return False
        return True

    def read(self) -> DataFrame:
        return self.spark.table(self.table)

    def append(self, bands: DataFrame) -> None:
        from dataflow_python_etl_spark.sources.sinks import write_bucketed

        write_bucketed(
            bands,
            self.table,
            ["band", "sig"],
            n_buckets=self.n_buckets,
            mode="append",
            path=self.path,
        )

    def drop(self) -> None:
        """Drop the catalog entry AND stale files (rebuild/test path).
        A catalog row pointing at a vanished dir would make every
        append fail; a dir without a catalog row would be silently
        shadowed by the recreated table."""
        import os
        import shutil

        self.spark.sql(f"DROP TABLE IF EXISTS {self.table}")
        if self.path is not None and os.path.exists(self.path):
            shutil.rmtree(self.path)

    def _location(self) -> str:
        """Filesystem dir behind the table — the caller-chosen
        ``path`` for external stores, the catalog location otherwise
        (managed tables get a warehouse dir)."""
        if self.path is not None:
            return self.path
        loc = (
            self.spark.sql(f"DESC FORMATTED {self.table}")
            .where(F.col("col_name") == "Location")
            .first()["data_type"]
        )
        return loc[7:] if loc.startswith("file:") else loc

    def forget(self, keys, key_col: str = "doc") -> tuple[int, int]:
        """Erase documents' band rows (right-to-be-forgotten — see
        ``operators.erasure``): survivors are written as a NEW
        bucketed table at a ``.__tmp_`` sibling path, the files are
        swapped in under the EXISTING catalog entry (same bucket spec,
        same n_buckets — Spark reads bucket ids from file names, so
        the co-located zero-Exchange probe survives the rewrite;
        plan-pinned in tests/test_erasure.py), and the tmp catalog
        entry is dropped. Crash anywhere: ``swap_table_dir``'s backup
        protects the files (``recover_table_dir``), the uuid'd
        ``.__tmp_`` sibling rides ``vacuum_table_dir``, and a stale
        tmp catalog entry is dropped up front on the next run.
        Returns ``(rows_before, rows_removed)``; idempotent."""
        import uuid as _uuid

        from pyspark.sql import Observation

        from dataflow_python_etl_spark.operators.upsert import swap_table_dir
        from dataflow_python_etl_spark.sources.sinks import write_bucketed

        kset = (
            keys.select(F.col(key_col).alias("__fk"))
            .where(F.col("__fk").isNotNull())
            .distinct()
        )
        cur = self.read()
        j = cur.join(kset, cur["doc"] == F.col("__fk"), "left")
        obs = Observation(f"forget_band:{self.table}")
        kept = (
            j.observe(
                obs,
                F.count(F.lit(1)).alias("before"),
                F.sum(F.col("__fk").isNotNull().cast("long")).alias("removed"),
            )
            .where(F.col("__fk").isNull())
            .drop("__fk")
        )
        loc = self._location()
        tmp_table = f"{self.table}__fk_tmp"
        self.spark.sql(f"DROP TABLE IF EXISTS {tmp_table}")  # stale crash leftover
        tmp_path = f"{loc}.__tmp_{_uuid.uuid4().hex[:8]}"
        write_bucketed(
            kept,
            tmp_table,
            ["band", "sig"],
            n_buckets=self.n_buckets,
            path=tmp_path,
        )
        before = int(obs.get["before"])
        removed = int(obs.get["removed"] or 0)
        swap_table_dir(loc, tmp_path)
        self.spark.sql(f"DROP TABLE IF EXISTS {tmp_table}")
        self.spark.catalog.refreshTable(self.table)
        return before, removed


def _verify_jaccard(
    docs: DataFrame,
    candidates: DataFrame,
    id_col: str,
    text_col: str,
    n: int,
    threshold: float,
) -> DataFrame:
    """Exact-Jaccard verification of candidate (doc_a, doc_b) pairs.

    The shingle stream is materialized ONLY for candidate docs (the
    semi join prunes the corpus before the explode ever runs), then
    per-pair intersections come from posting lists (one shuffle,
    narrow pair generation — see ``_posting_common``). Posting pairs
    include doc pairs that share a shingle without being candidates;
    the semi join with ``candidates`` keeps exactly the LSH pair set.
    Suits corpus-sized, non-distinct candidate sets
    (:func:`minhash_lsh_pairs`); a batch-sized distinct set is cheaper
    through :func:`_verify_pairs`.
    """
    docs_c = docs.join(_candidate_ids(candidates, id_col), id_col, "left_semi")
    sh_c = _persist(_doc_shingles(docs_c, id_col, text_col, n))
    sizes = sh_c.groupBy("doc").agg(F.count(F.lit(1)).alias("sz"))
    common = _posting_common(_postings(sh_c, None)).join(
        candidates, ["doc_a", "doc_b"], "left_semi"
    )
    za = sizes.alias("za")
    zb = sizes.alias("zb")
    return (
        common.join(za, F.col("doc_a") == F.col("za.doc"))
        .join(zb, F.col("doc_b") == F.col("zb.doc"))
        .withColumn(
            "jaccard",
            F.round(F.col("common") / (F.col("za.sz") + F.col("zb.sz") - F.col("common")), 6),
        )
        .where(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", "jaccard")
    )


def _candidate_ids(candidates: DataFrame, id_col: str) -> DataFrame:
    """Every id on either side of ``candidates``, as ``id_col``. Not
    distinct: both consumers are the RIGHT side of a left_semi join,
    which tolerates duplicate rows — a distinct here would add a whole
    exchange+aggregate stage to dedup rows the semi join ignores."""
    return candidates.select(F.col("doc_a").alias(id_col)).union(
        candidates.select(F.col("doc_b").alias(id_col))
    )


def _verify_pairs(
    docs: DataFrame,
    candidates: DataFrame,
    id_col: str,
    text_col: str,
    n: int,
    threshold: float,
) -> DataFrame:
    """Exact-Jaccard verification of a small, DISTINCT candidate set
    with ``doc_a < doc_b``: each pair is checked directly on its two
    shingle sets, with no posting lists.

    One cut holds ``(doc, distinct shingles)`` for the candidate docs
    only (semi-join-pruned), joined to the candidates on each side;
    ``common = size(array_intersect)`` and the score is rounded as in
    :func:`_verify_jaccard`, which it matches pair for pair. Docs with
    no shingle and pairs with no common shingle never score, as in the
    posting form (``common > 0`` keeps that at ``threshold=0``). The
    ``dropDuplicates`` lets an id sit on both sides of a corpus ∪
    batch union (a crash-replayed batch already in the corpus): a
    doubled doc would otherwise double its pair rows.
    """
    sets = _cut(
        docs.join(_candidate_ids(candidates, id_col), id_col, "left_semi")
        .dropDuplicates([id_col])
        .select(
            F.col(id_col).alias("doc"),
            F.array_distinct(shingles(text_col, n)).alias("sh"),
        )
        .where(F.size("sh") > 0)
    )
    sa = sets.alias("sa")
    sb = sets.alias("sb")
    common = (
        candidates.join(sa, F.col("doc_a") == F.col("sa.doc"))
        .join(sb, F.col("doc_b") == F.col("sb.doc"))
        .select(
            "doc_a",
            "doc_b",
            F.size(F.array_intersect("sa.sh", "sb.sh")).alias("common"),
            F.size("sa.sh").alias("za"),
            F.size("sb.sh").alias("zb"),
        )
        .where(F.col("common") > 0)
    )
    return (
        common.withColumn(
            "jaccard",
            F.round(F.col("common") / (F.col("za") + F.col("zb") - F.col("common")), 6),
        )
        .where(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", "jaccard")
    )


def minhash_lsh_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    num_perm: int = 32,
    rows_per_band: int = 4,
    threshold: float = 0.5,
) -> DataFrame:
    """Near-dup pairs via MinHash banding, verified with exact Jaccard.

    At scale this is the workhorse: candidate generation touches only
    (band, band-signature) buckets instead of the full inverted index.
    """
    # The full-corpus shingle stream feeds ONLY the signature
    # aggregation (single consumer — explode + native min aggregates,
    # no cache fill needed); verification re-derives shingles for
    # candidate docs only. Small derived frames (signatures,
    # candidates, candidate shingles) are cached: each has 2+
    # consumers, and without a cache Spark re-evaluates the whole
    # upstream subtree per consumer (measured 2× signature recompute
    # in the band self-join alone).
    sig = _persist(minhash_signatures(df, id_col, text_col, n, num_perm))
    bands = _band_frame(sig, id_col, num_perm, rows_per_band)
    a = bands.alias("a")
    b = bands.alias("b")
    candidates = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.sig") == F.col("b.sig"))
            & (F.col("a.doc") < F.col("b.doc")),
        )
        .select(F.col("a.doc").alias("doc_a"), F.col("b.doc").alias("doc_b"))
    )
    # NOT .distinct()'ed: a pair matching in k bands appears k times
    # (k ≤ num_bands, bounded), and every consumer in _verify_jaccard
    # is the right side of a left_semi join, which ignores duplicates.
    # Removing the distinct removes a full shuffle of the candidate
    # set (measured −0.4 s on q25 at sf0.1); the persist holds ≤ k×
    # rows instead, a bounded trade.
    candidates = _persist(candidates)
    # Exact-Jaccard verification restricted to the candidate docs only
    # — this is the whole point of LSH: never touch the full pair
    # space. No forced broadcast hints anywhere in this chain: the
    # candidate-pair cardinality scales with the corpus's duplication
    # rate (a crawl corpus can be 30-50% near-dup), so a hard
    # F.broadcast would be a driver OOM at 100 TB. AQE converts these
    # joins to broadcast at runtime whenever the built side is actually
    # small — same plan at test scale, safe at cluster scale.
    return _verify_jaccard(df, candidates, id_col, text_col, n, threshold)


def simhash_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_hamming: int = 6,
    n_bands: int = 8,
    bits: int = 64,
    combine: int | None = None,
) -> DataFrame:
    """Near-dup pairs by SimHash Hamming distance ≤ ``max_hamming`` —
    EXACT (not approximate) when ``max_hamming < n_bands``, by the
    pigeonhole principle: two signatures differing in ≤ k bits must
    agree exactly on at least one of k+1 disjoint bit-blocks, so
    candidate generation over (band, band-bits) buckets misses
    nothing. Returns (doc_a, doc_b, hamming) with doc_a < doc_b.

    Scale shape mirrors MinHash banding: one narrow map computes the
    signature (shuffle-free), bands explode ×``n_bands``, candidates
    form only inside identical-band buckets, and verification is a
    single JVM ``bit_count(xor)`` on the signatures carried through
    the band frame — no second pass over the text, no posting lists.
    The arithmetic ``>> shift & mask`` band extraction is sign-safe
    (the mask discards the extended bits) and matches the DuckDB
    oracle expression bit-for-bit (q59).
    """
    # registered cache: the self-join consumes the band frame twice,
    # and the signature expression (per token: 1 md5 + `bits` affine
    # updates, interpreted HOFs) is the dominant cost — uncached it
    # evaluates once per side (measured 6.6 s -> ~4 s at sf0.1)
    if combine is None:
        # band-PAIR keys whenever the pigeonhole allows (the q150
        # birthday-collision fix); tight geometries keep single bands
        combine = 2 if max_hamming <= n_bands - 2 else 1
    sig = _persist(simhash(df, id_col, text_col, bits))
    return hamming_banded_pairs(
        sig, id_col, "simhash", max_hamming, n_bands, bits, combine=combine
    )


def _band_keys(sig_expr, n_bands: int, width: int, mask: int, combine: int):
    """The (band, val) candidate keys for one signature, as a Catalyst
    struct array to explode: with ``combine=1``, one entry per band
    (val = that band's bits); with ``combine=k``, one entry per
    k-combination of bands (val = the member bands' bits
    CONCATENATED). Combining is the Manku/Charikar simhash-index move:
    a pair within Hamming r leaves >= n_bands - r bands untouched, so
    whenever ``max_hamming <= n_bands - k`` some k-combination is
    clean on both sides and exactness is preserved — while the key
    space grows from 2^width to 2^(k*width), collapsing
    birthday-collision candidates (measured: the q150 audio probe's
    superlinear 1.709 exponent was n^2/2048 bucket collisions at 80k
    clips; C(8,2) 16-bit keys cut collision mass ~73x for 3.5x more
    index rows). ``sig_expr`` must be the SOURCE column (not a sibling
    alias — a lateral alias reference cannot sit inside Generate)."""
    import itertools

    entries = []
    for ci, combo in enumerate(itertools.combinations(range(n_bands), combine)):
        val = None
        for p, b in enumerate(combo):
            piece = F.shiftright(sig_expr, b * width).bitwiseAND(
                F.lit(mask)
            ) * F.lit(1 << (width * p))
            val = piece if val is None else val + piece
        entries.append(
            F.struct(F.lit(ci).alias("band"), val.cast("long").alias("val"))
        )
    return F.array(*entries)


def hamming_banded_pairs(
    sig: DataFrame,
    id_col: str,
    sig_col: str,
    max_hamming: int,
    n_bands: int,
    bits: int = 64,
    combine: int = 1,
) -> DataFrame:
    """Pigeonhole-exact Hamming pair search over ANY 64-bit-packed
    fingerprint frame ``(id_col, sig_col)`` — the candidate/verify
    core shared by :func:`simhash_pairs` (text) and the image
    perceptual-hash tier (``multimodal.image_near_dup_pairs``): two
    signatures within ``max_hamming`` bits must agree exactly on at
    least one of ``n_bands`` disjoint bit-blocks, so banded candidate
    generation misses nothing; verification is one JVM
    ``bit_count(xor)`` on the signatures carried through the band
    frame. Returns ``(doc_a, doc_b, hamming)`` with doc_a < doc_b.

    Callers whose signature is expensive to derive should pass an
    already-persisted frame (the self-join consumes it twice). Band
    buckets shuffle on (band, band-bits); correlated fingerprints can
    skew a bucket — AQE skew-join splits it at runtime (same posture
    as the MinHash band index)."""
    if not 0 <= max_hamming <= n_bands - combine:
        raise ValueError(
            "exactness needs 0 <= max_hamming <= n_bands - combine, got "
            f"{max_hamming}/{n_bands} with combine={combine}"
        )
    if bits % n_bands != 0:
        raise ValueError(f"bits ({bits}) must divide evenly into {n_bands} bands")
    width = bits // n_bands
    if combine * width >= 64:
        raise ValueError(f"combined key would overflow a long: {combine}x{width} bits")
    mask = (1 << width) - 1
    bands = sig.select(
        F.col(id_col).alias("doc"),
        F.col(sig_col).alias("__sig"),
        F.explode(
            _band_keys(F.col(sig_col), n_bands, width, mask, combine)
        ).alias("bk"),
    ).select(
        "doc", "__sig", F.col("bk.band").alias("band"), F.col("bk.val").alias("val")
    )
    a = bands.alias("a")
    b = bands.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.val") == F.col("b.val"))
            & (F.col("a.doc") < F.col("b.doc")),
        )
        .select(
            F.col("a.doc").alias("doc_a"),
            F.col("b.doc").alias("doc_b"),
            F.bit_count(F.col("a.__sig").bitwiseXOR(F.col("b.__sig"))).alias("hamming"),
        )
        .where(F.col("hamming") <= max_hamming)
        .distinct()
    )


def hamming_banded_pairs_incremental(
    corpus_sig: DataFrame | None,
    new_sig: DataFrame,
    id_col: str,
    sig_col: str,
    max_hamming: int,
    n_bands: int,
    bits: int = 64,
    combine: int = 1,
) -> DataFrame:
    """Incremental twin of :func:`hamming_banded_pairs`: pairs of a
    NEW fingerprint batch against an already-fingerprinted corpus
    (and against itself) — the probe the streaming image/audio ingest
    runs per micro-batch. Only the NEW side's bands ever probe, so
    the per-batch candidate cost scales with the batch; the corpus
    side contributes bands from its stored 16-byte ``(id, sig)`` rows
    (band extraction is a shift/mask, re-derived at probe time —
    storing exploded bands would 8x the index for no win). Returns
    ``(doc_a, doc_b, hamming)`` with doc_a < doc_b, each pair having
    at least one new member; pigeonhole-exact like the batch form.

    Ids must be unique across corpus and batch. Duplicate corpus sig
    rows (a crash-replayed index append) only re-propose the same
    candidate pair — the final ``distinct`` absorbs them."""
    if not 0 <= max_hamming <= n_bands - combine:
        raise ValueError(
            "exactness needs 0 <= max_hamming <= n_bands - combine, got "
            f"{max_hamming}/{n_bands} with combine={combine}"
        )
    if bits % n_bands != 0:
        raise ValueError(f"bits ({bits}) must divide evenly into {n_bands} bands")
    width = bits // n_bands
    if combine * width >= 64:
        raise ValueError(f"combined key would overflow a long: {combine}x{width} bits")
    mask = (1 << width) - 1

    def _bands(sig: DataFrame) -> DataFrame:
        return sig.select(
            F.col(id_col).alias("doc"),
            F.col(sig_col).alias("__sig"),
            F.explode(
            _band_keys(F.col(sig_col), n_bands, width, mask, combine)
        ).alias("bk"),
        ).select(
            "doc",
            "__sig",
            F.col("bk.band").alias("band"),
            F.col("bk.val").alias("val"),
        )

    new_bands = _bands(new_sig)
    all_bands = (
        new_bands if corpus_sig is None
        else _bands(corpus_sig.select(id_col, sig_col)).unionByName(new_bands)
    )
    a = new_bands.alias("a")
    b = all_bands.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.val") == F.col("b.val"))
            & (F.col("a.doc") != F.col("b.doc")),
        )
        .select(
            F.least("a.doc", "b.doc").alias("doc_a"),
            F.greatest("a.doc", "b.doc").alias("doc_b"),
            F.bit_count(F.col("a.__sig").bitwiseXOR(F.col("b.__sig"))).alias(
                "hamming"
            ),
        )
        .where(F.col("hamming") <= max_hamming)
        .distinct()
    )


def minhash_lsh_pairs_incremental(
    corpus: DataFrame,
    new_docs: DataFrame,
    index: DataFrame | None = None,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    num_perm: int = 32,
    rows_per_band: int = 4,
    threshold: float = 0.5,
) -> DataFrame:
    """Dedup a NEW batch against an already-indexed corpus: pairs
    (doc_a, doc_b, jaccard) where at least one side is a new doc —
    both new-vs-corpus hits and new-vs-new hits within the batch.

    This is the ingest-time shape of near-dup removal at 100 TB: the
    corpus's ``minhash_band_index`` is computed once and persisted as
    a table; each incoming crawl batch signs only ITS OWN documents
    (O(batch) map work) and probes the index with a (band, sig) join
    — the petabyte corpus is never re-shingled. Verification
    re-derives shingles for HIT corpus docs only (semi-join-pruned),
    so corpus-side I/O scales with the batch's duplication rate, not
    the corpus size.

    ``index`` defaults to building the band index from ``corpus``
    in-plan (convenience for tests/small runs); pass the stored index
    in production. Ids must be unique across corpus ∪ batch; pairs are
    emitted with doc_a < doc_b, matching :func:`minhash_lsh_pairs` on
    the union corpus restricted to pairs touching a new doc. The
    batch's band rows, candidates and candidate shingle sets are
    eager lineage cuts (``_cut``), so building the returned frame
    already runs jobs; :func:`unpersist_all` releases the cuts.
    """
    if index is None:
        index = minhash_band_index(corpus, id_col, text_col, n, num_perm, rows_per_band)
    new_bands = _cut(
        _band_frame(
            minhash_signatures(new_docs, id_col, text_col, n, num_perm),
            id_col,
            num_perm,
            rows_per_band,
        )
    )
    return _lsh_pairs_incremental(
        corpus, new_docs, new_bands, index, id_col, text_col, n, threshold
    )


def _lsh_pairs_incremental(
    corpus: DataFrame | None,
    new_docs: DataFrame,
    new_bands: DataFrame,
    index: DataFrame | None,
    id_col: str,
    text_col: str,
    n: int,
    threshold: float,
) -> DataFrame:
    """:func:`minhash_lsh_pairs_incremental` over the batch's band rows
    ``new_bands`` ((doc, band, sig), cut by the caller, who may reuse
    them — the streaming sink appends the survivors' rows to the index
    from the same cut instead of re-signing the survivors).
    ``corpus=None, index=None`` is a first batch: the only candidates
    come from the batch's own band self-join.

    The distinct candidates are cut, then verified pair by pair
    (:func:`_verify_pairs`, itself one more cut): each cut's consumers
    plan a one-leaf tree, not the nested cached lineage."""
    nb = new_bands.alias("nb")
    # new-vs-new: the batch can duplicate itself
    b2 = new_bands.alias("b2")
    candidates = nb.join(
        b2,
        (F.col("nb.band") == F.col("b2.band"))
        & (F.col("nb.sig") == F.col("b2.sig"))
        & (F.col("nb.doc") < F.col("b2.doc")),
    ).select(F.col("nb.doc").alias("doc_a"), F.col("b2.doc").alias("doc_b"))
    if index is not None:
        # new-vs-corpus: probe the stored index. A replayed index
        # append (crash between the index and corpus writes) holds
        # the batch's own band rows, so the probe pairs a doc with
        # itself; doc_a < doc_b drops that identity pair, which would
        # otherwise verify at Jaccard 1 and remove the doc.
        ix = index.alias("ix")
        cand_old = (
            nb.join(
                ix,
                (F.col("nb.band") == F.col("ix.band"))
                & (F.col("nb.sig") == F.col("ix.sig")),
            )
            .select(
                F.least(F.col("ix.doc"), F.col("nb.doc")).alias("doc_a"),
                F.greatest(F.col("ix.doc"), F.col("nb.doc")).alias("doc_b"),
            )
            .where(F.col("doc_a") < F.col("doc_b"))
        )
        candidates = cand_old.union(candidates)
    # UNLIKE minhash_lsh_pairs, distinct: the probe's candidate set is
    # batch-sized (the ≤ num_bands-fold band repeats and replayed index
    # rows only repeat pairs), _verify_pairs needs each pair once, and
    # the distinct's shuffle is where AQE coalesces the cut to its rows.
    candidates = _cut(candidates.distinct())
    docs = new_docs.select(id_col, text_col)
    if corpus is not None:
        docs = corpus.select(id_col, text_col).union(docs)
    return _verify_pairs(docs, candidates, id_col, text_col, n, threshold)


def simhash(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    bits: int = 64,
) -> DataFrame:
    """64-bit SimHash over distinct tokens: bit b is set when the sum
    of ±1 contributions (parity of an independent per-bit token hash,
    SIMHASH_AB affine family over the portable md5 base hash — see
    MINHASH_AB notes; cross-engine reproducible) is positive.

    Shuffle-free narrow map as ONE expression tree: the md5 base hash
    is materialized per token by a single ``transform`` (the array arg
    of ``aggregate`` is evaluated once — sequential composition inside
    one expression, so the CollapseProject N-sibling re-evaluation
    pitfall can't apply), then one array-state ``aggregate`` folds each
    token hash into all 64 bit-counters via ``zip_with``. Per token:
    1 md5 + 64 affine updates; the prior 64-sibling formulation paid
    64 hashes per token.
    """
    family = SIMHASH_AB if bits <= 64 else _hash_family(bits, seed=4107)
    # parsed SQL literals (optimization r12 — the py4j rationale of
    # minhash_signatures; integer typing/promotion identical)
    ab = F.expr(
        "array("
        + ", ".join(f"struct({a} AS a, {b} AS b)" for a, b in family[:bits])
        + ")"
    )
    toks = F.array_distinct(tokens(text_col))
    base_hashes = F.transform(toks, lambda t: md5_hash60(t) % P_MOD)
    counters = F.aggregate(
        base_hashes,
        F.array_repeat(F.lit(0).cast("long"), bits),
        lambda acc, h: F.zip_with(
            acc,
            ab,
            lambda c, s: c
            + F.when((s["a"] * h + s["b"]) % P_MOD % 2 == 1, 1).otherwise(-1),
        ),
    )
    # Literal powers of two; bit 63 is the two's-complement min value
    # (1<<63 wraps), identical on both engines' signed 64-bit ints.
    pow2 = F.expr(
        "array("
        + ", ".join(
            f"CAST({1 << i if i < 63 else -(1 << 63)} AS BIGINT)"
            for i in range(bits)
        )
        + ")"
    )
    bit_values = F.zip_with(
        counters,
        pow2,
        lambda c, p: F.when(c > 0, p).otherwise(F.lit(0).cast("long")),
    )
    fingerprint = F.aggregate(
        bit_values, F.lit(0).cast("long"), lambda acc, v: acc + v
    )
    return df.select(F.col(id_col), fingerprint.alias("simhash"))


def contamination_check(
    corpus: DataFrame,
    eval_docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    eval_text_col: str | None = None,
    n: int = 3,
    min_overlap: int = 1,
) -> DataFrame:
    """Benchmark decontamination: flag corpus documents that share
    n-gram shingles with an evaluation/benchmark set — the train/test
    overlap check every LLM data pipeline runs before training (the
    n-gram collision methodology popularized by the GPT-3 appendix
    and Gopher/Llama data cards).

    Returns ``(id, n_shingles, n_overlap, overlap_frac)`` for every
    corpus document with at least ``min_overlap`` distinct shingles
    also present in ANY eval document; downstream either drops these
    rows or thresholds on ``overlap_frac``.

    100 TB shape: the corpus side is a narrow projection + shingle
    explode (per-doc ``array_distinct`` in-array, so no ``distinct()``
    shuffle) feeding a BROADCAST join against the eval set's distinct
    grams — the eval set is benchmark-sized (thousands of docs), so
    the corpus stream itself never shuffles; only the HIT rows (a tiny
    fraction) reach the per-doc aggregation. Per-doc set sizes come
    from a second shuffle-free scan; its join with the hit frame is
    deliberately UNHINTED (like the curation removal-set joins): the
    hit side's size scales with the contamination rate, so AQE picks
    the actually-smaller side at runtime instead of a hint hard-coding
    an assumption. Nothing corpus-sized crosses an exchange.
    """
    eval_text = eval_text_col or text_col
    eval_grams = (
        eval_docs.select(
            F.explode(F.array_distinct(shingles(eval_text, n))).alias("shingle")
        ).distinct()
    )
    corpus_sh = _doc_shingles(corpus, id_col, text_col, n)
    hits = corpus_sh.join(F.broadcast(eval_grams), "shingle")
    # corpus shingles are per-doc distinct already (array_distinct
    # before the explode), so a plain count IS the set-overlap size
    overlap = hits.groupBy("doc").agg(F.count(F.lit(1)).alias("n_overlap"))
    sizes = corpus.select(
        F.col(id_col).alias("doc"),
        F.size(F.array_distinct(shingles(text_col, n))).alias("n_shingles"),
    )
    return (
        overlap.where(F.col("n_overlap") >= min_overlap)
        .join(sizes, "doc")
        .select(
            F.col("doc").alias(id_col),
            "n_shingles",
            "n_overlap",
            F.round(
                F.col("n_overlap") / F.greatest(F.col("n_shingles"), F.lit(1)), 6
            ).alias("overlap_frac"),
        )
    )


def dedup_spans(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 8,
    policy: str = "remove_all",
) -> DataFrame:
    """Cross-document exact-substring (span) dedup — the sequence-
    level tier from "Deduplicating Training Data Makes Language Models
    Better" (Lee et al., 2022): any run of ≥ ``n`` tokens appearing in
    two or more documents is removed from EVERY document (the paper's
    remove-all-copies policy; doc-level tiers like MinHash keep one
    representative of whole near-dup documents, this removes the
    boilerplate/quotation spans those tiers cannot see). Within-doc
    repeats are out of scope (``functions.text.dedup_lines`` covers
    the line-level case).

    ``policy="keep_first"`` keeps each duplicated n-gram occurrence in
    the LOWEST-id document carrying it and cuts it everywhere else —
    the paper's other policy, preserving one intact copy of shared
    boilerplate (note adjacent grams of one long span can have
    different min-id keepers, so a long span's surviving copy can be
    split across documents; remove_all has no such seam).

    Returns ``(id, cleaned, n_tokens_removed)`` where ``cleaned`` is
    the surviving tokens joined by single spaces (whitespace
    normalizes — the same contract as the n-gram operators).

    Spark-first shape instead of the paper's monolithic suffix array:
    token n-gram starts keyed by md5 (map-side, no python), one
    map-side-combined aggregation finds grams spanning ≥2 documents,
    a semi-join keeps only duplicated starts (its small side is
    unhinted — AQE broadcasts when the duplication rate is low), and
    the per-document removal mask is a JVM higher-order filter: token
    j survives iff no duplicated start q lies in (j-n, j]. The mask
    is O(tokens × starts) per document — starts are duplicated-span
    starts only, bounded by tokens, and upstream chunking bounds
    document length at 100 TB; nothing here is all-pairs.
    """
    if policy not in ("remove_all", "keep_first"):
        raise ValueError(f"policy must be remove_all|keep_first, got {policy!r}")
    toks = tokens(text_col)
    grams = df.select(
        F.col(id_col).alias("doc"),
        F.posexplode(shingles(text_col, n)).alias("pos0", "sh"),
    ).select("doc", (F.col("pos0") + 1).alias("i"), F.md5("sh").alias("gh"))
    dup = (
        grams.groupBy("gh")
        .agg(
            F.count_distinct("doc").alias("ndocs"),
            F.min("doc").alias("keeper"),
        )
        .where(F.col("ndocs") >= 2)
        .select("gh", "keeper")
    )
    if policy == "keep_first":
        hit = grams.join(dup, "gh").where(F.col("doc") != F.col("keeper"))
    else:
        hit = grams.join(dup.select("gh"), "gh", "left_semi")
    starts = hit.groupBy("doc").agg(
        F.sort_array(F.collect_set("i")).alias("starts")
    )
    base = df.select(F.col(id_col), toks.alias("__toks")).join(
        starts.withColumnRenamed("doc", id_col), id_col, "left"
    )
    st = F.coalesce(F.col("starts"), F.array().cast("array<int>"))
    kept = F.filter(
        F.col("__toks"),
        lambda t, j: ~F.exists(st, lambda q: (q <= j + 1) & (q > j + 1 - n)),
    )
    return base.select(
        F.col(id_col),
        F.array_join(kept, " ").alias("cleaned"),
        (F.size("__toks") - F.size(kept)).cast("long").alias("n_tokens_removed"),
    )


def dedup_boilerplate_segments(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_docs: int = 2,
    split_pattern: str = "\n",
    joiner: str = "\n",
    policy: str = "remove_all",
) -> DataFrame:
    """Corpus-level boilerplate segment removal — the line-dedup tier
    of CCNet / RefinedWeb: any exact non-blank segment (line by
    default) appearing in at least ``min_docs`` DISTINCT documents is
    boilerplate (cookie banners, nav menus, license headers) and is
    cut from every document (``policy="remove_all"``) or kept only in
    the lowest-id document carrying it (``policy="keep_first"`` — all
    of that document's occurrences survive).

    Complements the family: ``functions.text.dedup_lines`` is
    WITHIN-document, :func:`dedup_spans` is fixed-length token runs at
    threshold 2 — this is whole-segment identity with a configurable
    document-frequency threshold. Blank segments are structure, never
    counted and never removed. ``split_pattern`` is a Java regex;
    ``joiner`` must be the literal the pattern matches (the default
    newline pair round-trips untouched text exactly).

    Returns ``(id, cleaned, n_segments_removed)``.

    Scale shape: segments key by md5 (map-side), ONE map-side-combined
    aggregation finds cross-doc segments, hits aggregate to a per-doc
    removal-index set (bounded by each doc's boilerplate hits, not its
    length), and the removal itself is a JVM higher-order filter after
    an id-keyed join whose small side scales with the duplication
    rate (unhinted — AQE broadcasts when small). The corpus text
    never re-shuffles; nothing is all-pairs.
    """
    if policy not in ("remove_all", "keep_first"):
        raise ValueError(f"policy must be remove_all|keep_first, got {policy!r}")
    if min_docs < 2:
        raise ValueError(f"min_docs must be >= 2, got {min_docs}")
    segs = F.split(F.col(text_col), split_pattern)
    ex = (
        df.select(F.col(id_col).alias("doc"), F.posexplode(segs).alias("pos0", "seg"))
        .where(F.trim(F.col("seg")) != "")
        .select("doc", (F.col("pos0") + 1).alias("i"), F.md5(F.col("seg")).alias("sh"))
    )
    dup = (
        ex.groupBy("sh")
        .agg(F.count_distinct("doc").alias("ndocs"), F.min("doc").alias("keeper"))
        .where(F.col("ndocs") >= min_docs)
        .select("sh", "keeper")
    )
    if policy == "keep_first":
        hit = ex.join(dup, "sh").where(F.col("doc") != F.col("keeper"))
    else:
        hit = ex.join(dup.select("sh"), "sh", "left_semi")
    rm = hit.groupBy("doc").agg(F.sort_array(F.collect_set("i")).alias("rm"))
    base = df.select(F.col(id_col), segs.alias("__segs")).join(
        rm.withColumnRenamed("doc", id_col), id_col, "left"
    )
    rmc = F.coalesce(F.col("rm"), F.array().cast("array<int>"))
    kept = F.filter(
        F.col("__segs"), lambda s, j: ~F.exists(rmc, lambda q: q == j + 1)
    )
    return base.select(
        F.col(id_col),
        F.array_join(kept, joiner).alias("cleaned"),
        (F.size("__segs") - F.size(kept)).cast("long").alias("n_segments_removed"),
    )


def fuzzy_match_pairs(
    df: DataFrame,
    name_col: str,
    block_expr: "F.Column | None" = None,
    max_distance: int = 2,
) -> DataFrame:
    """Entity-resolution candidate pairs: DISTINCT values of
    ``name_col`` whose Levenshtein edit distance is at most
    ``max_distance``, compared only WITHIN blocks (``block_expr``,
    default: the value's last whitespace-delimited token — swap in a
    phonetic key or a prefix per workload). The typo/variant-spelling
    tier of the dedup family: exact/normalized dedup miss
    "Jon Smith" vs "John Smith"; this catches them without an
    all-pairs scan.

    Returns ``(name_a, name_b, distance)`` with ``name_a < name_b``.

    Scale shape: the pair join runs over the DISTINCT-name table (the
    entity vocabulary, orders of magnitude smaller than the record
    count), and only within blocks — pair volume is Σ|block|², which
    the block key must keep bounded (same contract as every LSH band
    here; a degenerate block key degenerates to all-pairs, so pick
    one with bounded selectivity). Levenshtein is JVM-side on Spark
    and built-in on DuckDB with identical unit-cost semantics, so the
    distances hash-match cross-engine.
    """
    if max_distance < 1:
        raise ValueError(f"max_distance must be >= 1, got {max_distance}")
    # block_expr is resolved against the CALLER's frame (write it over
    # your own column names, e.g. F.soundex("p_name")); the default
    # blocks on name_col's last whitespace-delimited token
    blk = (
        block_expr
        if block_expr is not None
        else F.element_at(F.split(F.col(name_col), r"\s+"), -1)
    )
    names = df.select(F.col(name_col).alias("name"), blk.alias("blk")).distinct()
    a = names.alias("a")
    b = names.alias("b")
    return (
        a.join(b, (F.col("a.blk") == F.col("b.blk")) & (F.col("a.name") < F.col("b.name")))
        .select(
            F.col("a.name").alias("name_a"),
            F.col("b.name").alias("name_b"),
            F.levenshtein(F.col("a.name"), F.col("b.name")).alias("distance"),
        )
        .where(F.col("distance") <= max_distance)
    )


def resolve_entities(
    df: DataFrame,
    name_col: str,
    block_expr: "F.Column | None" = None,
    max_distance: int = 2,
) -> DataFrame:
    """Entity resolution end-to-end over the values of ``name_col``:
    fuzzy-match pairs (:func:`fuzzy_match_pairs`) → connected
    components (``corpus.dup_clusters`` pointer jumping) → canonical
    spelling per cluster = the lexicographically smallest variant
    ("min-id" survivor, names being the ids here).

    Returns the resolution MAP ``(name, canonical)`` with one row per
    DISTINCT name; names in no fuzzy cluster map to themselves, so the
    map is total and joining it onto the record stream on ``name``
    rewrites every record to its canonical entity (the q86 oracle
    mirrors the whole chain as a recursive CTE).

    Scale shape: every stage runs over the distinct-name VOCABULARY
    (orders of magnitude under the record count); the pair volume is
    bounded by the block key (see :func:`fuzzy_match_pairs`), and the
    component loop is O(log diameter) rounds over a pairs-sized edge
    list. Nothing record-sized shuffles until the caller joins the
    map back — and that join broadcasts whenever the vocabulary fits.
    """
    from dataflow_python_etl_spark.operators.corpus import dup_clusters

    pairs = fuzzy_match_pairs(df, name_col, block_expr, max_distance)
    clusters = dup_clusters(pairs, "name_a", "name_b").withColumnRenamed(
        "node", "name"
    )
    names = df.select(F.col(name_col).alias("name")).where(
        F.col("name").isNotNull()
    ).distinct()
    return names.join(clusters, "name", "left").select(
        "name", F.coalesce(F.col("cluster"), F.col("name")).alias("canonical")
    )


def resolve_and_merge_entities(
    target: DataFrame,
    records: DataFrame,
    name_col: str,
    id_col: str,
    count_col: str = "n_records",
    block_expr: "F.Column | None" = None,
    max_distance: int = 2,
) -> DataFrame:
    """Survivorship MERGE: resolve the incoming ``records`` batch with
    :func:`resolve_entities`, collapse it to one survivor row per
    canonical entity (min ``id_col``, record count), and MERGE into
    the entity table ``target`` (schema ``(name_col, id_col,
    count_col)``): matched entities keep their smallest id and add the
    batch's record count; new entities insert. This is the dedup-tier
    → curate_corpus pattern applied to the upsert surface — the same
    ``merge_df`` one-full-outer-join plan (and its duplicate-source
    guard) the CDC family uses, so the batch cannot apply a
    nondeterministic one-of-N update.
    """
    from dataflow_python_etl_spark.operators.upsert import merge_df

    mapping = resolve_entities(records, name_col, block_expr, max_distance)
    survivors = (
        records.join(
            mapping.withColumnRenamed("name", name_col), name_col
        )
        .groupBy(F.col("canonical").alias(name_col))
        .agg(
            F.min(id_col).alias(id_col),
            F.count(F.lit(1)).cast("long").alias(count_col),
        )
    )
    return merge_df(
        target,
        survivors,
        [name_col],
        when_matched_update={
            id_col: F.least(F.col(f"t.{id_col}"), F.col(f"s.{id_col}")),
            count_col: F.col(f"t.{count_col}") + F.col(f"s.{count_col}"),
        },
        when_not_matched_insert={
            name_col: F.col(f"s.{name_col}"),
            id_col: F.col(f"s.{id_col}"),
            count_col: F.col(f"s.{count_col}"),
        },
    )
