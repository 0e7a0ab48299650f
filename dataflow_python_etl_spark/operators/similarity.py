"""Similarity search over embedding columns (``array<float>``)
— BASELINE.json north star; SURVEY.md §2.4.

Two tiers:
- :func:`cosine_topk` — exact brute force: broadcast the (small) query
  set against the full corpus; one narrow pass, no shuffle except the
  final top-k window. The correctness baseline.
- :func:`rp_lsh_buckets` / :func:`cosine_pairs_lsh` — signed
  random-projection LSH: band the sign bits of fixed hyperplane
  projections; only same-bucket vectors meet. This is the 100 TB
  path: candidate generation is a map + an equi-join on (band, key),
  then exact cosine verifies, so the output has exact scores and no
  false positives (recall is the documented band-geometry trade-off).

The hyperplanes are module-level constants generated once from a
fixed seed and inlined as literals — deterministic across engines, so
the DuckDB oracle can reproduce bucket assignment bit-for-bit.

Constructions are the standard public ones: random-hyperplane LSH for
cosine similarity (Charikar 2002), inverted-file (IVF) coarse
quantization, SQ8 scalar quantization, and per-subspace product
quantization for ANN (Jégou/Douze/Schmid, "Product quantization for
nearest neighbor search", TPAMI 2011).
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from dataflow_python_etl_spark.functions.vectors import (
    as_double_array,
    as_double_array_sql,
    cosine,
    darr,
    dlit,
    dot,
    dot_sql,
    l2_norm,
)

EMBED_DIM = 64
# 8 bands × 3 planes, chosen empirically for the declared τ=0.45:
# measured recall vs exact pairs = 0.86 / 1.00 / 0.94 at sf0.001/0.01/0.1
# (the round-1 4×4 geometry recalled only 0.54-0.62). At such a low
# threshold (63° angle) banding is inherently unselective — ≥80% recall
# costs ~2/3 of all pairs as candidates whatever the geometry — so the
# operator scores WITHIN buckets with a vectorized kernel instead of
# materializing candidate pairs through a join (see cosine_pairs_lsh).
NUM_PLANES = 24
PLANES_PER_BAND = 3


def _gen_planes(dim: int = EMBED_DIM, n: int = NUM_PLANES, seed: int = 7) -> list[list[float]]:
    rng = np.random.RandomState(seed)
    # Round so the literal text is short and identical in Spark + SQL.
    return [[round(float(v), 6) for v in rng.randn(dim)] for _ in range(n)]


PLANES: list[list[float]] = _gen_planes()


def cosine_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact top-k neighbors for each query vector.

    ``queries`` is expected to be small (it is broadcast); the corpus
    streams through one narrow stage computing cosines, then a per-
    query top-k window. Ties broken by neighbor id for determinism.
    Returns (query_id, neighbor_id, cos_sim).
    """
    # Norms are computed ONCE per vector before the pair fan-out (the
    # naive cosine() recomputes both norms for every pair — 3× the
    # flops). Same formula, same summation order → same doubles.
    q = queries.select(
        F.col(id_col).alias("query_id"), as_double_array(vec_col).alias("qv")
    ).withColumn("qn", l2_norm(F.col("qv")))
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"), as_double_array(vec_col).alias("cv")
    ).withColumn("cn", l2_norm(F.col("cv")))
    scored = (
        c.join(F.broadcast(q), F.col("neighbor_id") != F.col("query_id"))
        .withColumn(
            "cos_sim",
            F.round(dot(F.col("qv"), F.col("cv")) / (F.col("qn") * F.col("cn")), 6),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos_sim").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= k)
        .select("query_id", "neighbor_id", "cos_sim")
    )


def hard_negatives(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
) -> DataFrame:
    """Hard-negative mining for contrastive/metric training: for each
    anchor (query), the ``k`` most cosine-similar corpus vectors with
    a DIFFERENT label — the near-miss negatives that carry the
    gradient signal random negatives don't (the in-batch/ANCE-family
    mining step every embedding-training pipeline runs over its
    corpus). Returns ``(query_id, anchor_label, neighbor_id,
    neighbor_label, cos_sim)``.

    Same shape and float discipline as :func:`cosine_topk` (anchors
    broadcast, one narrow corpus pass, rounded-6 scores, id
    tie-break) plus the label-mismatch predicate IN the join — a
    same-label pair never materializes, so the top-k window ranks
    negatives only. NULL labels match nothing (eqNullSafe negated
    would pair NULL anchors with every labeled row — the join uses a
    plain ``!=``, so NULL-labeled rows simply produce no pairs on
    either side, documented). At scale, swap the brute-force pass for
    the IVF index scan and keep the same predicate."""
    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(label_col).alias("anchor_label"),
        as_double_array(vec_col).alias("qv"),
    ).withColumn("qn", l2_norm(F.col("qv")))
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(label_col).alias("neighbor_label"),
        as_double_array(vec_col).alias("cv"),
    ).withColumn("cn", l2_norm(F.col("cv")))
    scored = c.join(
        F.broadcast(q),
        (F.col("neighbor_id") != F.col("query_id"))
        & (F.col("neighbor_label") != F.col("anchor_label")),
    ).withColumn(
        "cos_sim",
        F.round(dot(F.col("qv"), F.col("cv")) / (F.col("qn") * F.col("cn")), 6),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos_sim").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= k)
        .select(
            "query_id", "anchor_label", "neighbor_id", "neighbor_label", "cos_sim"
        )
    )


def _band_keys(vec_sql: str) -> list[F.Column]:
    """One string key per band: the concatenated sign bits of that
    band's hyperplane projections, over the SQL text of the vector
    expression. Each band renders as ONE parsed expression
    (optimization r12: the Column-API spelling cost
    NUM_PLANES × (dim + ~6) py4j literal round-trips per plan build;
    Catalyst tree and doubles identical)."""
    keys = []
    for band in range(NUM_PLANES // PLANES_PER_BAND):
        bits = []
        for p in range(band * PLANES_PER_BAND, (band + 1) * PLANES_PER_BAND):
            bits.append(
                f"(CASE WHEN {dot_sql(vec_sql, darr(PLANES[p]))} >= 0 "
                "THEN '1' ELSE '0' END)"
            )
        keys.append(F.expr("concat(" + ", ".join(bits) + ")"))
    return keys


def rp_lsh_buckets(
    df: DataFrame, id_col: str = "vec_id", vec_col: str = "embedding"
) -> DataFrame:
    """(id, band, bucket_key) — the LSH index. Pure map stage."""
    vec = as_double_array(vec_col)
    keys = _band_keys(as_double_array_sql(vec_col))
    return df.select(
        F.col(id_col),
        vec.alias("__v"),
        F.explode(
            F.array(*[
                F.struct(F.lit(i).alias("band"), k.alias("bucket"))
                for i, k in enumerate(keys)
            ])
        ).alias("bb"),
    ).select(id_col, "bb.band", "bb.bucket", "__v")


def cosine_pairs_lsh(
    df: DataFrame,
    threshold: float = 0.45,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Near-dup pairs (cosine ≥ threshold) among LSH candidates.

    Scoring happens INSIDE each (band, bucket) group with one
    Arrow-batched numpy kernel (pairwise matmul per bucket) — candidate
    pairs are never materialized through a join, never shuffled, and
    never touched one at a time by interpreted expressions. The only
    wide ops are the bucket groupBy (vector payload replicated once per
    band — the standard LSH signature-replication cost, linear in
    corpus size) and a tiny distinct over the above-threshold output
    pairs (the same pair surfaces in every band where it collides; the
    score is bit-identical, so distinct collapses them).

    Skew note: bucket population concentrates when the corpus has a
    dominant direction; with random hyperplanes the 2^planes keys per
    band stay balanced. A hot bucket degrades one task to O(k²) — cap
    it by adding planes per band (more, smaller buckets) at the recall
    cost the module constants document.

    Output (id_a, id_b, cos_sim) with id_a < id_b; scores exact
    (float64, round-6), recall bounded by band geometry.
    """
    import numpy as np
    import pandas as pd
    from pyspark.sql import types as T

    # Preserve the caller's id type (long, string, UUID…): the output
    # schema mirrors the input column, and the kernel never forces a
    # numeric dtype — np.minimum/np.maximum order object arrays with
    # the elements' own comparison.
    id_type = df.schema[id_col].dataType
    out_schema = T.StructType(
        [
            T.StructField("id_a", id_type),
            T.StructField("id_b", id_type),
            T.StructField("cos_sim", T.DoubleType()),
        ]
    )

    def bucket_pairs(pdf: pd.DataFrame) -> pd.DataFrame:
        ids = pdf[id_col].to_numpy()
        if len(ids) < 2:
            return pd.DataFrame(
                {"id_a": ids[:0], "id_b": ids[:0], "cos_sim": np.array([], dtype=np.float64)}
            )
        mat = np.array(list(pdf["__v"]), dtype=np.float64)
        norms = np.linalg.norm(mat, axis=1)
        sims = np.round((mat @ mat.T) / np.outer(norms, norms), 6)
        iu = np.triu_indices(len(ids), 1)
        keep = sims[iu] >= threshold
        ia, ib = ids[iu[0][keep]], ids[iu[1][keep]]
        return pd.DataFrame(
            {
                "id_a": np.minimum(ia, ib),
                "id_b": np.maximum(ia, ib),
                "cos_sim": sims[iu][keep],
            }
        )

    buckets = rp_lsh_buckets(df, id_col, vec_col)
    return (
        buckets.groupBy("band", "bucket")
        .applyInPandas(bucket_pairs, out_schema)
        .distinct()
    )


# --- IVF with a fitted coarse quantizer ------------------------------------

def fit_ivf_centroids(
    df: DataFrame,
    k: int = 8,
    vec_col: str = "embedding",
    sample_fraction: float | None = None,
    max_iter: int = 20,
    seed: int = 7,
) -> list[list[float]]:
    """Spherical k-means fit of the IVF coarse quantizer.

    Vectors are L2-normalized before the (Euclidean) k-means fit, so
    nearest-centroid-by-dot-product equals nearest-by-angle — the
    right quantizer for cosine search. At 100 TB you fit on a sample
    (``sample_fraction``): k-means centroids converge on a few million
    points, and the full corpus never shuffles — only the k×dim
    centroid matrix (a few KB) comes back to the driver, which is the
    one artifact that SHOULD broadcast.

    Returns row-normalized centroids as plain Python lists, ready for
    :func:`ivf_topk` / inlining as plan literals.
    """
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.feature import Normalizer
    from pyspark.ml.functions import array_to_vector

    # Normalizer (p=2) works on the ml vector, computing each row's
    # norm once — a transform(x / l2_norm(col)) expression would
    # re-evaluate the norm per ELEMENT (the CollapseProject pitfall).
    data = df.select(array_to_vector(as_double_array(vec_col)).alias("raw"))
    if sample_fraction is not None:
        data = data.sample(fraction=sample_fraction, seed=seed)
    data = Normalizer(inputCol="raw", outputCol="features", p=2.0).transform(data)
    model = KMeans(k=k, maxIter=max_iter, seed=seed).fit(data)
    cents = []
    for c in model.clusterCenters():
        arr = np.asarray(c, dtype=np.float64)
        nrm = float(np.linalg.norm(arr)) or 1.0
        cents.append([round(float(x) / nrm, 6) for x in arr])
    return cents


def _centroid_dots(vec_sql: str, centroids: list[list[float]]) -> F.Column:
    """array<double> of dot(vec, centroid_i) over the SQL text of the
    vector expression. Centroids are unit-norm, so argmax-dot ==
    nearest-by-cosine without per-row norm division (the row norm is a
    positive constant across the K scores). Rendered as ONE F.expr —
    the Column-API spelling cost K×D py4j literal round-trips per plan
    build (optimization r12; tree and doubles identical)."""
    return F.expr(
        "array(" + ", ".join(dot_sql(vec_sql, darr(c)) for c in centroids) + ")"
    )


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    centroids: list[list[float]],
    k: int = 3,
    n_probe: int = 1,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF ANN: per query, search only the ``n_probe`` nearest
    centroid cells instead of the corpus — each probe touches ~1/K of
    the data, the multi-probe knob buys recall back at the cell
    boundary (the classic IVF trade; ``n_probe=len(centroids)``
    degenerates to exact brute force, which tests pin against
    :func:`cosine_topk`).

    The corpus partitions by cell assignment (a pure map — one dot
    product per centroid per row); queries explode to their n_probe
    cells and broadcast (a query batch is structurally small). Scoring
    reuses precomputed norms; output (query_id, neighbor_id, cos_sim),
    ties broken by neighbor id.
    """
    kcells = len(centroids)
    n_probe = min(n_probe, kcells)

    cv = as_double_array(vec_col)
    # single-pass argmax: one aggregate over the zipped (dot, index)
    # array references the K-dot expression ONCE — the sibling
    # array_position(dots, array_max(dots)) spelling evaluates the
    # interpreted dot array twice per corpus row (CLAUDE.md pitfall),
    # doubling the map stage that touches 100% of the corpus. Strict
    # `>` keeps the first index on ties, matching array_position.
    kcells_seq = F.sequence(F.lit(1), F.lit(len(centroids)))
    argmax_cell = lambda vec_sql: F.aggregate(  # noqa: E731
        F.arrays_zip(
            _centroid_dots(vec_sql, centroids).alias("s"), kcells_seq.alias("i")
        ),
        F.struct(
            F.lit(float("-inf")).alias("s"), F.lit(0).cast("integer").alias("i")
        ),
        lambda acc, x: F.when(x["s"] > acc["s"], x).otherwise(acc),
        lambda acc: acc["i"],
    )
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"), cv.alias("cvec")
    ).withColumn("cid", argmax_cell("cvec")).withColumn(
        "cn", l2_norm(F.col("cvec"))
    )

    # top-n_probe cells per query: sort (dot, index) pairs by dot
    # descending with an index tie-break, slice, explode
    dots = _centroid_dots(as_double_array_sql(vec_col), centroids)
    ranked = F.array_sort(
        F.arrays_zip(dots.alias("s"), F.sequence(F.lit(1), F.lit(kcells)).alias("i")),
        lambda l, r: F.when(l["s"] > r["s"], -1)
        .when(l["s"] < r["s"], 1)
        .otherwise((l["i"] - r["i"]).cast("int")),
    )
    probes = F.slice(F.transform(ranked, lambda x: x["i"]), 1, n_probe)
    q = (
        queries.select(
            F.col(id_col).alias("query_id"),
            as_double_array(vec_col).alias("qvec"),
            F.explode(probes).alias("cid"),
        )
        .withColumn("qn", l2_norm(F.col("qvec")))
    )

    scored = (
        c.join(F.broadcast(q), c.cid == q.cid)
        .where(F.col("neighbor_id") != F.col("query_id"))
        .withColumn(
            "cos_sim",
            F.round(dot(F.col("qvec"), F.col("cvec")) / (F.col("qn") * F.col("cn")), 6),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos_sim").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= k)
        .select("query_id", "neighbor_id", "cos_sim")
    )


def _assigned(
    corpus: DataFrame,
    centroids: list[list[float]],
    id_col: str,
    vec_col: str,
) -> DataFrame:
    """(neighbor_id, cvec, cn, cid) rows: each vector with its nearest
    centroid cell and precomputed norm — the IVF inverted-file shape
    shared by the full build and the incremental append."""
    kcells_seq = F.sequence(F.lit(1), F.lit(len(centroids)))
    argmax_cell = F.aggregate(
        F.arrays_zip(
            _centroid_dots("cvec", centroids).alias("s"), kcells_seq.alias("i")
        ),
        F.struct(F.lit(float("-inf")).alias("s"), F.lit(0).cast("integer").alias("i")),
        lambda acc, x: F.when(x["s"] > acc["s"], x).otherwise(acc),
        lambda acc: acc["i"],
    )
    return (
        corpus.select(
            F.col(id_col).alias("neighbor_id"),
            as_double_array(vec_col).alias("cvec"),
        )
        .withColumn("cid", argmax_cell)
        .withColumn("cn", l2_norm(F.col("cvec")))
    )


def _quantize_int8(assigned: DataFrame) -> DataFrame:
    """Asymmetric scalar quantization (SQ8) of the inverted file: each
    vector stored as ``array<tinyint>`` + one per-vector ``qscale``
    (max-abs / 127), with the TRUE norm kept from pre-quantization.

    dot(query_fp64, dequant(corpus_int8)) = qscale · Σ qᵢ·intᵢ — the
    query stays full-precision (asymmetric distance), so the only
    error is the corpus rounding (≤ 0.4% per component at int8). The
    payoff is the index shrinking ~4-8× on disk: at 100 TB the probe
    cost is I/O-bound on the inverted file, so SQ8 cuts the per-query
    read proportionally (standard IVF+SQ recipe, Jégou et al. 2011
    family; scalar not product quantization to stay in pure JVM
    expressions)."""
    scale = F.greatest(
        F.aggregate(
            F.col("cvec"), F.lit(0.0), lambda a, x: F.greatest(a, F.abs(x))
        ) / F.lit(127.0),
        F.lit(1e-12),  # zero vectors: any scale maps 0 -> 0
    )
    return assigned.withColumn("qscale", scale).select(
        "neighbor_id",
        "cid",
        "cn",
        "qscale",
        F.transform(
            F.col("cvec"), lambda x: F.round(x / F.col("qscale")).cast("tinyint")
        ).alias("qvec"),
    )


# --- Product quantization (PQ) tier ---------------------------------------
#
# Jégou/Douze/Schmid 2011: split each D-dim vector into M subvectors of
# D/M dims; per subspace, fit a small codebook (k-means) and store only
# the per-subspace code — M bytes per vector. This is the memory regime
# below SQ8: int8 still costs D bytes/vector, PQ costs M (< D) bytes at
# a coarser (codebook-bounded) reconstruction error.

PQ_SIDECAR = "_pq_codebooks.json"  # "_"-prefixed: Spark scans skip it
CENTROID_SIDECAR = "_centroids.json"  # ditto — makes the index self-describing


def fit_pq_codebooks(
    df: DataFrame,
    m: int = 8,
    ksub: int = 16,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    sample_rows: int = 100_000,
    max_iter: int = 20,
    seed: int = 7,
) -> list[list[list[float]]]:
    """Fit the M per-subspace PQ codebooks: shape (m, ksub, D/m).

    Driver-side numpy Lloyd iterations over a BOUNDED sample
    (``orderBy(id) LIMIT sample_rows`` — deterministic, unlike a bare
    ``limit``): codebooks converge on ~10⁵ points the same way IVF
    centroids do, so the collect is sample-bounded by contract (the
    same rationale as the Arrow query-matrix collect above). Vectors
    are fit RAW (not normalized): scoring approximates
    ``dot(query, x_raw)`` and divides by the stored true norm.

    ``ksub`` ≤ 128 so codes fit ``tinyint``; entries round to 6
    decimals (short stable plan literals, cross-engine reproducible).
    Seeded init + fixed iteration order ⇒ deterministic across runs.
    """
    if ksub < 2 or ksub > 128:
        raise ValueError(f"ksub must be in [2, 128] (tinyint codes), got {ksub}")
    rows = (
        df.select(F.col(id_col), as_double_array(vec_col).alias("v"))
        .orderBy(id_col)
        .limit(sample_rows)
        .collect()
    )
    X = np.array([r["v"] for r in rows], dtype=np.float64)
    if X.ndim != 2 or X.shape[0] < ksub:
        raise ValueError(
            f"need at least ksub={ksub} sample vectors to fit PQ, got {X.shape}"
        )
    dim = X.shape[1]
    if dim % m != 0:
        raise ValueError(f"vector dim {dim} not divisible by m={m} subspaces")
    dsub = dim // m
    rng = np.random.RandomState(seed)
    books: list[list[list[float]]] = []
    for mi in range(m):
        S = X[:, mi * dsub : (mi + 1) * dsub]
        C = S[rng.choice(len(S), size=ksub, replace=False)].copy()
        for _ in range(max_iter):
            # ||s-c||² = ||s||² - 2 s·c + ||c||²; the ||s||² term is
            # constant per row, so argmin needs only the last two
            d2 = (C * C).sum(axis=1)[None, :] - 2.0 * (S @ C.T)
            assign = d2.argmin(axis=1)
            for c in range(ksub):
                pts = S[assign == c]
                if len(pts):
                    C[c] = pts.mean(axis=0)
                else:  # empty cluster: re-seed at the worst-fit point
                    C[c] = S[(d2.min(axis=1)).argmax()]
        books.append([[round(float(x), 6) for x in row] for row in C])
    return books


def _pq_shape(codebooks: list[list[list[float]]]) -> tuple[int, int, int]:
    m = len(codebooks)
    ksub = len(codebooks[0])
    dsub = len(codebooks[0][0])
    if any(len(cb) != ksub or any(len(c) != dsub for c in cb) for cb in codebooks):
        raise ValueError("ragged PQ codebooks")
    return m, ksub, dsub


def _quantize_pq(assigned: DataFrame, codebooks: list[list[list[float]]]) -> DataFrame:
    """Encode each vector as M tinyint codes (nearest codebook entry
    per subspace). Pure JVM expressions: per subspace, argmin L2 ==
    argmax of (dot(sub, c) − ||c||²/2) with the ||c||²/2 term folded
    to a literal — the same single-pass aggregate-argmax used for
    cell assignment (first index wins ties). One-time map-side build
    cost: M·ksub short dots per row."""
    m, ksub, dsub = _pq_shape(codebooks)
    codes = []
    for mi, cb in enumerate(codebooks):
        # ONE parsed SQL expression per subspace (optimization r12):
        # the Column-API spelling paid m·ksub·(dsub+2) py4j literal
        # round-trips per plan build — 3.5 s of pure driver time per
        # _quantize_pq call at m=8, ksub=16. Identical Catalyst tree.
        sub = f"slice(cvec, {mi * dsub + 1}, {dsub})"
        scores = F.expr(
            "array("
            + ", ".join(
                f"({dot_sql(sub, darr(c))} - {dlit(sum(x * x for x in c) / 2.0)})"
                for c in cb
            )
            + ")"
        )
        code = F.aggregate(
            F.arrays_zip(
                scores.alias("s"), F.sequence(F.lit(1), F.lit(ksub)).alias("i")
            ),
            F.struct(
                F.lit(float("-inf")).alias("s"), F.lit(0).cast("integer").alias("i")
            ),
            lambda acc, x: F.when(x["s"] > acc["s"], x).otherwise(acc),
            lambda acc: acc["i"] - 1,
        )
        codes.append(code.cast("tinyint"))
    return assigned.select(
        "neighbor_id", "cid", "cn", F.array(*codes).alias("pq_codes")
    )


def _pq_reconstruct(
    codes: str | F.Column, codebooks: list[list[list[float]]]
) -> F.Column:
    """Dequantize M codes back to a D-dim array<double> by literal
    codebook lookup (element_at over an array-of-arrays literal per
    subspace) — the scoring side then reuses the plain ``dot``.
    ``codes`` is the SQL text of the codes column (preferred: the
    whole reconstruction renders as ONE parsed expression — the
    Column-API LUT cost m·ksub·dsub py4j literal round-trips, measured
    7.7 s of the 10.7 s q163 plan build; tree and doubles identical)
    or a Column for ad-hoc/expression callers."""
    if not isinstance(codes, str):
        parts_c = []
        for mi, cb in enumerate(codebooks):
            lut = F.expr("array(" + ", ".join(darr(c) for c in cb) + ")")
            parts_c.append(
                F.element_at(lut, F.element_at(codes, mi + 1).cast("int") + 1)
            )
        return F.flatten(F.array(*parts_c))
    parts = ", ".join(
        "element_at("
        + "array(" + ", ".join(darr(c) for c in cb) + ")"
        + f", CAST(element_at({codes}, {mi + 1}) AS INT) + 1)"
        for mi, cb in enumerate(codebooks)
    )
    return F.expr(f"flatten(array({parts}))")


def load_pq_codebooks(path: str) -> list[list[list[float]]]:
    """Read the codebook sidecar a ``quantize='pq'`` build wrote into
    the index dir (named with a ``_`` prefix, so corpus scans never
    see it). Loud if absent — a PQ index without its codebooks is
    undecodable."""
    import os

    from dataflow_python_etl_spark.operators.upsert import _read_marker

    codebooks = _read_marker(os.path.join(path, PQ_SIDECAR))
    if codebooks is None:
        raise ValueError(
            f"PQ index at {path} has no {PQ_SIDECAR} sidecar — it was not "
            "built by build_ivf_index(quantize='pq'), or the sidecar was lost "
            "(rebuild the index)"
        )
    return codebooks


def fit_pq_grid_codebooks(
    dim: int = EMBED_DIM,
    m: int = 32,
    levels: int = 8,
    lo: float = -1.0,
    hi: float = 1.0,
) -> list[list[list[float]]]:
    """Data-INDEPENDENT PQ codebooks: per-subspace rectangular grids.

    Each of the ``m`` subspaces (``dsub = dim/m`` dims) gets the same
    codebook: the row-major Cartesian product of ``levels`` per-dim
    cell CENTERS ``lo + (i + 0.5) * step`` over ``[lo, hi)``,
    ``step = (hi - lo) / levels``. Unlike :func:`fit_pq_codebooks`
    (driver-side Lloyd over a data sample) this needs no training
    data at all, so the code assignment has a closed form
    (:func:`pq_grid_codes`) that a SQL oracle reproduces bit-for-bit
    — the cross-engine-deterministic codebook SURVEY §8 asked for.
    Coarser than a fitted codebook at equal bytes, but append-stable:
    codes never go stale as the corpus grows.

    Shape ``(m, levels**dsub, dsub)`` — drop-in for every consumer of
    :func:`fit_pq_codebooks` (``build_ivf_index(quantize='pq')``,
    sidecars, reconstruction).
    """
    if dim % m != 0:
        raise ValueError(f"vector dim {dim} not divisible by m={m} subspaces")
    if not (lo < hi):
        raise ValueError(f"need lo < hi, got [{lo}, {hi})")
    dsub = dim // m
    ksub = levels**dsub
    if levels < 2 or ksub > 128:
        raise ValueError(
            f"levels**dsub must be in [2, 128] (tinyint codes), got "
            f"{levels}**{dsub} = {ksub}"
        )
    step = (hi - lo) / levels
    centers = [lo + (i + 0.5) * step for i in range(levels)]
    book: list[list[float]] = []
    digits = [0] * dsub
    for _ in range(ksub):
        book.append([round(centers[d], 6) for d in digits])
        for j in range(dsub - 1, -1, -1):  # row-major increment
            digits[j] += 1
            if digits[j] < levels:
                break
            digits[j] = 0
    return [[list(c) for c in book] for _ in range(m)]


def pq_grid_codes(
    vec_col: str | F.Column,
    dim: int = EMBED_DIM,
    m: int = 32,
    levels: int = 8,
    lo: float = -1.0,
    hi: float = 1.0,
) -> F.Column:
    """Closed-form grid encoder: ``array<tinyint>`` of ``m`` codes.

    Per dim, digit = ``clamp(floor((x - lo) / step), 0, levels-1)``;
    per subspace, code = the row-major digit combination — exactly the
    nearest-center assignment for :func:`fit_pq_grid_codebooks`
    codebooks, up to exact cell-midpoint ties (this form takes the
    upper cell, ``_quantize_pq``'s first-wins argmin the lower; real
    float data never lands on a midpoint of the default power-of-two
    grid, and the parity test filters them). Every op is a single
    correctly-rounded double op in a fixed order, so Spark and any
    IEEE SQL engine produce identical codes — the whole point of the
    grid tier. Pure JVM expressions, map-side, no shuffle.
    """
    if dim % m != 0:
        raise ValueError(f"vector dim {dim} not divisible by m={m} subspaces")
    dsub = dim // m
    if levels < 2 or levels**dsub > 128:
        raise ValueError(f"levels**dsub out of tinyint range: {levels}**{dsub}")
    step = (hi - lo) / levels
    if isinstance(vec_col, str):
        # ONE parsed SQL expression (optimization r12): the Column-API
        # spelling cost ~6 py4j round-trips per dimension per plan
        # build. Identical tree — same floor/least/greatest over the
        # same double literals, same integer coercions.
        vsql = as_double_array_sql(vec_col)

        def digit_sql(idx1: int) -> str:
            return (
                f"least(greatest(floor((element_at({vsql}, {idx1})"
                f" - {dlit(lo)}) / {dlit(step)}), 0), {levels - 1})"
            )

        parts = []
        for mi in range(m):
            code = digit_sql(mi * dsub + 1)
            for j in range(1, dsub):
                code = f"(({code} * {levels}) + {digit_sql(mi * dsub + j + 1)})"
            parts.append(f"CAST({code} AS TINYINT)")
        return F.expr("array(" + ", ".join(parts) + ")")

    v = as_double_array(vec_col)

    def digit(idx1: int) -> F.Column:
        raw = F.floor((F.element_at(v, idx1) - F.lit(float(lo))) / F.lit(step))
        return F.least(F.greatest(raw, F.lit(0)), F.lit(levels - 1))

    codes = []
    for mi in range(m):
        code: F.Column | None = None
        for j in range(dsub):
            d = digit(mi * dsub + j + 1)
            code = d if code is None else code * F.lit(levels) + d
        codes.append(code.cast("tinyint"))
    return F.array(*codes)


def build_ivf_index(
    corpus: DataFrame,
    centroids: list[list[float]],
    path: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    quantize: str | None = None,
    pq_codebooks: list[list[list[float]]] | None = None,
) -> None:
    """Persist the IVF inverted file: corpus rows with their cell
    assignment and precomputed norm, written ``partitionBy(cid)``.

    :func:`ivf_topk` re-assigns every corpus row on every call — fine
    for one-shot analytics, wrong for a serving corpus queried
    repeatedly. This index pays the assignment map ONCE; after that
    :func:`ivf_topk_indexed` reads only the probed cells via partition
    pruning (a cell = a parquet partition directory), so each query
    batch scans ~n_probe/K of the corpus instead of 100% of it.
    Growing corpora extend the index with
    :func:`append_to_ivf_index` — no full rebuild per refresh.
    ``quantize="int8"`` stores SQ8 vectors instead of fp64 (see
    :func:`_quantize_int8`): ~4-8× smaller inverted file, asymmetric
    scoring in :func:`ivf_topk_indexed` (auto-detected from the index
    schema), recall floor pinned in tests. ``quantize="pq"`` stores
    M-byte product-quantization codes (``pq_codebooks`` required —
    fit with :func:`fit_pq_codebooks`; persisted as a sidecar in the
    index dir so append/query stay self-describing): the regime where
    even int8×D is too big — at 100 TB the probe is I/O-bound on the
    inverted file, and PQ cuts bytes/vector from D to M at a coarser,
    codebook-bounded error (recall floor pinned in tests).
    """
    import json

    from dataflow_python_etl_spark.operators.upsert import write_and_swap

    if quantize not in (None, "int8", "pq"):
        raise ValueError(f"quantize must be None|'int8'|'pq', got {quantize!r}")
    assigned = _assigned(corpus, centroids, id_col, vec_col)
    if quantize == "int8":
        assigned = _quantize_int8(assigned)
    elif quantize == "pq":
        if pq_codebooks is None:
            raise ValueError(
                "quantize='pq' requires pq_codebooks (fit_pq_codebooks)"
            )
        assigned = _quantize_pq(assigned, pq_codebooks)
    # temp-and-swap (not bare overwrite): a crash mid-rebuild must not
    # leave a missing/partial index for concurrent ivf_topk_indexed
    # readers — same contract as every other writer in the repo. Both
    # sidecars ride the swap (extra_files): the CENTROID sidecar makes
    # the index self-describing (ivf_topk_indexed(centroids=None),
    # rebalance_ivf_index), and a stale centroid sidecar would be
    # SILENTLY wrong (mis-pruned probes), so it must never be
    # publishable without its data — unlike the PQ sidecar, whose
    # absence is at least loud at load time.
    extra = {CENTROID_SIDECAR: json.dumps(centroids)}
    if quantize == "pq":
        extra[PQ_SIDECAR] = json.dumps(pq_codebooks)
    write_and_swap(assigned, path, partition_by=["cid"], extra_files=extra)


def _index_quantize_mode(columns: list[str]) -> str | None:
    if "qvec" in columns:
        return "int8"
    if "pq_codes" in columns:
        return "pq"
    return None


def append_to_ivf_index(
    new_vectors: DataFrame,
    centroids: list[list[float]],
    path: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    quantize: str | None = None,
) -> None:
    """Incrementally extend a :func:`build_ivf_index` table: assign
    ONLY the new vectors (an O(batch) map against the same frozen
    centroids) and append them to their cell partitions.

    The existing index is never rewritten — the delta is staged to a
    HIDDEN tmp dir inside the index (``.``-prefixed, so concurrent
    readers never see it) and its completed parquet files are then
    moved into the ``cid=`` dirs — so a growing serving corpus pays
    per-refresh cost proportional to the DELTA, mirroring the dedup
    family's incremental twin (``minhash_lsh_pairs_incremental``).
    Because the centroids are frozen, the combined index is
    bit-identical to a full rebuild over corpus ∪ batch (pinned in
    tests at every n_probe); what drifts over many appends is cell
    BALANCE, not correctness — watch it with :func:`ivf_index_stats`
    and re-fit + rebuild when ``stale``.

    Crash safety: a crash while WRITING leaves only the hidden stage
    dir (readers unaffected); a crash mid-MOVE leaves a complete-file
    subset of the delta visible plus the unmoved remainder in the
    stage dir. Because ids would duplicate, re-running the append is
    NOT the recovery — the next append REFUSES while a leftover stage
    dir exists, and the error says how to recover (finish moving the
    leftover files, or delete the stage dir and rebuild).

    Caller contract: ``new_vectors`` ids must not already be in the
    index (same unique-id contract as the dedup ingest), and
    ``quantize`` must MATCH the index's build setting — validated
    against the existing index schema here, loudly, because a
    path-based parquet append performs no write-time schema check and
    a later un-merged read would silently adopt one footer's schema.
    ``quantize='pq'`` re-encodes with the index's own sidecar
    codebooks, so code/codebook drift is impossible by construction.
    """
    if quantize not in (None, "int8", "pq"):
        raise ValueError(f"quantize must be None|'int8'|'pq', got {quantize!r}")
    spark = new_vectors.sparkSession
    try:
        existing_cols = spark.read.parquet(path).schema.fieldNames()
    except Exception as e:
        raise ValueError(
            f"cannot append to missing/unreadable IVF index at {path}: "
            "run build_ivf_index first"
        ) from e
    index_mode = _index_quantize_mode(existing_cols)
    if index_mode != quantize:
        raise ValueError(
            f"quantize mismatch: index at {path} was built with "
            f"quantize={index_mode!r}, append requested {quantize!r} — a mixed "
            "append would write rows later reads silently misinterpret"
        )
    from dataflow_python_etl_spark.operators.upsert import (
        staged_partition_append,
    )

    assigned = _assigned(new_vectors, centroids, id_col, vec_col)
    if quantize == "int8":
        assigned = _quantize_int8(assigned)
    elif quantize == "pq":
        assigned = _quantize_pq(assigned, load_pq_codebooks(path))
    staged_partition_append(assigned, path, "cid", "IVF index")


def load_ivf_centroids(path: str) -> list[list[float]]:
    """Read the centroid sidecar a :func:`build_ivf_index` swap wrote
    into the index dir. Loud if absent — an index without its
    centroids cannot be probed correctly (indexes built before the
    sidecar existed must be rebuilt once)."""
    import os

    from dataflow_python_etl_spark.operators.upsert import _read_marker

    centroids = _read_marker(os.path.join(path, CENTROID_SIDECAR))
    if centroids is None:
        raise ValueError(
            f"IVF index at {path} has no {CENTROID_SIDECAR} sidecar — it "
            "predates self-describing indexes or the sidecar was lost; "
            "rebuild with build_ivf_index (the sidecar rides the swap)"
        )
    return centroids


def rebalance_ivf_index(
    corpus: DataFrame,
    path: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    imbalance_threshold: float = 3.0,
    max_iter: int = 10,
    seed: int = 7,
    force: bool = False,
) -> list[list[float]] | None:
    """Close the staleness loop :func:`ivf_index_stats` opens: when
    the index's cell balance has drifted past ``imbalance_threshold``
    (appends assign against FROZEN centroids, so a shifting corpus
    piles into few cells and probe cost/recall degrade), re-fit the
    coarse quantizer on the CURRENT corpus and rebuild the index
    atomically in place. Returns the new centroids, or ``None`` when
    balance is still healthy (``force=True`` rebuilds regardless).

    ``corpus`` is the caller's source of truth (quantized indexes
    don't store fp64 vectors, so the index itself cannot seed a
    refit). The quantize mode is preserved from the existing index's
    schema; PQ indexes re-encode against their OWN sidecar codebooks
    — grid codebooks (:func:`fit_pq_grid_codebooks`) are
    data-independent, so rebalancing never invalidates them, which is
    exactly why they're the streaming default. The rebuild rides
    ``write_and_swap`` with both sidecars in the swap: concurrent
    ``ivf_topk_indexed`` readers see the old index or the new one,
    never a mix, and ``centroids=None`` callers pick up the new
    centroids on their next load."""
    spark = corpus.sparkSession
    centroids = load_ivf_centroids(path)
    if not force:
        stats = ivf_index_stats(spark, path, n_cells=len(centroids),
                                imbalance_threshold=imbalance_threshold)
        if not stats["stale"]:
            return None
    mode = _index_quantize_mode(spark.read.parquet(path).schema.fieldNames())
    books = load_pq_codebooks(path) if mode == "pq" else None
    new_centroids = fit_ivf_centroids(
        corpus, k=len(centroids), vec_col=vec_col, max_iter=max_iter, seed=seed
    )
    build_ivf_index(
        corpus, new_centroids, path, id_col=id_col, vec_col=vec_col,
        quantize=mode, pq_codebooks=books,
    )
    return new_centroids


def ivf_index_stats(
    spark,
    path: str,
    n_cells: int,
    imbalance_threshold: float = 3.0,
) -> dict:
    """Cell-balance staleness check for a persisted IVF index.

    ``imbalance`` = largest cell ÷ ideal cell size (total/n_cells);
    its ceiling is ``n_cells`` (one cell holding everything), so pick
    ``imbalance_threshold < n_cells`` — the default 3 means "the hot
    cell costs 3× what a probe should".

    One column-pruned aggregate over the partition column (``cid`` is
    hive-partition metadata — the scan lists files, it does not read
    vector data). An index is ``stale`` when the largest cell exceeds
    ``imbalance_threshold ×`` the ideal share — after enough drifted
    appends the hot cell dominates probe cost (each probe reads whole
    cells) and recall (one cell swallows the space), and the fix is a
    re-fit + :func:`build_ivf_index` rebuild, NOT more appends.
    Empty cells are reported too (k chosen too high, or drift away
    from an old centroid).
    """
    counts = {
        r["cid"]: r["n"]
        for r in spark.read.parquet(path)
        .groupBy("cid")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    total = sum(counts.values())
    mean = total / n_cells if n_cells else 0.0
    max_cell = max(counts.values(), default=0)
    imbalance = (max_cell / mean) if mean else 0.0
    return {
        "total": total,
        "cells": len(counts),
        "empty_cells": n_cells - len(counts),
        "max_cell": max_cell,
        "imbalance": round(imbalance, 3),
        "stale": imbalance > imbalance_threshold,
    }


def _in_longs(col_name: str, ids) -> F.Column:
    """``col IN (...)`` over a driver-bounded integer id list, rendered
    as ONE parsed SQL expression — ``Column.isin`` creates one py4j
    literal per id (measured 4.7 s across q167's three isin calls at
    ~260 ids each). Same Catalyst In(...) predicate, so pushdown /
    partition pruning behave identically. Empty list → false, matching
    ``isin([])``. Every id must be a non-null integral value: a None or
    fractional id raises ``ValueError`` instead of being truncated."""
    if not ids:
        return F.lit(False)
    rendered = []
    for i in ids:
        try:
            v = int(i)
        except (TypeError, ValueError, OverflowError):
            v = None
        if v is None or v != i:
            raise ValueError(
                f"{col_name} IN (...) needs non-null integral ids, got {i!r}"
            )
        rendered.append(str(v))
    return F.expr(f"`{col_name}` IN ({', '.join(rendered)})")


def _query_probe_frame(
    queries: DataFrame,
    centroids: list[list[float]],
    n_probe: int,
    id_col: str,
    vec_col: str,
) -> tuple[DataFrame, list[int]]:
    """(query_id, qvec, qn, cid) — one row per query per probed cell
    (top-``n_probe`` centroid dots, index tie-break), plus the probe
    cell ids collected to the driver (bounded by contract: ≤ n_probe ×
    |queries| ≤ K distinct cells) for the file-listing-level
    ``cid IN (...)`` pruning filter. Shared by :func:`ivf_topk_indexed`
    and :func:`ivf_topk_indexed_reranked` so both stages of a reranked
    probe prune to the SAME cells by construction.

    NOTE: every invocation REGISTERS a persist on the probe frame
    (tiny, but registered caches accumulate until
    ``dedup.unpersist_all()``) — a long-lived per-batch serving loop
    must call ``unpersist_all()`` between iterations, as bench and
    certify already do between trials (ADVICE r11)."""
    from dataflow_python_etl_spark.operators.dedup import register_cache

    kcells = len(centroids)
    n_probe = min(n_probe, kcells)
    dots = _centroid_dots(as_double_array_sql(vec_col), centroids)
    ranked = F.array_sort(
        F.arrays_zip(dots.alias("s"), F.sequence(F.lit(1), F.lit(kcells)).alias("i")),
        lambda l, r: F.when(l["s"] > r["s"], -1)
        .when(l["s"] < r["s"], 1)
        .otherwise((l["i"] - r["i"]).cast("int")),
    )
    probes = F.slice(F.transform(ranked, lambda x: x["i"]), 1, n_probe)
    # REGISTERED cache: the cid collect below materializes the tiny
    # (|queries| x n_probe)-row frame, so every downstream consumer
    # (the broadcast probe side of each index scan — three of them in
    # q163's union) reads cached rows instead of re-scanning the
    # query table and re-evaluating the interpreted centroid-dot
    # array_sort per consumer (guide §2.4/§5: the probe frame is the
    # decision proxy, compute it once).
    q = register_cache(
        queries.select(
            F.col(id_col).alias("query_id"),
            as_double_array(vec_col).alias("qvec"),
            F.explode(probes).alias("cid"),
        ).withColumn("qn", l2_norm(F.col("qvec")))
    )
    probe_cids = sorted({r["cid"] for r in q.select("cid").distinct().collect()})
    return q, probe_cids


def ivf_topk_indexed(
    spark,
    index_path: str,
    queries: DataFrame,
    centroids: list[list[float]] | None = None,
    k: int = 3,
    n_probe: int = 1,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    _probe: tuple[DataFrame, list[int]] | None = None,
    _keep_rank: bool = False,
) -> DataFrame:
    """IVF ANN over a :func:`build_ivf_index` table: identical results
    to :func:`ivf_topk` (pinned in tests), but the corpus scan is
    PARTITION-PRUNED to the probed cells. ``centroids=None`` loads
    the index's own centroid sidecar (self-describing indexes survive
    :func:`rebalance_ivf_index` without caller coordination).

    The probe cell set is collected to the driver — bounded by
    contract: ≤ n_probe × |queries| ≤ K distinct cells, and the query
    batch is structurally small (same contract under which
    :func:`ivf_topk` broadcasts it). The resulting ``cid IN (...)``
    filter prunes at the file-listing level, which a join could only
    achieve via runtime DPP.

    ``_probe`` (internal): a precomputed ``_query_probe_frame`` result
    for these exact (queries, centroids, n_probe) — callers probing
    several index variants with ONE query batch (q163/q167) pass it so
    the probe-cid collect job runs once, not once per variant; results
    are identical by construction. ``_keep_rank`` (internal) appends
    the window rank ``rk`` to the output so a single ``k=rerank``
    probe can serve both a shortlist and its ``rk <= k`` prefix
    (q167's coarse stage) without a second index scan.
    """
    if centroids is None:
        centroids = load_ivf_centroids(index_path)
    q, probe_cids = (
        _probe
        if _probe is not None
        else _query_probe_frame(queries, centroids, n_probe, id_col, vec_col)
    )
    c = spark.read.parquet(index_path).where(_in_longs("cid", probe_cids))

    if "pq_codes" in c.columns:
        # PQ index (build_ivf_index(quantize='pq')): reconstruct each
        # probed vector from its M codes by literal codebook lookup,
        # then asymmetric dot against the full-precision query. cn is
        # the TRUE pre-quantization norm (as in SQ8), so the only
        # error is the per-subspace codebook distortion.
        rvec = _pq_reconstruct("pq_codes", load_pq_codebooks(index_path))
        sim = F.round(dot(F.col("__q"), rvec) / (F.col("qn") * F.col("cn")), 6)
    elif "qvec" in c.columns:
        # SQ8 index (build_ivf_index(quantize='int8')): asymmetric
        # scoring — full-precision query against dequantized corpus,
        # dot(q, dequant(c)) = qscale · Σ qᵢ·intᵢ. cn is the TRUE
        # pre-quantization norm, so the only error is corpus rounding.
        sim = F.round(
            (F.col("qscale") * dot(F.col("qvec").cast("array<double>"), F.col("__q")))
            / (F.col("qn") * F.col("cn")),
            6,
        )
    else:
        sim = F.round(dot(F.col("__q"), F.col("cvec")) / (F.col("qn") * F.col("cn")), 6)
    scored = (
        c.join(F.broadcast(q.withColumnRenamed("qvec", "__q")), "cid")
        .where(F.col("neighbor_id") != F.col("query_id"))
        .withColumn("cos_sim", sim)
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos_sim").desc(), F.col("neighbor_id").asc()
    )
    out_cols = ["query_id", "neighbor_id", "cos_sim"] + (["rk"] if _keep_rank else [])
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= k)
        .select(*out_cols)
    )


def ivf_topk_indexed_reranked(
    spark,
    coarse_path: str,
    refine_path: str,
    queries: DataFrame,
    k: int = 3,
    n_probe: int = 1,
    rerank: int = 20,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    _probe: tuple[DataFrame, list[int]] | None = None,
    _short: DataFrame | None = None,
) -> DataFrame:
    """Two-stage ANN serving — the production answer to the PQ recall
    gap (VERDICT r10 #2, the FAISS IVFPQ+Refine shape): a CHEAP
    shortlist of ``rerank`` candidates from the quantized
    ``coarse_path`` index (PQ codes: M-byte rows, codebook-bounded
    error), then ONLY those candidates re-scored at ``refine_path``'s
    precision (fp64 or SQ8) and the top-``k`` taken by the refined
    score with the q27 rounded-6 + id tie-break discipline.

    Scale shape: BOTH stages prune to the SAME probed cells (both
    indexes must be built from ONE centroid fit — enforced loudly:
    diverging sidecars would let the pruned refine scan silently miss
    shortlisted ids), and the refine scan additionally pushes
    ``neighbor_id IN (shortlist)`` into the parquet scan (row-group
    stat skipping — the columnar analog of the id-keyed random access
    a serving store does for refinement; the shortlist is driver-
    bounded by contract: ≤ |queries| × rerank ids). Per-query cost
    stays independent of corpus size; plan-pinned in
    tests/test_plans.py.
    """
    if rerank < k:
        raise ValueError(f"rerank ({rerank}) must be >= k ({k})")
    if _short is not None and _probe is None:
        # the same consistency argument as the centroid-sidecar guard
        # below: _short is only sound when built from the SAME probe
        # frame/cells the refine scan prunes to, so a caller supplying
        # a shortlist must supply the probe it came from (ADVICE r11)
        raise ValueError(
            "_short requires the matching _probe: the refine scan prunes "
            "to _probe's cells, so a shortlist from a different probe "
            "would silently drop candidates"
        )
    centroids = load_ivf_centroids(coarse_path)
    if load_ivf_centroids(refine_path) != centroids:
        raise ValueError(
            "coarse and refine indexes disagree on centroids — both stages "
            "prune to the coarse probe cells, so a refine index from a "
            "different fit would silently drop shortlisted candidates; "
            "rebuild both from one fit_ivf_centroids call"
        )
    # ``_probe`` / ``_short`` (internal): precomputed probe frame and
    # coarse shortlist (same (queries, centroids, n_probe, rerank)
    # contract as the in-house computation they replace) — q167 passes
    # a CACHED k=rerank coarse probe whose collect below doubles as
    # the cache fill, so the coarse index is scanned once per
    # invocation instead of once here plus once per downstream
    # consumer of the coarse top-k.
    q, probe_cids = (
        _probe
        if _probe is not None
        else _query_probe_frame(queries, centroids, n_probe, id_col, vec_col)
    )
    short = (
        _short
        if _short is not None
        else ivf_topk_indexed(
            spark, coarse_path, queries,
            centroids=centroids, k=rerank, n_probe=n_probe,
            id_col=id_col, vec_col=vec_col,
            _probe=(q, probe_cids),
        )
    ).select("query_id", "neighbor_id")
    short_rows = short.collect()  # driver-bounded: |queries| × rerank
    short_ids = sorted({r["neighbor_id"] for r in short_rows})
    c = (
        spark.read.parquet(refine_path)
        .where(_in_longs("cid", probe_cids))
        .where(_in_longs("neighbor_id", short_ids))
    )
    if "pq_codes" in c.columns:
        raise ValueError(
            "refine index is PQ-quantized — re-ranking at coarse precision "
            "is a no-op; refine with the fp64 or SQ8 index"
        )
    pairs = spark.createDataFrame(
        [(r["query_id"], r["neighbor_id"]) for r in short_rows],
        "query_id long, neighbor_id long",
    )
    qq = q.select("query_id", "qvec", "qn").dropDuplicates(["query_id"])
    if "qvec" in c.columns:
        sim = F.round(
            (F.col("qscale") * dot(F.col("qvec").cast("array<double>"), F.col("__q")))
            / (F.col("qn") * F.col("cn")),
            6,
        )
        c = c.select("neighbor_id", "qvec", "qscale", "cn")
    else:
        sim = F.round(dot(F.col("__q"), F.col("cvec")) / (F.col("qn") * F.col("cn")), 6)
        c = c.select("neighbor_id", "cvec", "cn")
    scored = (
        c.join(F.broadcast(pairs), "neighbor_id")
        .join(F.broadcast(qq.withColumnRenamed("qvec", "__q")), "query_id")
        .withColumn("cos_sim", sim)
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos_sim").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= k)
        .select("query_id", "neighbor_id", "cos_sim")
    )


def mmr_select(
    corpus: DataFrame,
    query_id,
    k: int = 5,
    n_candidates: int = 20,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Maximal Marginal Relevance selection (Carbonell & Goldstein
    1998): pick ``k`` results that are RELEVANT to the query but
    DIVERSE among themselves — greedy argmax of ``½·rel(d) −
    ½·max_{s∈S} sim(d, s)``. The retrieval-augmentation and
    training-batch curation primitive plain top-k lacks: top-k
    returns five near-copies of the best hit, MMR returns the best
    hit plus four that ADD something.

    λ is fixed at ½ — a power of two, so both MMR terms are EXACT
    double scalings of the rounded-6 cosines and the comparison is
    one correctly-rounded subtraction: the greedy argmax (rounded
    score + id tie-break, the repo ranking rule) is reproducible
    bit-for-bit cross-engine, which is what lets the DuckDB oracle
    unroll the same k steps (the PageRank loop ≡ unrolled pin,
    applied to a greedy).

    Scale shape: relevance is :func:`cosine_topk` (corpus streams,
    nothing collects); ONLY the ``n_candidates`` shortlist — bounded
    by contract, like the query matrix and PQ fit samples — enters
    the n²-pair stage, computed in ONE Spark job and collected once;
    the k greedy argmax steps then run driver-side over those ≤ n²
    rows with the SAME doubles (0.5·rel − 0.5·maxsim is exact scaling
    + one correctly-rounded subtract in either engine), so the output
    is bit-identical to the former per-step-job formulation while
    costing one job instead of k+2 (VERDICT r7: ~1.8 s of q126 was
    pure job-scheduling overhead for microseconds of math). Returns
    ``(rank, vec_id, relevance, mmr)`` in selection order."""
    from dataflow_python_etl_spark.operators.dedup import register_cache

    if not 1 <= k <= n_candidates:
        raise ValueError(f"need 1 <= k <= n_candidates, got k={k}, n={n_candidates}")
    rel = cosine_topk(
        corpus, corpus.where(F.col(id_col) == query_id), k=n_candidates,
        id_col=id_col, vec_col=vec_col,
    ).select(F.col("neighbor_id").alias("id"), F.col("cos_sim").alias("rel"))
    vecs = corpus.select(
        F.col(id_col).alias("id"), as_double_array(vec_col).alias("v")
    ).withColumn("n", l2_norm(F.col("v")))
    cand = register_cache(rel.join(vecs, "id"))
    a, b = cand.alias("a"), cand.alias("b")
    # the ONLY pair fan-out is shortlist x shortlist (n_candidates²,
    # bounded by contract) — never corpus-sized
    pairs = a.join(b, F.col("a.id") != F.col("b.id")).select(
        F.col("a.id").alias("ia"),
        F.col("b.id").alias("ib"),
        F.round(
            dot(F.col("a.v"), F.col("b.v")) / (F.col("a.n") * F.col("b.n")), 6
        ).alias("sim"),
    )
    rels = {r["id"]: r["rel"] for r in cand.select("id", "rel").collect()}
    if not rels:
        raise ValueError(
            f"mmr_select: no candidates — query_id {query_id!r} absent from "
            "the corpus, or the corpus has no other vectors"
        )
    sims = {(r["ia"], r["ib"]): r["sim"] for r in pairs.collect()}
    chosen: list = []
    out_rows = []
    for rank in range(1, k + 1):
        best = None
        for i, r in rels.items():
            if i in chosen:
                continue
            maxsim = max((sims[(i, c)] for c in chosen), default=0.0)
            # exact same doubles as the Spark expression: x0.5 is an
            # exact scaling, the subtract is one correctly-rounded op
            mmr = 0.5 * r - 0.5 * maxsim
            if best is None or mmr > best[0] or (mmr == best[0] and i < best[1]):
                best = (mmr, i, r)
        if best is None:  # shortlist exhausted (k > live candidates)
            break
        chosen.append(best[1])
        out_rows.append((rank, best[1], best[2], best[0]))
    from pyspark.sql.types import (
        DoubleType,
        IntegerType,
        StructField,
        StructType,
    )

    # id column keeps the corpus's own name and type — the operator
    # is id-type-agnostic everywhere else, so the output schema must
    # not bake in "long" (string doc ids are legal)
    schema = StructType(
        [
            StructField("rank", IntegerType()),
            StructField(id_col, corpus.schema[id_col].dataType),
            StructField("relevance", DoubleType()),
            StructField("mmr", DoubleType()),
        ]
    )
    return corpus.sparkSession.createDataFrame(out_rows, schema)


def knn_classify(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
) -> DataFrame:
    """k-NN majority-vote classification over an embedding column:
    each query's label is the most common label among its exact
    cosine top-k neighbors (``cosine_topk`` — rounded-score ranking,
    id tie-breaks), vote ties broken by the SMALLEST label. Returns
    ``(query_id, predicted_label, votes)`` — the standard
    label-transfer / auto-tagging primitive over a labeled corpus.

    Scale shape: inherits cosine_topk's one-pass corpus stream
    (queries broadcast, norms precomputed before the fan-out); the
    neighbor→label join keys the queries×k frame (broadcast-sized by
    construction) against the corpus id — Spark broadcasts the small
    side, so the corpus is never shuffled. Vote counting and the
    argmax window run on queries×k rows."""
    from pyspark.sql import Window

    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    nb = cosine_topk(corpus, queries, k, id_col, vec_col)
    lab = corpus.select(
        F.col(id_col).alias("neighbor_id"), F.col(label_col).alias("__nl")
    )
    votes = (
        nb.join(lab, "neighbor_id")
        .groupBy("query_id", "__nl")
        .agg(F.count(F.lit(1)).cast("long").alias("votes"))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("votes").desc(), F.col("__nl").asc()
    )
    return (
        votes.withColumn("__rk", F.row_number().over(w))
        .where(F.col("__rk") == 1)
        .select("query_id", F.col("__nl").alias("predicted_label"), "votes")
    )
