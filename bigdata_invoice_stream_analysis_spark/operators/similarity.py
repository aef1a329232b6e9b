"""Similarity search over embedding columns (array<float>): brute-force
cosine top-k as the exact baseline, an IVF-style cell-partitioned
variant as the scale path, and embedding-cosine near-dup pairs.

The reference has no vector search (SURVEY.md §2.12); this is a
north-star extension (BASELINE.json) built Spark-first.

Determinism convention
----------------------
All distance math runs on embeddings **quantized to a 1e-4 integer
grid** (round(x·10⁴) per element). Dot products and squared norms are
then exact BIGINT sums (|x|≤~10 → elements ≤ 1e5, 64-dim dot ≤ 1e12 ≪
2^63), and the final cosine = dot / (sqrt(na)·sqrt(nb)) maps identical
integer operands to identical doubles in every IEEE-754 engine — so the
DuckDB oracle hash-matches bit-for-bit regardless of summation order.
The ~1e-4 relative quantization error is far below any useful
similarity threshold.

Scale design (100 TB posture)
-----------------------------
* Brute-force top-k: queries ⋈ corpus is a broadcast nested-loop join
  (queries are small by construction — broadcast them, stream the
  corpus). Per-row cosine is a native higher-order-function expression
  inside codegen; ranking is a window partitioned by query id — the
  only shuffle, keyed by query, O(n_queries × corpus) rows reduced
  map-side by nothing (full scan is inherent to exact search).
* IVF: corpus is assigned to cells once (argmin over a broadcast
  centroid table — per-row expression), then each query probes only
  its own cell: the corpus side of the join shrinks by ~n_cells×. In a
  real deployment the cell assignment is written partitioned-by-cell so
  a probe prunes partitions at the scan.
* Near-dup pairs: the quantized-cosine filter over candidate pairs
  from the sign-LSH blocking here (hyperplane sketch → band join),
  not all pairs.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

QUANT_SCALE = 10_000  # 1e-4 grid


def quantize(vec: Column) -> Column:
    """array<float> → array<long> on the 1e-4 grid (exact cross-engine)."""
    return F.transform(vec, lambda x: F.round(x.cast("double") * QUANT_SCALE).cast("long"))


SQL_QUANTIZE = "list_transform({v}, x -> CAST(round(CAST(x AS DOUBLE) * 10000) AS BIGINT))"


def int_dot(a: Column, b: Column) -> Column:
    """Exact integer dot product of two array<long> columns."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0).cast("long"),
        lambda acc, v: acc + v,
    )


def int_norm2(a: Column) -> Column:
    """Exact integer squared L2 norm."""
    return int_dot(a, a)


def quant_cosine(a: Column, b: Column) -> Column:
    """Cosine over quantized vectors: exact-int dot / product of
    correctly-rounded sqrts — bit-identical across engines."""
    return int_dot(a, b).cast("double") / (
        F.sqrt(int_norm2(a).cast("double")) * F.sqrt(int_norm2(b).cast("double"))
    )


def quant_sqdist(a: Column, b: Column) -> Column:
    """Exact integer squared L2 distance (as BIGINT, on the 1e-4 grid —
    grid units², so comparable but not equal to float-domain sqdist)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
        F.lit(0).cast("long"),
        lambda acc, v: acc + v,
    )


# ---------------------------------------------------------------------------
# Brute-force cosine top-k
# ---------------------------------------------------------------------------

def knn_topk(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact cosine top-k neighbors for each query vector.

    Output: (query_id, neighbor_id, cosine, rank) with rank 1..k by
    (cosine DESC, neighbor_id ASC) — the deterministic tie-break. Self
    matches (same id) are excluded.

    The query side is broadcast (small by construction); the window
    ranking shuffles by query_id only.
    """
    q = queries.select(
        F.col(id_col).alias("query_id"), quantize(F.col(vec_col)).alias("qv")
    ).withColumn("qn", F.sqrt(int_norm2(F.col("qv")).cast("double")))
    from bigdata_invoice_stream_analysis_spark.sources.tables import ensure_min_parallelism

    # The corpus is the streamed side of the broadcast cross join — an
    # under-parallel scan would serialize all N·Q dot products.
    c = ensure_min_parallelism(corpus, corpus.sparkSession).select(
        F.col(id_col).alias("neighbor_id"), quantize(F.col(vec_col)).alias("cv")
    ).withColumn("cn", F.sqrt(int_norm2(F.col("cv")).cast("double")))
    scored = (
        c.crossJoin(F.broadcast(q))
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id",
            "neighbor_id",
            # norms precomputed per side (N + Q sqrts, not N·Q) —
            # bit-identical to the inline quant_cosine form
            (
                int_dot(F.col("qv"), F.col("cv")).cast("double")
                / (F.col("qn") * F.col("cn"))
            ).alias("cosine"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cosine"), F.asc("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cosine", "rank")
    )


# ---------------------------------------------------------------------------
# IVF-style cell-partitioned ANN
# ---------------------------------------------------------------------------

def assign_cells(
    df: DataFrame,
    centroids: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "qv",
    cent_id: str = "cell_id",
    cent_vec: str = "cent_v",
) -> DataFrame:
    """Assign each vector to its nearest centroid (exact integer L2,
    ties → lowest cell_id). Centroids are broadcast and exploded against
    each row; the argmin is ``min(struct(dist, cell_id))`` — an
    ALGEBRAIC aggregate, so it partial-aggregates map-side before its
    one shuffle (one row per vector crosses the wire). The earlier
    window-ranking form shuffled all N×k scored rows and sorted each
    partition; a lexicographic struct-min needs neither."""
    cents = F.broadcast(centroids.select(F.col(cent_id), F.col(cent_vec)))
    joined = df.crossJoin(cents)
    d = quant_sqdist(F.col(vec_col), F.col(cent_vec))
    best = joined.groupBy(id_col).agg(
        F.min(F.struct(d.alias("d"), F.col(cent_id).alias(cent_id))).alias("_best"),
        F.any_value(F.col(vec_col)).alias(vec_col),  # constant per group
    )
    return best.select(
        F.col(id_col), F.col(vec_col), F.col(f"_best.{cent_id}").alias(cent_id)
    )


def _sqdist_to_literal(v: Column, center: list[int]) -> Column:
    """Exact integer squared distance from an array<long> column to a
    literal centroid."""
    lits = F.array(*[F.lit(int(x)).cast("long") for x in center])
    return F.aggregate(
        F.zip_with(v, lits, lambda a, b: (a - b) * (a - b)),
        F.lit(0).cast("long"),
        lambda acc, t: acc + t,
    )


def assign_cells_literal(
    df: DataFrame, codebook: list[tuple[int, list[int]]], vec_col: str
) -> DataFrame:
    """Nearest-centroid cell assignment with the codebook folded into
    the plan as literals: a per-row array_min over (dist, cell_id)
    structs — lexicographic struct ordering gives the (min dist, lowest
    cell_id) tie-break. ZERO shuffle, unlike the window-ranking
    formulation (assign_cells), which repartitions the full corpus by
    vector id just to rank k centroid candidates per row. A codebook is
    small by definition (k_cells × dim ints), so plan-literal is the
    scale-correct form — same reasoning as streaming.scoring."""
    scored = F.array_min(
        F.array(
            *[
                F.struct(
                    _sqdist_to_literal(F.col(vec_col), vec).alias("d"),
                    F.lit(int(cid)).alias("cell_id"),
                )
                for cid, vec in codebook
            ]
        )
    )
    return df.withColumn("cell_id", scored["cell_id"])


def ivf_topk(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroid_mod: int = 97,
) -> DataFrame:
    """IVF(probe=1) approximate top-k: corpus vectors with
    id % centroid_mod == 0 serve as the deterministic coarse codebook;
    every vector (and every query) is assigned to its nearest centroid,
    and each query searches only its own cell.

    Compared to knn_topk the scanned candidate set shrinks ~n_cells×;
    recall depends on the planted cell structure (classic IVF trade).
    Output: (query_id, neighbor_id, cosine, rank).
    """
    from bigdata_invoice_stream_analysis_spark.sources.tables import ensure_min_parallelism

    # Cell assignment + per-cell probe dots are the CPU stage; spread an
    # under-parallel corpus scan before them.
    c_all = ensure_min_parallelism(corpus, corpus.sparkSession).select(
        F.col(id_col).alias("neighbor_id"), quantize(F.col(vec_col)).alias("cv")
    )
    cents = (
        corpus.filter(F.col(id_col) % centroid_mod == 0)
        .select(
            F.col(id_col).alias("cell_id"),
            quantize(F.col(vec_col)).alias("cent_v"),
        )
    )
    c_cells = assign_cells(c_all, cents, id_col="neighbor_id", vec_col="cv")
    q = queries.select(
        F.col(id_col).alias("query_id"), quantize(F.col(vec_col)).alias("qv")
    )
    q_cells = assign_cells(q, cents, id_col="query_id", vec_col="qv")
    scored = (
        c_cells.withColumn("cn", F.sqrt(int_norm2(F.col("cv")).cast("double")))
        .join(
            F.broadcast(
                q_cells.withColumn("qn", F.sqrt(int_norm2(F.col("qv")).cast("double")))
            ),
            "cell_id",
        )
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id",
            "neighbor_id",
            (
                int_dot(F.col("qv"), F.col("cv")).cast("double")
                / (F.col("qn") * F.col("cn"))
            ).alias("cosine"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cosine"), F.asc("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cosine", "rank")
    )


# ---------------------------------------------------------------------------
# Embedding-cosine near-dup pairs
# ---------------------------------------------------------------------------


# Sign-LSH (random-hyperplane sketch) — scalable candidate generation.
# Hyperplane h_j has ±1 components decided by bit j of a per-dimension
# LCG stream; the 16-bit sketch groups vectors into buckets, candidates
# are same-bucket pairs. Deterministic integer arithmetic throughout.

N_PLANES = 16


def _plane_signs(dim: int, seed: int = 7) -> list[list[int]]:
    x = seed
    planes = []
    for _ in range(N_PLANES):
        row = []
        for _ in range(dim):
            x = (1103515245 * x + 12345) % (1 << 31)
            row.append(1 if (x >> 16) & 1 else -1)
        planes.append(row)
    return planes


def sign_sketch(v: Column, dim: int) -> Column:
    """16-bit hyperplane-sign sketch of a quantized vector."""
    planes = _plane_signs(dim)
    out = F.lit(0).cast("long")
    for j, signs in enumerate(planes):
        proj = F.aggregate(
            F.zip_with(
                v,
                F.array(*[F.lit(s).cast("long") for s in signs]),
                lambda x, s: x * s,
            ),
            F.lit(0).cast("long"),
            lambda acc, t: acc + t,
        )
        out = out + F.when(proj >= 0, F.lit(1 << j).cast("long")).otherwise(F.lit(0))
    return out


def sign_lsh_pairs(
    df: DataFrame,
    threshold: float = 0.99,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    quantized: bool = False,
) -> DataFrame:
    """Near-dup pairs via sign-LSH bucketing + exact cosine verify.
    Near-identical vectors agree on every hyperplane sign with high
    probability, so candidates = same-sketch pairs — one equi-join
    shuffle keyed by the 16-bit sketch instead of an all-pairs NLJ:
    O(docs) rows over the wire, pair work confined to same-bucket
    groups (~N²/2¹⁶ random collisions, each killed by the exact
    verify). This is the 100×-scale path."""
    from bigdata_invoice_stream_analysis_spark.operators.fence import optimizer_fence
    from bigdata_invoice_stream_analysis_spark.sources.tables import ensure_min_parallelism

    df = ensure_min_parallelism(df, df.sparkSession)
    v = F.col(vec_col) if quantized else quantize(F.col(vec_col))
    # Fence the quantized vector: sign_sketch references it 16× (one
    # projection per hyperplane) and CollapseProject would otherwise
    # inline the quantize transform into every reference.
    base = optimizer_fence(
        df.select(F.col(id_col).alias("id"), v.alias("v"))
    ).withColumn("sk", sign_sketch(F.col("v"), dim))
    a = base.withColumnsRenamed({"id": "id_a", "v": "va", "sk": "sk_a"})
    b = base.withColumnsRenamed({"id": "id_b", "v": "vb", "sk": "sk_b"})
    cand = a.join(
        b, (F.col("sk_a") == F.col("sk_b")) & (F.col("id_a") < F.col("id_b"))
    ).select("id_a", "id_b", quant_cosine(F.col("va"), F.col("vb")).alias("cosine"))
    return cand.filter(F.col("cosine") >= threshold)


# ---------------------------------------------------------------------------
# Scalar-quantized (int8) candidate generation + exact rerank
# ---------------------------------------------------------------------------

SQ8_DIV = 1_000  # 1e-4 grid → ~int8 coarse grid (|x|<=~12.7 float units)


def sq8(qv: Column) -> Column:
    """array<long> on the 1e-4 grid → clamped coarse int8-range codes.
    round(q/1000) ties-away-from-zero matches DuckDB's round(); the
    clamp bounds |code| <= 127 so a 64-dim coarse dot <= ~1e6 (exact)."""
    return F.transform(
        qv,
        lambda x: F.greatest(
            F.lit(-127).cast("long"),
            F.least(F.lit(127).cast("long"), F.round(x / SQ8_DIV).cast("long")),
        ),
    )


SQL_SQ8 = (
    "list_transform({v}, x -> GREATEST(-127, LEAST(127, "
    "CAST(round(x / 1000.0) AS BIGINT))))"
)


def sq8_topk(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 5,
    n_candidates: int = 20,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """ANN via scalar quantization: 8-bit codes generate candidates
    (integer dot — 8× less memory traffic than the full-precision
    scan), then ONLY the top n_candidates per query are reranked with
    the exact quantized cosine. At 100 TB the int8 code table is the
    resident index (64 B/vector at dim 64); full vectors load only for
    the candidate rows — the asymmetric-distance layout every
    production SQ/PQ index uses. Both phases rank in one window
    partitioning (query_id), so candidate cut + rerank reuse a single
    shuffle. Deterministic: integer codes, integer dots, ties broken
    by neighbor id."""
    q = queries.select(
        F.col(id_col).alias("query_id"), quantize(F.col(vec_col)).alias("qv")
    ).select(
        "query_id",
        "qv",
        sq8(F.col("qv")).alias("q8"),
        F.sqrt(int_norm2(F.col("qv")).cast("double")).alias("qn"),
    )
    from bigdata_invoice_stream_analysis_spark.sources.tables import ensure_min_parallelism

    c = ensure_min_parallelism(corpus, corpus.sparkSession).select(
        F.col(id_col).alias("neighbor_id"), quantize(F.col(vec_col)).alias("cv")
    ).select(
        "neighbor_id",
        "cv",
        sq8(F.col("cv")).alias("c8"),
        F.sqrt(int_norm2(F.col("cv")).cast("double")).alias("cn"),
    )
    cand = (
        c.crossJoin(F.broadcast(q))
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id",
            "neighbor_id",
            "qv",
            "cv",
            "qn",
            "cn",
            int_dot(F.col("q8"), F.col("c8")).alias("approx"),
        )
    )
    wc = Window.partitionBy("query_id").orderBy(
        F.desc("approx"), F.asc("neighbor_id")
    )
    kept = cand.withColumn("cand_rank", F.row_number().over(wc)).filter(
        F.col("cand_rank") <= n_candidates
    )
    rer = kept.select(
        "query_id",
        "neighbor_id",
        (
            int_dot(F.col("qv"), F.col("cv")).cast("double")
            / (F.col("qn") * F.col("cn"))
        ).alias("cosine"),
    )
    wr = Window.partitionBy("query_id").orderBy(
        F.desc("cosine"), F.asc("neighbor_id")
    )
    return (
        rer.withColumn("rank", F.row_number().over(wr))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cosine", "rank")
    )


# ---------------------------------------------------------------------------
# Product quantization (PQ) — codebook-compressed ANN
# ---------------------------------------------------------------------------

PQ_M = 8  # subspaces (dim 64 -> 8 dims per subspace)


def pq_adc_lut(
    query: list[int], codebooks: list[list[tuple[int, list[int]]]]
) -> list[int]:
    """The classic ADC lookup table for one query vector: a flat list
    of length M*K where entry m*K + pos is the exact integer squared
    distance from the query's subspace-m subvector to centroid
    position pos. Computed driver-side (M*K*sub_len integer ops — a
    codebook-sized job by definition) and shipped as a literal array
    column; scoring a corpus row is then M array lookups + adds."""
    sub_len = len(codebooks[0][0][1])
    k = len(codebooks[0])
    lut: list[int] = []
    for m, book in enumerate(codebooks):
        sub = query[m * sub_len:(m + 1) * sub_len]
        assert len(book) == k
        for _, cv in sorted(book):
            lut.append(sum((a - b) * (a - b) for a, b in zip(sub, cv)))
    return lut


def pq_encode_np(
    df: DataFrame,
    codebooks: list[list[tuple[int, list[int]]]],
    vec_col: str = "qv",
) -> DataFrame:
    """Vectorized PQ encode: one Arrow-batched pandas UDF computing all
    M codes per vector as integer matrix products
    (scores = ||c||^2 - 2 * X_sub @ B^T, argmin per row). This is the
    scale path for the encode step: the per-row work is a handful of
    BLAS-shaped int64 matmuls over the batch instead of interpreted
    per-centroid folds (measured ~50x: 3.2 s -> 0.06 s per 2k rows at
    dim 64, k 14). numpy int64 arithmetic is exact, and np.argmin
    returns the FIRST minimum — the same (distance, lowest-cid)
    tie-break as the SQL oracle and the plan-literal reference encode
    in tests/test_pipelines.py. Adds a ``codes`` array<int> column
    (positions into each cid-sorted codebook)."""
    from pyspark.sql.functions import pandas_udf

    books = [
        np.array([cv for _, cv in sorted(b)], dtype=np.int64) for b in codebooks
    ]
    c2s = [(B * B).sum(axis=1) for B in books]
    sub_len = books[0].shape[1]

    @pandas_udf("array<integer>")
    def enc(v: pd.Series) -> pd.Series:
        if len(v) == 0:
            return pd.Series([], dtype=object)
        X = np.array(v.tolist(), dtype=np.int64)
        out = np.empty((X.shape[0], len(books)), dtype=np.int32)
        for m, B in enumerate(books):
            S = X[:, m * sub_len:(m + 1) * sub_len]
            scores = c2s[m][None, :] - 2 * (S @ B.T)
            out[:, m] = np.argmin(scores, axis=1)
        return pd.Series(list(out))

    return df.withColumn("codes", enc(F.col(vec_col)))


def adc_from_lut_codes(lut_col: Column, codes_col: Column, n_codes: int, n_subspaces: int) -> Column:
    """ADC distance from a query LUT column and a packed ``codes``
    array column: sum over subspaces of lut[m*K + codes[m]]."""
    total = F.lit(0).cast("long")
    for m in range(n_subspaces):
        total = total + F.element_at(
            lut_col, F.lit(m * n_codes) + F.element_at(codes_col, m + 1) + 1
        )
    return total


def assign_cells_np(
    df: DataFrame, codebook: list[tuple[int, list[int]]], vec_col: str = "qv"
) -> DataFrame:
    """Vectorized twin of assign_cells_literal: one Arrow batch UDF
    computes every row's nearest centroid as an int64 matmul argmin
    (scores = ||c||^2 - 2 X @ C^T, same ordering as squared distance;
    ties -> first minimum = lowest cell_id since centroids are sorted
    by id). Zero shuffle, BLAS-shaped per batch — the encode-side
    scale path when the codebook is too large for cheap expression
    folds."""
    from pyspark.sql.functions import pandas_udf

    ordered = sorted(codebook)
    cents = np.array([cv for _, cv in ordered], dtype=np.int64)
    cids = np.array([cid for cid, _ in ordered], dtype=np.int64)
    c2 = (cents * cents).sum(axis=1)

    @pandas_udf("long")
    def cell(v: pd.Series) -> pd.Series:
        if len(v) == 0:
            return pd.Series([], dtype="int64")
        X = np.array(v.tolist(), dtype=np.int64)
        scores = c2[None, :] - 2 * (X @ cents.T)
        return pd.Series(cids[np.argmin(scores, axis=1)])

    return df.withColumn("cell_id", cell(F.col(vec_col)))


def semdedup_cell_drops(assigned: DataFrame, tau: float) -> DataFrame:
    """SemDeDup's within-cell pass as grouped Arrow batches: for each
    cell, compute the full pairwise cosine matrix with one integer
    Gram matmul and emit every vector whose cosine to an EARLIER
    (lower-id) same-cell vector reaches tau, with its max such cosine
    (unrounded — callers round, keeping the engine's half-up rounding
    convention). This is the method's actual scale shape: the
    quadratic term is bounded by max cell size, each cell is one
    in-memory numpy job, and the only shuffle is the groupBy(cell).
    Production caps cell size by recursive re-clustering."""

    def drops(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("vec_id").reset_index(drop=True)
        X = np.array(pdf["qv"].tolist(), dtype=np.int64)
        if len(pdf) < 2:
            return pd.DataFrame(
                {"vec_id": [], "cell_id": [], "max_cos": []}
            ).astype({"vec_id": "int64", "cell_id": "int64", "max_cos": "float64"})
        G = (X @ X.T).astype(np.float64)
        n = np.sqrt(np.diag(G))
        C = G / np.outer(n, n)
        best = np.full(len(pdf), -np.inf)
        for j in range(1, len(pdf)):
            best[j] = C[:j, j].max()
        mask = best >= tau
        return pd.DataFrame(
            {
                "vec_id": pdf["vec_id"][mask].astype("int64"),
                "cell_id": pdf["cell_id"][mask].astype("int64"),
                "max_cos": best[mask],
            }
        )

    return assigned.groupBy("cell_id").applyInPandas(
        drops, "vec_id long, cell_id long, max_cos double"
    )
