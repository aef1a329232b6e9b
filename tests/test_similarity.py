"""Unit tests for operators/similarity.py — quantized cosine math vs
numpy, top-k ranking, IVF cell pruning, near-dup pair detection."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from bigdata_invoice_stream_analysis_spark.operators import similarity as SIM

DIM = 8


def make_vecs(spark, n=50, seed=3):
    rng = np.random.default_rng(seed)
    vecs = rng.normal(0, 1, size=(n, DIM)).astype(np.float32)
    # plant: vec 1 = vec 0 + tiny noise
    vecs[1] = vecs[0] + rng.normal(0, 1e-4, DIM).astype(np.float32)
    schema = T.StructType(
        [
            T.StructField("vec_id", T.LongType()),
            T.StructField("embedding", T.ArrayType(T.FloatType())),
        ]
    )
    rows = [(i, [float(x) for x in v]) for i, v in enumerate(vecs)]
    return spark.createDataFrame(rows, schema), vecs


@pytest.fixture(scope="module")
def vec_df(spark):
    return make_vecs(spark)


def test_quant_cosine_matches_numpy(vec_df):
    df, vecs = vec_df
    q = df.select(F.col("vec_id").alias("id"),
                  SIM.quantize(F.col("embedding")).alias("qv"))
    pairs = q.alias("a").join(q.alias("b"), F.col("a.id") < F.col("b.id"))
    out = pairs.select(
        F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"),
        SIM.quant_cosine(F.col("a.qv"), F.col("b.qv")).alias("cosine"),
    ).collect()
    got = {(r["id_a"], r["id_b"]): r["cosine"] for r in out}
    q = np.round(vecs.astype(np.float64) * SIM.QUANT_SCALE)
    for (a, b), c in list(got.items())[:50]:
        expect = float(
            q[a] @ q[b] / (np.sqrt(q[a] @ q[a]) * np.sqrt(q[b] @ q[b]))
        )
        assert c == pytest.approx(expect, rel=1e-12)


def test_knn_topk_ranks_planted_neighbor_first(vec_df):
    df, _ = vec_df
    out = SIM.knn_topk(df.filter(F.col("vec_id") == 0), df, k=3).collect()
    assert len(out) == 3
    assert out[0]["rank"] == 1 and out[0]["neighbor_id"] == 1
    assert out[0]["cosine"] > 0.999


def test_knn_topk_excludes_self(vec_df):
    df, _ = vec_df
    out = SIM.knn_topk(df.filter(F.col("vec_id") < 5), df, k=5).collect()
    assert all(r["query_id"] != r["neighbor_id"] for r in out)
    by_q = {}
    for r in out:
        by_q.setdefault(r["query_id"], []).append(r["rank"])
    assert all(sorted(v) == [1, 2, 3, 4, 5] for v in by_q.values())


def test_ivf_same_cell_neighbor_found(vec_df):
    df, _ = vec_df
    out = SIM.ivf_topk(
        df.filter(F.col("vec_id") == 0), df, k=3, centroid_mod=10
    ).collect()
    # vec 1 is near-identical to vec 0 → identical cell → rank 1
    assert out[0]["neighbor_id"] == 1 and out[0]["rank"] == 1


def test_sign_lsh_pairs_matches_bruteforce_on_planted(vec_df):
    df, _ = vec_df
    out = SIM.sign_lsh_pairs(df, threshold=0.99, dim=DIM).collect()
    assert {(r["id_a"], r["id_b"]) for r in out} == {(0, 1)}


# ---------------------------------------------------------------------------
# Scalar-quantized (int8) ANN
# ---------------------------------------------------------------------------

def test_sq8_codes_clamp_and_round(spark):
    row = spark.range(1).select(
        SIM.sq8(F.array(*[F.lit(x).cast("long") for x in
                          [0, 499, 500, -500, 1_000_000, -1_000_000]])).alias("c")
    ).first()
    assert row["c"] == [0, 0, 1, -1, 127, -127]


def test_sq8_topk_finds_planted_neighbor(spark):
    """A near-identical planted vector must rank 1 for its query; the
    coarse int8 phase may reorder distant candidates but cannot miss a
    near-duplicate (its coarse dot is also maximal)."""
    import math

    base = [math.cos(i * 0.37) for i in range(16)]
    near = [x * 1.001 for x in base]
    far = [[math.sin(i * 0.91 + j) for i in range(16)] for j in range(8)]
    rows = (
        [(0, base), (1, near)]
        + [(10 + j, v) for j, v in enumerate(far)]
    )
    df = spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in rows], "vec_id long, embedding array<float>"
    )
    out = SIM.sq8_topk(df.filter(F.col("vec_id") == 0), df, k=3, n_candidates=5)
    top = out.filter(F.col("rank") == 1).first()
    assert top["neighbor_id"] == 1
    assert top["cosine"] > 0.999
    # candidate phase caps the rerank set
    assert out.count() == 3


def test_top_pc_matches_numpy_eigh(spark):
    """The power-iteration principal component (Gram pass + driver
    iteration) must align with numpy's dense eigendecomposition of the
    same exact-integer Gram matrix: |cosine| ≈ 1 and matching top
    eigenvalue."""
    import numpy as np

    from bigdata_invoice_stream_analysis_spark.plans.extensions import (
        q_embedding_gram_matrix,
        q_embedding_top_pc,
    )

    sf_dir = "/root/testdata/sf0.001"
    g = np.zeros((64, 64))
    for r in q_embedding_gram_matrix(spark, sf_dir).collect():
        g[r.dim_i - 1, r.dim_j - 1] = r.gram
        g[r.dim_j - 1, r.dim_i - 1] = r.gram
    evals, evecs = np.linalg.eigh(g)
    top = evecs[:, -1]

    rows = sorted(q_embedding_top_pc(spark, sf_dir).collect(), key=lambda r: r.dim)
    v = np.array([r.weight for r in rows])
    assert abs(abs(float(np.dot(v, top)) / (np.linalg.norm(v) * np.linalg.norm(top))) - 1.0) < 1e-8
    assert abs(rows[0].eigenvalue - evals[-1]) / evals[-1] < 1e-9
