"""ML tests (SURVEY.md §5.5): seeded models on planted-structure data —
elbow picks the planted k, threshold flags exactly the planted outliers.
"""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from bigdata_invoice_stream_analysis_spark.ml.anomaly import (
    load_model,
    load_threshold,
    save_model,
    save_threshold,
    score,
    train_threshold,
)
from bigdata_invoice_stream_analysis_spark.ml.train import (
    assemble_features,
    elbow_selection,
    select_model,
    train_sweep,
)


def test_elbow_selection_basic():
    # 40/100=0.4 <= .7; 16/40=0.4 <= .7; 15/16=0.94 > .7 → step to
    # index 3 didn't help, elbow = index 2 (last sharp-drop k)
    costs = [100.0, 40.0, 16.0, 15.0, 14.5]
    assert elbow_selection(costs) == 2


def test_elbow_selection_no_elbow():
    # monotone steep descent → no ratio > 0.7 → last index (the
    # reference crashed here with ArrayIndexOutOfBounds, train.scala:65)
    costs = [100.0, 50.0, 25.0, 12.0]
    assert elbow_selection(costs) == 3


def test_elbow_selection_zero_cost():
    assert elbow_selection([10.0, 0.0, 0.0]) == 1


@pytest.fixture(scope="module")
def blobs(spark):
    """3 well-separated 5-dim gaussian blobs + 5 extreme outliers."""
    rng = np.random.default_rng(7)
    centers = np.array(
        [[0, 0, 0, 0, 0], [20, 20, 20, 20, 20], [-20, 10, -20, 10, -20]],
        dtype=float,
    )
    pts = []
    for c in centers:
        pts.append(rng.normal(c, 0.5, size=(60, 5)))
    inliers = np.vstack(pts)
    outliers = rng.normal(200, 1.0, size=(5, 5))
    rows = [(f"in{i}", *map(float, p)) for i, p in enumerate(inliers)]
    rows += [(f"out{i}", *map(float, p)) for i, p in enumerate(outliers)]
    cols = ["id", "AvgUnitPrice", "MinUnitPrice", "MaxUnitPrice", "Time", "NumberItems"]
    return assemble_features(spark.createDataFrame(rows, cols))


@pytest.mark.parametrize("algo", ["kmeans", "bisecting"])
def test_sweep_and_elbow_find_planted_k(blobs, algo):
    inliers = blobs.filter(~F.col("id").startswith("out")).cache()
    results = train_sweep(inliers, algo=algo, ks=range(2, 7), seed=42, max_iter=10)
    best = select_model(results)
    assert best.k == 3, f"{algo}: elbow picked k={best.k}, costs={[r.cost for r in results]}"


def test_threshold_flags_planted_outliers(blobs, tmp_path):
    inliers = blobs.filter(~F.col("id").startswith("out")).cache()
    results = train_sweep(inliers, ks=[3], seed=42, max_iter=10)
    model = results[0].model

    # threshold rule scaled to fixture size: 10th-largest training dist
    thr = train_threshold(inliers, model, rank=10)
    assert thr > 0

    scored = score(blobs, model).filter(F.col("dist") > thr)
    flagged = {r["id"] for r in scored.select("id").collect()}
    assert {f"out{i}" for i in range(5)} <= flagged
    # at most the 9 rank-slack inliers may be over threshold
    assert len(flagged - {f"out{i}" for i in range(5)}) < 10


def test_score_distance_matches_numpy(blobs):
    results = train_sweep(blobs, ks=[3], seed=42, max_iter=10)
    model = results[0].model
    scored = score(blobs, model).select("id", "features", "prediction", "dist").collect()
    centers = model.clusterCenters()
    for r in scored[:20]:
        expected = float(np.sum((np.array(r["features"]) - centers[r["prediction"]]) ** 2))
        assert r["dist"] == pytest.approx(expected, rel=1e-9)


def test_model_and_threshold_roundtrip(blobs, tmp_path):
    results = train_sweep(blobs, ks=[3], seed=42, max_iter=5)
    model = results[0].model
    mpath = str(tmp_path / "model")
    tpath = str(tmp_path / "threshold.json")
    save_model(model, mpath)
    save_threshold(1.5, tpath)
    loaded = load_model(mpath)
    assert [list(c) for c in loaded.clusterCenters()] == [
        list(c) for c in model.clusterCenters()
    ]
    assert load_threshold(tpath) == 1.5
