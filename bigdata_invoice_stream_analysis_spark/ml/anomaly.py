"""Distance-threshold anomaly scoring (reference M3/M4 + T1 + S5/S6).

Scoring strategy (SURVEY.md §2.6): ``model.transform`` assigns the
nearest cluster (`prediction`); the squared distance to that centroid
is computed by BROADCAST-joining a tiny (k × dim) centroids DataFrame
and evaluating sqdist as a native column expression. At 100 TB the
per-row work stays inside WholeStageCodegen; the only data movement is
the broadcast of k·dim doubles.

Threshold rule (train.scala:45-46): 2000th-largest squared distance on
the training set — TakeOrderedAndProject via operators.topk.
"""

from __future__ import annotations

import json
import os

from pyspark.ml.functions import vector_to_array
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from bigdata_invoice_stream_analysis_spark.functions.vectors import sqdist
from bigdata_invoice_stream_analysis_spark.operators.topk import kth_largest

THRESHOLD_RANK = 2000  # train.scala:45-46


def centroids_df(spark: SparkSession, model) -> DataFrame:
    """The model's cluster centers as a tiny (prediction, centroid) DF."""
    centers = [
        (i, [float(x) for x in c]) for i, c in enumerate(model.clusterCenters())
    ]
    return spark.createDataFrame(centers, ["prediction", "centroid"])


def score(df: DataFrame, model, spark: SparkSession | None = None) -> DataFrame:
    """M3 — add `prediction` and `dist` (squared distance to the
    assigned centroid). Input needs a `features` vector column
    (ml.train.assemble_features)."""
    spark = spark or df.sparkSession
    predicted = model.transform(df)
    cents = centroids_df(spark, model)
    joined = predicted.join(F.broadcast(cents), "prediction")
    return joined.withColumn(
        "dist", sqdist(vector_to_array("features"), F.col("centroid"))
    ).drop("centroid")


def train_threshold(train_features: DataFrame, model, rank: int = THRESHOLD_RANK) -> float:
    """T1 — the rank-th largest squared training distance
    (train.scala:45-46). For small inputs (< rank rows) this degrades
    to the overall min distance, like the reference's top(k).last."""
    scored = score(train_features, model)
    t = kth_largest(scored, "dist", rank)
    return float(t) if t is not None else 0.0


# --- persistence (S5/S6) ---------------------------------------------------

def save_model(model, path: str) -> None:
    """S5 — pyspark.ml native save (parquet under the hood, same as the
    reference's MLlib save, train.scala:42)."""
    model.write().overwrite().save(path)


def load_model(path: str, algo: str = "kmeans"):
    from pyspark.ml.clustering import BisectingKMeansModel, KMeansModel

    cls = KMeansModel if algo == "kmeans" else BisectingKMeansModel
    return cls.load(path)


def save_threshold(threshold: float, path: str) -> None:
    """S6 — scalar threshold to a small JSON file (driver-side IO, like
    Clustering.scala:138-144's BufferedWriter)."""
    os.makedirs(os.path.dirname(path) or ".", exist_ok=True)
    with open(path, "w") as f:
        json.dump({"threshold": threshold}, f)


def load_threshold(path: str) -> float:
    """S2 twin — the reference reads this with a 20-partition Spark text
    job (InvoicePipeline.scala:180); a one-line file is driver IO."""
    with open(path) as f:
        return float(json.load(f)["threshold"])
