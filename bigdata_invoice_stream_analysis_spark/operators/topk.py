"""Top-K / threshold operators (reference T1/T2, SURVEY.md §2.4).

T1: the anomaly threshold is the 2000th-largest squared training
distance (`distances.top(2000).last`, train.scala:45-46).

``kth_largest`` — orderBy desc + limit K: Catalyst compiles this to
TakeOrderedAndProject (per-partition top-K heaps + driver merge of
K·numPartitions rows) — no full sort, no full shuffle. Right answer for
K ≪ N (K=2000 vs 100 TB of rows).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def top_k(df: DataFrame, col: str, k: int) -> DataFrame:
    """T1/T2 — the K largest rows by ``col`` (TakeOrderedAndProject)."""
    return df.orderBy(F.desc(col)).limit(k)


def kth_largest(df: DataFrame, col: str, k: int) -> float | None:
    """T1 — value of the K-th largest ``col`` (= min of the top-K set).
    With fewer than K rows, returns the overall min (the reference's
    ``top(k).last`` does the same)."""
    row = top_k(df, col, k).agg(F.min(col).alias("kth")).first()
    return None if row is None else row["kth"]
