"""Exact duplicated-span extraction — substring-level dedup in the
style of Lee et al. 2021 ("Deduplicating Training Data Makes
Language Models Better"): find the actual repeated PASSAGES between
documents, not just near-duplicate documents.

The suffix-array construction of the paper doesn't distribute
naturally; the relational decomposition here does, and slots behind
the candidate generators this repo already grades (MinHash/LSH,
SimHash, winnowing):

1. CANDIDATE PAIRS (doc_a, doc_b) come in from any of those — the
   expensive all-pairs problem is already solved by banding, so the
   span extractor's cost is bounded by candidates, not corpus².
2. k-gram tables for just the docs appearing in pairs (semi-join
   prune): ``sequence → explode → substring → xxhash64``, all
   JVM-side.
3. Matches join on the gram hash AND the gram text (hash collisions
   priced at zero), constrained to the candidate pairs.
4. Adjacent matches merge via the DIAGONAL-ISLANDS trick: every
   match on one duplicated span shares ``diag = pos_a - pos_b``, and
   consecutive positions collapse under ``pos_a - row_number()`` —
   one window + one group-by turns per-position matches into
   (start_a, start_b, length) spans, with length = run + k - 1.

Output spans are maximal runs of matching k-grams ≥ ``min_len``.
Everything is Column algebra — the only Python is this plan
builder.

Reference: n/a (extension surface).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F
from pyspark.sql.window import Window


def kgram_table(
    docs: DataFrame, k: int, *,
    id_col: str = "doc_id", text_col: str = "text",
) -> DataFrame:
    """(doc_id, pos, gram, gram_hash) for every k-gram (0-based
    positions).  Documents shorter than k yield no rows."""
    return (
        docs.where(F.length(text_col) >= k)
        .select(
            F.col(id_col).alias("doc_id"),
            F.explode(
                F.sequence(F.lit(0), F.length(text_col) - k)
            ).alias("pos"),
            F.col(text_col),
        )
        .select(
            "doc_id", "pos",
            F.expr(f"substring({text_col}, pos + 1, {k})")
            .alias("gram"),
        )
        .withColumn("gram_hash", F.xxhash64("gram"))
    )


def duplicate_spans(
    docs: DataFrame,
    pairs: DataFrame,
    k: int = 16,
    *,
    min_len: int | None = None,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Maximal duplicated spans for candidate pairs.

    ``pairs``: (doc_a, doc_b) with doc_a < doc_b by convention.
    Returns (doc_a, doc_b, a_start, b_start, length) — every maximal
    run of position-adjacent matching k-grams, so ``length`` is the
    exact byte length of the shared passage.  ``min_len`` defaults
    to ``2 * k`` (spans barely over one gram are noise at corpus
    scale)."""
    min_len = 2 * k if min_len is None else min_len

    wanted = (
        pairs.select(F.col("doc_a").alias("doc_id"))
        .union(pairs.select(F.col("doc_b").alias("doc_id")))
        .distinct()
    )
    grams = kgram_table(
        docs.join(wanted, docs[id_col] == wanted["doc_id"],
                  "left_semi"),
        k, id_col=id_col, text_col=text_col,
    )
    ga = grams.select(
        F.col("doc_id").alias("ga_doc"), F.col("pos").alias("pos_a"),
        F.col("gram").alias("gram_a"),
        F.col("gram_hash").alias("h_a"),
    )
    gb = grams.select(
        F.col("doc_id").alias("gb_doc"), F.col("pos").alias("pos_b"),
        F.col("gram").alias("gram_b"),
        F.col("gram_hash").alias("h_b"),
    )
    matches = (
        pairs.select("doc_a", "doc_b")
        .join(ga, F.col("doc_a") == F.col("ga_doc"))
        .join(
            gb,
            (F.col("doc_b") == F.col("gb_doc"))
            & (F.col("h_a") == F.col("h_b"))
            & (F.col("gram_a") == F.col("gram_b")),  # collision guard
        )
        .select("doc_a", "doc_b", "pos_a", "pos_b")
        .withColumn("diag", F.col("pos_a") - F.col("pos_b"))
        .dropDuplicates(["doc_a", "doc_b", "diag", "pos_a"])
    )
    w = Window.partitionBy("doc_a", "doc_b", "diag").orderBy("pos_a")
    return (
        matches
        .withColumn("island", F.col("pos_a") - F.row_number().over(w))
        .groupBy("doc_a", "doc_b", "diag", "island")
        .agg(
            F.min("pos_a").alias("a_start"),
            F.min("pos_b").alias("b_start"),
            (F.count("*") + F.lit(k - 1)).alias("length"),
        )
        .where(F.col("length") >= min_len)
        .select("doc_a", "doc_b", "a_start", "b_start", "length")
    )


def span_dedup_stats(spans: DataFrame) -> DataFrame:
    """Per doc_b rollup: how much of each document is covered by
    spans duplicated from elsewhere — upper bound via span-length
    sum (overlap-free for distinct diagonals of one source is not
    guaranteed, so this is the audit number, not a byte count to
    subtract)."""
    return spans.groupBy("doc_b").agg(
        F.count("*").alias("n_spans"),
        F.sum("length").alias("dup_len_sum"),
        F.max("length").alias("longest"),
        F.count_distinct("doc_a").alias("n_sources"),
    )
