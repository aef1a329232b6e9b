"""The corpus release gate: the final keep/drop decision.

Every curation pipeline ends in one composed verdict per document —
"does this text ship into the training corpus, and if not, why
not". This module wires the repo's quality surfaces into that
decision as ONE Catalyst plan:

* **quality** — the Gopher document rules
  (functions/text.gopher_quality_flags), all integer-exact Column
  algebra;
* **pii** — the privacy audit (functions/pii.pii_counts): any
  detector firing blocks release (a privacy gate over-blocks, it
  never leaks);
* **rare_ngrams** — the n-gram LM support statistics
  (functions/ngram_lm.lm_support): documents whose bigrams are
  mostly unsupported by the rest of the corpus (strictly more than
  1 in 5 rare, or no bigrams at all) are gibberish/boilerplate
  suspects.

The verdict row is (keep, reasons) plus the contributing signals —
``reasons`` is a comma-joined, fixed-order list of failed gate
names so the funnel report is a plain groupBy. Everything is
boolean/integer/string: bit-identical across engines, so the
registered ``corpus_release_gate`` row hash-compares against a DuckDB
twin that recomputes all three signals from the same table.

Scale posture: Gopher + PII ride the scan map-side; the LM adds its
three bounded exchanges (see functions/ngram_lm.py); the final join
is doc_id-keyed, so at 100 TB this is one job ahead of any shard
export.

Reference: n/a (extension surface, SURVEY.md §2.12 north star).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from bigdata_invoice_stream_analysis_spark.functions.ngram_lm import (
    lm_support,
)
from bigdata_invoice_stream_analysis_spark.functions.pii import pii_counts
from bigdata_invoice_stream_analysis_spark.functions.text import (
    gopher_quality_flags,
)

# Strictly more than 1 rare bigram in RARE_DENOM fails the gate.
RARE_DENOM = 5


def corpus_release_gate(
    docs: DataFrame, text_col: str = "text"
) -> DataFrame:
    """One verdict row per document: ``keep`` plus the fixed-order
    ``reasons`` string ('quality', 'pii', 'rare_ngrams' — empty when
    the document ships) and the contributing signals."""
    # NULL text must yield a definite DROP verdict ('quality'), not
    # NULL booleans — coalesce before every detector.
    col = F.coalesce(F.col(text_col), F.lit(""))
    counts = pii_counts(col)
    has_pii = None
    for c in counts.values():
        has_pii = (c > 0) if has_pii is None else (has_pii | (c > 0))
    signals = docs.select(
        "doc_id",
        gopher_quality_flags(col)["gopher_pass"].alias("gopher_pass"),
        has_pii.alias("has_pii"),
    )
    lm = lm_support(docs.select("doc_id", col.alias("text")))
    out = signals.join(lm, "doc_id")
    rare_ok = (F.col("n_bigrams") > 0) & (
        F.col("n_rare") * RARE_DENOM <= F.col("n_bigrams")
    )
    out = out.withColumn("rare_ok", rare_ok)
    keep = (
        F.col("gopher_pass") & ~F.col("has_pii") & F.col("rare_ok")
    )
    reasons = F.concat_ws(
        ",",
        F.when(~F.col("gopher_pass"), F.lit("quality")),
        F.when(F.col("has_pii"), F.lit("pii")),
        F.when(~F.col("rare_ok"), F.lit("rare_ngrams")),
    )
    return out.select(
        "doc_id", keep.alias("keep"), reasons.alias("reasons"),
        "gopher_pass", "has_pii", "rare_ok", "n_bigrams", "n_rare",
    )
