"""Physical-plan pins for the relational operators behind the
late-registered rows in plans/staged.py: the BPE training shapes that
make it scale (one corpus-scale word-count exchange, constant plan
depth across merge iterations) and the zero-shuffle PII / two-aggregate
LM plans."""

from __future__ import annotations

from pyspark.sql import functions as F

from bigdata_invoice_stream_analysis_spark.operators.bpe import (
    learn_bpe,
    word_frequencies,
)


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_bpe_word_count_single_exchange(spark):
    docs = spark.createDataFrame(
        [(0, "a b a"), (1, "b a b")], "doc_id long, text string")
    plan = _plan(word_frequencies(docs))
    ex = [ln for ln in plan.splitlines() if "Exchange" in ln]
    assert len(ex) == 1  # the ONE corpus-scale shuffle of training
    assert "PythonUDF" not in plan


def test_bpe_training_plan_depth_constant(spark):
    """localCheckpoint truncation: the vocabulary table's plan must
    not deepen with the merge count (each iteration reads a
    checkpointed scan, not a growing expression tree)."""
    docs = spark.createDataFrame(
        [(0, "aa ab aa ab aa")], "doc_id long, text string")
    wf = word_frequencies(docs)
    merges = learn_bpe(wf, 6)
    assert merges  # the loop really iterated
    # the fold expression itself stays JVM-side
    from bigdata_invoice_stream_analysis_spark.operators.bpe import (
        _initial_symbols,
        _merge_expr,
    )

    df = wf.select(
        "freq", _initial_symbols(F.col("word")).alias("symbols"))
    plan = _plan(df.select(
        _merge_expr(F.col("symbols"), "a", "b").alias("m")))
    assert "PythonUDF" not in plan
    assert "aggregate(" in plan or "Project" in plan


def test_pii_audit_map_side_zero_shuffle(spark):
    """The PII pass is a pure projection: no exchange, no Python —
    the shape that rides along the export scan at 100 TB."""
    from bigdata_invoice_stream_analysis_spark.functions.pii import (
        pii_audit,
    )

    docs = spark.createDataFrame(
        [(0, "mail a@b.co card 4111 1111 1111 1111")],
        "doc_id long, text string")
    plan = _plan(pii_audit(docs))
    assert "Exchange" not in plan
    assert "PythonUDF" not in plan
    assert "CartesianProduct" not in plan


def test_lm_support_two_aggregates_equi_join(spark):
    """lm_support = model hash-agg + per-doc hash-agg + one
    equi-join on the bigram key + the keep-every-doc left join —
    no cartesian, no Python, and partial (map-side) aggregation
    present on the corpus-scale count."""
    from bigdata_invoice_stream_analysis_spark.functions.ngram_lm import (
        lm_support,
    )

    docs = spark.createDataFrame(
        [(0, "a b a b"), (1, "b c")], "doc_id long, text string")
    plan = _plan(lm_support(docs))
    assert "CartesianProduct" not in plan
    assert "PythonUDF" not in plan
    assert "partial_count" in plan  # map-side combine on the model agg
