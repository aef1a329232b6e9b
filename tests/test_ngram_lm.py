"""n-gram LM statistics (functions/ngram_lm.py): bigram explosion
and trigram explosion vs a Python reference, integer support stats
hand-computed on a toy corpus, and the zero-Python plan pin."""

from __future__ import annotations

import re
import sys
from collections import Counter
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

from bigdata_invoice_stream_analysis_spark.functions.ngram_lm import (
    doc_ngrams,
    lm_support,
)

DOCS = [
    (0, "the cat sat on the mat"),
    (1, "the cat ran"),
    (2, "a dog sat on the mat"),
    (3, "zebra"),          # single token: no bigrams
    (4, ""),               # empty: no tokens at all
]


def _tok(t):
    return re.findall("[a-z]+", t.lower())


def _ref_bigrams(t):
    w = _tok(t)
    return list(zip(w, w[1:]))


def test_doc_bigrams_matches_reference(spark):
    df = spark.createDataFrame(DOCS, "doc_id long, text string")
    got = sorted(
        (r["doc_id"], r["w1"], r["w2"])
        for r in doc_ngrams(df, 2).collect()
    )
    want = sorted(
        (d, w1, w2) for d, t in DOCS for w1, w2 in _ref_bigrams(t)
    )
    assert got == want


def test_lm_support_hand_computed(spark):
    df = spark.createDataFrame(DOCS, "doc_id long, text string")
    corpus = Counter(
        bg for _, t in DOCS for bg in _ref_bigrams(t)
    )
    want = {}
    for d, t in DOCS:
        bgs = _ref_bigrams(t)
        want[d] = (
            len(bgs),
            sum(corpus[b] for b in bgs),
            sum(1 for b in bgs if corpus[b] < 2),
        )
    got = {
        r["doc_id"]: (r["n_bigrams"], r["support_sum"], r["n_rare"])
        for r in lm_support(df).collect()
    }
    assert got == want
    # every document comes back, including the bigram-less ones
    assert got[3] == (0, 0, 0) and got[4] == (0, 0, 0)


def test_zero_python_plan(spark):
    df = spark.createDataFrame(DOCS, "doc_id long, text string")
    plan = lm_support(df)._jdf.queryExecution().executedPlan().toString()
    assert "PythonUDF" not in plan
    assert "BatchEvalPython" not in plan


def test_doc_trigrams_matches_reference(spark):
    df = spark.createDataFrame(DOCS, "doc_id long, text string")
    got = sorted(
        (r["doc_id"], r["w1"], r["w2"], r["w3"])
        for r in doc_ngrams(df, 3).collect()
    )
    want = sorted(
        (d, *tri)
        for d, t in DOCS
        for tri in zip(_tok(t), _tok(t)[1:], _tok(t)[2:])
    )
    assert got == want


def test_lm_support_trigram_hand_computed(spark):
    df = spark.createDataFrame(DOCS, "doc_id long, text string")
    corpus = Counter(
        tri for _, t in DOCS
        for tri in zip(_tok(t), _tok(t)[1:], _tok(t)[2:])
    )
    want = {}
    for d, t in DOCS:
        tris = list(zip(_tok(t), _tok(t)[1:], _tok(t)[2:]))
        want[d] = (
            len(tris),
            sum(corpus[x] for x in tris),
            sum(1 for x in tris if corpus[x] < 2),
        )
    got = {
        r["doc_id"]: (r["n_bigrams"], r["support_sum"], r["n_rare"])
        for r in lm_support(df, n=3).collect()
    }
    assert got == want
    # 2-token doc 1? no — doc 1 has 3 tokens → exactly 1 trigram;
    # the 1-token and empty docs still come back as zeros
    assert got[3] == (0, 0, 0) and got[4] == (0, 0, 0)
