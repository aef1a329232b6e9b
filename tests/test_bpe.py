"""Distributed BPE: Spark-trained merge tables pinned to a pure
Python reference implementation of the Sennrich algorithm (same
deterministic tie-break), encode/detokenize roundtrips, and the
vocabulary report."""

from __future__ import annotations

import sys
from collections import Counter
from pathlib import Path

from hypothesis import given, settings
from hypothesis import strategies as st

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

from bigdata_invoice_stream_analysis_spark.operators.bpe import (
    EOW,
    bpe_encode,
    bpe_segment,
    learn_bpe,
    word_frequencies,
)

CORPUS = [
    "the cat sat on the mat",
    "the cats sat on the mats",
    "a cat and a dog and a cat",
    "dogs and cats and dogs",
    "the dog sat",
]


# --- pure-Python reference (Sennrich et al. 2016) ---------------------------

def _ref_word_freqs(corpus):
    import re

    freqs = Counter()
    for line in corpus:
        for w in re.findall(
            r"'(?:s|t|re|ve|m|ll|d)|[^\W\d_]+|\d+|[^\w\s]+", line
        ):
            freqs[w] += 1
    return freqs


def _ref_learn_bpe(freqs, num_merges, min_freq=2):
    vocab = {
        tuple(list(w[:-1]) + [w[-1] + EOW]): f for w, f in freqs.items()
    }
    merges = []
    for _ in range(num_merges):
        pairs = Counter()
        for syms, f in vocab.items():
            for i in range(len(syms) - 1):
                pairs[(syms[i], syms[i + 1])] += f
        if not pairs:
            break
        # count desc, then pair lexicographic asc — the same total
        # order the Spark trainer uses
        best = min(pairs.items(), key=lambda kv: (-kv[1], kv[0]))
        if best[1] < min_freq:
            break
        (a, b) = best[0]
        merges.append((a, b))
        new_vocab = {}
        for syms, f in vocab.items():
            out = []
            i = 0
            while i < len(syms):
                if (i + 1 < len(syms) and syms[i] == a
                        and syms[i + 1] == b):
                    out.append(a + b)
                    i += 2
                else:
                    out.append(syms[i])
                    i += 1
            new_vocab[tuple(out)] = new_vocab.get(tuple(out), 0) + f
        vocab = new_vocab
    return merges


def _docs_df(spark, corpus=CORPUS):
    return spark.createDataFrame(
        [(i, t) for i, t in enumerate(corpus)], "doc_id long, text string")


def test_word_frequencies_match_reference(spark):
    got = {r["word"]: r["freq"]
           for r in word_frequencies(_docs_df(spark)).collect()}
    assert got == dict(_ref_word_freqs(CORPUS))


def test_spark_merges_match_reference(spark):
    wf = word_frequencies(_docs_df(spark))
    spark_merges = learn_bpe(wf, 20)
    ref_merges = _ref_learn_bpe(_ref_word_freqs(CORPUS), 20)
    assert spark_merges == ref_merges
    assert len(spark_merges) >= 5  # the corpus supports real merges


def test_segment_greedy_nonoverlap():
    # initial symbols fuse EOW onto the last char: a a a a</w>
    assert bpe_segment("cat", {}) == ["c", "a", "t" + EOW]
    # (a,a) merges disjoint pairs left-to-right; (a, a</w>) is a
    # DIFFERENT pair and must not merge
    assert bpe_segment("aaaa", {("a", "a"): 0}) == [
        "aa", "a", "a" + EOW]
    # chained ranks: aa+aa only exists after a+a, and the EOW-fused
    # symbol needs its own merge entry
    ranks = {("a", "a"): 0, ("a", "a" + EOW): 1, ("aa", "aa" + EOW): 2}
    assert bpe_segment("aaaa", ranks) == ["aaaa" + EOW]
    assert bpe_segment("aaaaa", ranks) == ["aa", "aa", "a" + EOW]


def test_encode_detokenize_roundtrip(spark):
    wf = word_frequencies(_docs_df(spark))
    merges = learn_bpe(wf, 30)
    toks = (bpe_encode(_docs_df(spark), merges)
            .orderBy("doc_id", "position").collect())
    by_doc: dict[int, list[str]] = {}
    for r in toks:
        by_doc.setdefault(r["doc_id"], []).append(r["token"])
    for i, line in enumerate(CORPUS):
        joined = "".join(by_doc[i])
        # EOW marks word ends; words in this corpus are space-joined
        assert joined.replace(EOW, " ").strip() == line


def test_encode_matches_per_word_reference(spark):
    wf = word_frequencies(_docs_df(spark))
    merges = learn_bpe(wf, 15)
    ranks = {p: i for i, p in enumerate(merges)}
    rows = (bpe_encode(_docs_df(spark), merges)
            .where("doc_id = 0").orderBy("position").collect())
    expect = []
    for w in ["the", "cat", "sat", "on", "the", "mat"]:
        expect.extend(bpe_segment(w, ranks))
    assert [r["token"] for r in rows] == expect


@settings(max_examples=8, deadline=None)
@given(st.lists(
    st.text(alphabet="abcd ", min_size=1, max_size=30),
    min_size=1, max_size=6,
))
def test_property_spark_reference_agreement(spark, corpus):
    corpus = [c for c in corpus if c.strip()]
    if not corpus:
        return
    wf = word_frequencies(_docs_df(spark, corpus))
    assert learn_bpe(wf, 8) == _ref_learn_bpe(
        _ref_word_freqs(corpus), 8)
