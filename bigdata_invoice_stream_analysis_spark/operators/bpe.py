"""Distributed BPE tokenizer training + encoding — the operator a
training-data pipeline runs right before it ships tokens.

Byte-pair-encoding a la Sennrich et al. 2016 (public algorithm):
start from characters (plus an end-of-word marker), repeatedly merge
the most frequent adjacent symbol pair.  The Spark decomposition
exploits the shape of the problem:

* The only CORPUS-scale work is pre-tokenization + word counting —
  one regexp_extract_all projection and one hash aggregation.  At
  100 TB this is a single map-side-combinable shuffle.
* The merge-training loop runs on the (word, freq) table, whose size
  is the corpus VOCABULARY (bounded by the language, not the data):
  pair counting is ``slice``+``arrays_zip``+``explode`` weighted by
  word frequency, and applying a merge is a greedy left-to-right
  fold written with ``F.aggregate`` — pure Column algebra, zero
  Python per row.  Each iteration collects exactly ONE row (the
  argmax pair) and truncates lineage with ``localCheckpoint`` so the
  plan doesn't deepen with the merge count.
* Tie-breaking is total and deterministic (count desc, then pair
  lexicographic asc) so the same corpus yields the same merge table
  on any engine — the unit suite pins Spark-trained merges to a pure
  Python reference implementation.
* ENCODING with a trained merge table is embarrassingly parallel:
  the ranked merge list broadcasts (closure capture — it is
  KB-scale) and an Arrow ``mapInPandas`` applies the standard
  lowest-rank-first merge loop per word, memoized per batch.

Reference: n/a (extension surface).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

EOW = "</w>"

# contractions | letter runs | digit runs | other-symbol runs
# (a Java-regex-compatible cousin of the GPT-2 pre-tokenizer).
PRETOKEN_RE = r"'(?:s|t|re|ve|m|ll|d)|\p{L}+|\p{N}+|[^\s\p{L}\p{N}]+"


def pretokenize(text: Column) -> Column:
    """Corpus text → array of word tokens (JVM regex, map-side)."""
    return F.regexp_extract_all(text, F.lit(PRETOKEN_RE), 0)


def word_frequencies(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """(word, freq) over the corpus — the one corpus-scale shuffle
    of BPE training (map-side combinable hash agg)."""
    return (
        docs.select(
            F.explode(pretokenize(F.col(text_col))).alias("word"))
        .groupBy("word")
        .agg(F.count("*").alias("freq"))
    )


def _initial_symbols(word: Column) -> Column:
    """word → [c1, c2, ..., cN + EOW] (marker fused onto the last
    character so it merges like any symbol)."""
    chars = F.split(word, "")
    n = F.size(chars)
    return F.concat(
        F.slice(chars, 1, n - 1),
        F.array(F.concat(F.element_at(chars, -1), F.lit(EOW))),
    )


def _merge_expr(arr: Column, a: str, b: str) -> Column:
    """Greedy left-to-right merge of adjacent (a, b) into a+b, as a
    pure-Column fold: append each symbol, except that when the
    accumulator ends with `a` and the next symbol is `b`, the tail
    is replaced by the fused symbol.  Because the fused symbol
    differs from `a` (length grows), a just-merged pair can't chain
    into the next occurrence — exactly the reference semantics."""
    ab = a + b
    return F.aggregate(
        arr,
        F.array().cast("array<string>"),
        lambda acc, x: F.when(
            (F.size(acc) > 0)
            & (F.element_at(acc, -1) == F.lit(a))
            & (x == F.lit(b)),
            F.concat(F.slice(acc, 1, F.size(acc) - 1),
                     F.array(F.lit(ab))),
        ).otherwise(F.concat(acc, F.array(x))),
    )


def _pair_counts(words: DataFrame) -> DataFrame:
    pairs = F.arrays_zip(
        F.slice(F.col("symbols"), 1, F.size("symbols") - 1).alias("a"),
        F.slice(F.col("symbols"), 2, F.size("symbols") - 1).alias("b"),
    )
    return (
        words.where(F.size("symbols") >= 2)
        .select("freq", F.explode(pairs).alias("p"))
        .groupBy(F.col("p.a").alias("a"), F.col("p.b").alias("b"))
        .agg(F.sum("freq").alias("n"))
    )


def learn_bpe(
    word_freqs: DataFrame,
    num_merges: int,
    *,
    min_freq: int = 2,
) -> list[tuple[str, str]]:
    """Train the merge table: ``word_freqs`` is (word, freq); returns
    up to ``num_merges`` merges in order.  Each iteration is one
    metadata-scale job over the vocabulary table plus a ONE-ROW
    collect (the argmax pair); lineage is truncated per iteration so
    plan depth stays constant."""
    words = word_freqs.select(
        "freq", _initial_symbols(F.col("word")).alias("symbols")
    ).localCheckpoint()
    merges: list[tuple[str, str]] = []
    for _ in range(num_merges):
        best = (
            _pair_counts(words)
            .orderBy(F.col("n").desc(), F.col("a"), F.col("b"))
            .limit(1)
            .collect()
        )
        if not best or best[0]["n"] < min_freq:
            break
        a, b = best[0]["a"], best[0]["b"]
        merges.append((a, b))
        new_words = words.select(
            "freq", _merge_expr(F.col("symbols"), a, b).alias("symbols")
        ).localCheckpoint()  # eager: materialized before the release
        # release the PREVIOUS iteration's checkpoint blocks — without
        # this the loop accumulates one cached copy of the vocabulary
        # table per merge
        words.unpersist()
        words = new_words
    words.unpersist()
    return merges


def bpe_segment(word: str, ranks: dict[tuple[str, str], int]) -> list[str]:
    """Reference encode loop (also used executor-side): repeatedly
    apply the lowest-rank merge present in the word."""
    if not word:
        return []
    syms = list(word[:-1]) + [word[-1] + EOW]
    while len(syms) >= 2:
        pairs = [(ranks.get((syms[i], syms[i + 1]), None), i)
                 for i in range(len(syms) - 1)]
        ranked = [(r, i) for r, i in pairs if r is not None]
        if not ranked:
            break
        r_min = min(r for r, _ in ranked)
        a, b = None, None
        out: list[str] = []
        i = 0
        while i < len(syms):
            if (i + 1 < len(syms)
                    and ranks.get((syms[i], syms[i + 1])) == r_min):
                out.append(syms[i] + syms[i + 1])
                a, b = syms[i], syms[i + 1]
                i += 2
            else:
                out.append(syms[i])
                i += 1
        syms = out
    return syms


def bpe_encode(
    docs: DataFrame,
    merges: list[tuple[str, str]],
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """(doc_id, token, position) token stream: pre-tokenize JVM-side,
    segment per word in Arrow batches with the broadcast merge
    ranks, memoized per distinct word within a batch.  Map-side
    only."""
    from pyspark.sql import types as T

    ranks = {pair: i for i, pair in enumerate(merges)}
    out_schema = T.StructType([
        T.StructField("doc_id", T.LongType(), False),
        T.StructField("position", T.IntegerType(), False),
        T.StructField("token", T.StringType(), False),
    ])

    pre = docs.select(
        F.col(id_col).cast("long").alias("doc_id"),
        pretokenize(F.col(text_col)).alias("words"),
    )

    def batches(it):
        import pandas as pd

        from bigdata_invoice_stream_analysis_spark.operators.bpe import (
            bpe_segment,
        )

        for pdf in it:
            memo: dict[str, list[str]] = {}
            ids, positions, tokens = [], [], []
            for did, words in zip(pdf["doc_id"], pdf["words"]):
                pos = 0
                for w in words:
                    segs = memo.get(w)
                    if segs is None:
                        segs = memo[w] = bpe_segment(w, ranks)
                    for s in segs:
                        ids.append(did)
                        positions.append(pos)
                        tokens.append(s)
                        pos += 1
            yield pd.DataFrame({
                "doc_id": ids, "position": positions, "token": tokens,
            })

    return pre.mapInPandas(batches, schema=out_schema)
