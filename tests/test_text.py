"""Unit tests for functions/text.py (tokenize/shingles/hash/lang/quality)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from bigdata_invoice_stream_analysis_spark.functions import text as TX


def one(spark, col):
    return spark.range(1).select(col.alias("v")).first()["v"]


def test_tokenize(spark):
    v = one(spark, TX.tokenize(F.lit("Hello,  world! 42 foo-bar")))
    assert v == ["hello", "world", "42", "foo", "bar"]


def test_tokenize_empty(spark):
    assert one(spark, TX.tokenize(F.lit(""))) == []
    assert one(spark, TX.tokenize(F.lit("   "))) == []


def test_poly_hash_matches_python(spark):
    def py_poly(s: str) -> int:
        h = 0
        for c in s:
            h = (h * TX.HASH_MULT + ord(c)) % TX.HASH_P
        return h

    for s in ["", "a", "hello world", "the quick brown fox"]:
        assert one(spark, TX.poly_hash(F.lit(s))) == py_poly(s)


def test_shingles_basic(spark):
    toks = F.split(F.lit("a b c d"), " ")
    assert one(spark, TX.shingles(toks, 3)) == ["a b c", "b c d"]


def test_shingles_short_doc(spark):
    toks = F.split(F.lit("a b"), " ")
    assert one(spark, TX.shingles(toks, 3)) == ["a b"]


def test_shingle_hashes_distinct(spark):
    v = one(spark, TX.shingle_hashes(F.lit("a b a b a b a b"), 3))
    # only two distinct shingles: "a b a" and "b a b"
    assert len(v) == 2


def test_detect_language(spark):
    rows = (
        spark.createDataFrame(
            [("the cat is on the mat and the dog",), ("zzz qqq xxx",)], ["t"]
        )
        .select(TX.detect_language(F.col("t")).alias("lang"))
        .collect()
    )
    assert rows[0]["lang"] == "en"
    assert rows[1]["lang"] == "und"


def test_quality_features(spark):
    feats = TX.quality_features(F.lit("The cat sat on 42 mats."))
    row = spark.range(1).select(
        *[c.alias(k) for k, c in feats.items()]
    ).first()
    assert row["n_tokens"] == 6
    assert row["n_chars"] == 23
    # tokens: the cat sat on 42 mats → stopwords: the, on → 2/6
    assert row["stopword_ratio"] == pytest.approx(2 / 6)
    assert row["digit_ratio"] == pytest.approx(2 / 23)
    assert row["mean_token_len"] == pytest.approx((3 + 3 + 3 + 2 + 2 + 4) / 6)


def test_fingerprint_normalizes_whitespace(spark):
    a = one(spark, TX.fingerprint(F.lit("hello   world")))
    b = one(spark, TX.fingerprint(F.lit("Hello, world!")))
    assert a == b


# ---------------------------------------------------------------------------
# Winnowing
# ---------------------------------------------------------------------------

def _ordered_shingles(text, k=3):
    """Positional (non-distinct) shingle hashes, composed from token
    hashes as winnow_fingerprints builds them."""
    return TX.compose_token_hashes(TX.token_hashes(text), k)


def _winnow_fps(spark, docs, k=3, w=4):
    """Run the winnowing selection (same logic as the gated query) over
    a small (doc_id, text) frame; returns {doc_id: set(fingerprints)}."""
    from pyspark.sql.window import Window

    df = spark.createDataFrame(docs, ["doc_id", "text"])
    h = df.select(
        "doc_id",
        F.posexplode(_ordered_shingles(F.col("text"), k)).alias(
            "pos0", "hash"
        ),
        F.size(_ordered_shingles(F.col("text"), k)).alias("n"),
    )
    win = Window.partitionBy("doc_id").orderBy("pos0").rowsBetween(0, w - 1)
    sel = h.select("doc_id", F.min("hash").over(win).alias("fp"), "pos0", "n").where(
        F.col("pos0") + 1 <= F.greatest(F.col("n") - w + 1, F.lit(1))
    )
    out = {}
    for r in sel.select("doc_id", "fp").distinct().collect():
        out.setdefault(r["doc_id"], set()).add(r["fp"])
    return out


def test_winnowing_shared_substring_guarantee(spark):
    """Schleimer et al. guarantee: two documents sharing a token run of
    length >= w + k - 1 (= 6 tokens at k=3, w=4) MUST share at least
    one selected fingerprint, regardless of surrounding context."""
    shared = "alpha beta gamma delta epsilon zeta"  # 6 tokens
    docs = [
        (1, f"one two three {shared} four five six"),
        (2, f"{shared} completely different tail words here"),
    ]
    fps = _winnow_fps(spark, docs)
    assert fps[1] & fps[2], "no shared fingerprint for a shared 6-token run"


def test_winnowing_short_doc_emits_fingerprint(spark):
    """A doc shorter than one winnow window still emits >= 1 fp."""
    fps = _winnow_fps(spark, [(1, "tiny doc"), (2, "a b c d")])
    assert len(fps[1]) == 1 and len(fps[2]) == 1


def test_ordered_shingle_hashes_keeps_positions(spark):
    """Unlike shingle_hashes (distinct), repeated shingles stay."""
    n_ordered = one(
        spark, F.size(_ordered_shingles(F.lit("a b c a b c a b c")))
    )
    n_distinct = one(spark, F.size(TX.shingle_hashes(F.lit("a b c a b c a b c"))))
    assert n_ordered == 7  # 9 tokens -> 7 trigrams, duplicates kept
    assert n_distinct < n_ordered
