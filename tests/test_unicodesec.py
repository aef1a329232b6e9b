"""Unicode integrity audit (functions/unicodesec) — trojan-source
bidi controls, invisibles, controls, replacement/PUA/noncharacters,
mixed-script tokens, counted against a Python reference."""

from pyspark.sql import functions as F

from bigdata_invoice_stream_analysis_spark.functions.unicodesec import (
    COUNT_PATTERNS,
    unicode_integrity_flags,
)

TROJAN = 'access_level = "user‮ ⁦// Check if admin⁩ ⁦"'
SAMPLES = [
    ("clean ascii text, nothing to see", {}),
    (TROJAN, {"n_bidi": 4}),
    ("pay​pal.com with‍ joiners﻿",
     {"n_invisible": 3}),
    ("damaged � decode ��",
     {"n_replacement": 3}),
    ("binary paste \x00\x01 bell\x07 del\x7f",
     {"n_control": 4}),
    ("custom glyphs  here",
     {"n_private_use": 2}),
    ("bad sentinel ﷐ and ￿",
     {"n_noncharacter": 2}),
    ("вlog.com is not blog.com, nor is pаypal attack",
     {"n_mixed_script_tokens": 2}),
    # BOTH ω-tokens mix Greek with Latin letters — 2 findings
    ("ω-metric here and ωlatin too",
     {"n_mixed_script_tokens": 2}),
    # supplementary-plane PUA (plane 15): BOTH engines must count
    # the astral code point once (surrogate-pair vs code-point trap)
    ("astral \U000F0001 glyph and bmp  glyph",
     {"n_private_use": 2}),
]


def _counts(text):
    out = dict.fromkeys(COUNT_PATTERNS, 0)
    out.update(SAMPLES_MAP[text])
    return out


SAMPLES_MAP = dict(SAMPLES)


def test_expected_counts_in_spark(spark):
    df = spark.createDataFrame(
        [(i, t) for i, (t, _) in enumerate(SAMPLES)],
        "id long, text string")
    flags = unicode_integrity_flags(F.col("text"))
    rows = df.select("text", *[c.alias(n) for n, c in flags.items()]) \
        .collect()
    for r in rows:
        exp = _counts(r["text"])
        for name in COUNT_PATTERNS:
            assert r[name] == exp[name], (r["text"], name, r[name])
        assert r["unicode_clean"] == all(
            v == 0 for v in exp.values())


def test_null_text_is_clean(spark):
    df = spark.createDataFrame([(0, None)], "id long, text string")
    flags = unicode_integrity_flags(F.col("text"))
    r = df.select(*[c.alias(n) for n, c in flags.items()]).first()
    assert r["unicode_clean"] is True
    assert r["n_bidi"] == 0


def test_mixed_script_counts_tokens_not_pairs(spark):
    # one token with three Cyrillic letters is still ONE finding
    df = spark.createDataFrame([("аdмiнistrator",)], "text string")
    flags = unicode_integrity_flags(F.col("text"))
    r = df.select(
        flags["n_mixed_script_tokens"].alias("m")).first()
    assert r["m"] == 1


def test_greek_or_cyrillic_only_text_is_clean(spark):
    df = spark.createDataFrame(
        [("καλημέρα κόσμε",), ("привет мир",)], "text string")
    flags = unicode_integrity_flags(F.col("text"))
    rows = df.select(
        flags["n_mixed_script_tokens"].alias("m"),
        flags["unicode_clean"].alias("c")).collect()
    assert all(r["m"] == 0 and r["c"] for r in rows)


def test_supplementary_private_use_detected(spark):
    df = spark.createDataFrame(
        [("plane15 \U000F0001 glyph",)], "text string")
    flags = unicode_integrity_flags(F.col("text"))
    assert df.select(
        flags["n_private_use"].alias("p")).first()["p"] == 1


def test_plan_stays_jvm_side(spark):
    df = spark.createDataFrame([("x",)], "text string")
    flags = unicode_integrity_flags(F.col("text"))
    plan = df.select(*[c.alias(n) for n, c in flags.items()]) \
        ._jdf.queryExecution().executedPlan().toString()
    assert "PythonUDF" not in plan
    assert "Exchange" not in plan
