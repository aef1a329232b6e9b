"""Encoding-damage detection and repair — the mojibake pass every
web-scale text corpus needs before tokenization.

The damage classes handled are the ones that actually dominate
scraped corpora (each is a pure, mechanically invertible transform,
which is what makes safe repair possible):

* UTF-8 read as Latin-1/Windows-1252 ("A-tilde+copyright" for "e
  acute", "a-circumflex + Euro + right-quote" for the apostrophe):
  repaired by re-encoding with the same wrong codec and decoding as
  UTF-8 — applied ONLY when the re-encode round-trip is exact and
  the result strictly reduces the mojibake score, so clean text that
  merely LOOKS suspicious is never altered.
* Doubly-damaged text: the repair iterates to a fix-point (bounded),
  unwinding utf8-as-latin1 applied twice.
* C1-control leakage (0x80-0x9F) from cp1252-vs-latin1 confusion is
  repaired inside the same transform (cp1252 is the re-encode codec,
  with its five unmapped code points falling back to latin-1).

Detection is a scoring function, not a boolean: ``mojibake_score``
counts characteristic artifact sequences — and the artifact classes
are built MECHANICALLY from the codec tables (a UTF-8 continuation
byte mis-decoded through cp1252 lands on exactly one computable
character set; 2-byte sequences surface as lead 0xC2-0xDF + one of
them, 3-byte as lead 0xE0-0xEF + two), never spelled as literals.

The scorer is exposed BOTH as pure Python (used by the Arrow repair
path and the tests' reference) and as a Column expression
(regexp_count — JVM-side, for cheap corpus-wide screening so the
Python repair runs only on the flagged minority).

Reference: n/a (extension surface).
"""

from __future__ import annotations

import re

from pyspark.sql import Column, functions as F


def _cp1252_char(b: int) -> str:
    try:
        return bytes([b]).decode("cp1252")
    except UnicodeDecodeError:  # the five cp1252 holes
        return chr(b)


_CONT = "".join(sorted({_cp1252_char(b) for b in range(0x80, 0xC0)}))
_LEAD2 = "".join(sorted({_cp1252_char(b) for b in range(0xC2, 0xE0)}))
_LEAD3 = "".join(sorted({_cp1252_char(b) for b in range(0xE0, 0xF0)}))


def _char_class(chars: str) -> str:
    return "[" + re.escape(chars) + "]"


MOJIBAKE_PATTERN = (
    f"{_char_class(_LEAD2)}{_char_class(_CONT)}"
    f"|{_char_class(_LEAD3)}{_char_class(_CONT)}{{2}}"
    "|[\\x80-\\x9f]"
    "|\\ufffd"
)
_MOJIBAKE_RE = re.compile(MOJIBAKE_PATTERN)


def mojibake_score(text: str) -> int:
    """Count of characteristic encoding-damage artifacts."""
    return len(_MOJIBAKE_RE.findall(text))


def mojibake_score_col(col: Column) -> Column:
    """The JVM-side screening twin: regexp_count over the same
    artifact classes, for corpus-wide scoring without Python.
    (Java regex accepts the same escaped classes; \\ufffd is spelled
    as the literal code point via \\x-style escapes in both.)"""
    return F.regexp_count(col, F.lit(MOJIBAKE_PATTERN))


def _reencode_once(text: str) -> str | None:
    """One unwinding step: encode with cp1252 (latin-1 fallback for
    its five holes, char by char), decode strict UTF-8.  None when
    the transform doesn't apply exactly — partial repairs are worse
    than none."""
    out = bytearray()
    for ch in text:
        try:
            out += ch.encode("cp1252")
        except UnicodeEncodeError:
            o = ord(ch)
            if o <= 0xFF:
                out.append(o)
            else:
                return None
    try:
        return bytes(out).decode("utf-8")
    except UnicodeDecodeError:
        return None


def fix_mojibake(text: str, *, max_passes: int = 3) -> tuple[str, int]:
    """(repaired_text, passes_applied).  Each pass must round-trip
    exactly AND strictly reduce the mojibake score; otherwise the
    input is returned unchanged — the conservative contract that
    makes this safe to run over clean corpora."""
    current = text
    passes = 0
    for _ in range(max_passes):
        score = mojibake_score(current)
        if score == 0:
            break
        candidate = _reencode_once(current)
        if candidate is None or mojibake_score(candidate) >= score:
            break
        current = candidate
        passes += 1
    return current, passes


def encoding_repair(docs, *, id_col: str = "doc_id",
                    text_col: str = "text"):
    """Corpus repair pass: JVM-side score screening first (clean
    rows — the overwhelming majority — never reach Python), then the
    Arrow repair path only where score > 0.  Output: one row per
    document with the original/repaired scores and pass count."""
    from pyspark.sql import types as T

    out_schema = T.StructType([
        T.StructField("doc_id", T.LongType(), False),
        T.StructField("text", T.StringType(), True),
        T.StructField("score_before", T.IntegerType(), False),
        T.StructField("score_after", T.IntegerType(), False),
        T.StructField("repair_passes", T.IntegerType(), False),
    ])

    scored = docs.select(
        F.col(id_col).cast("long").alias("doc_id"),
        F.col(text_col).alias("text"),
        mojibake_score_col(F.col(text_col)).cast("int")
        .alias("score_before"),
    )
    clean = scored.where(F.col("score_before") == 0).select(
        "doc_id", "text", "score_before",
        F.col("score_before").alias("score_after"),
        F.lit(0).alias("repair_passes"),
    )

    def repair(it):
        import pandas as pd

        from bigdata_invoice_stream_analysis_spark.functions.encfix import (
            fix_mojibake,
            mojibake_score,
        )

        for pdf in it:
            texts, after, passes = [], [], []
            for t in pdf["text"]:
                fixed, n = fix_mojibake(t or "")
                texts.append(fixed)
                after.append(mojibake_score(fixed))
                passes.append(n)
            yield pd.DataFrame({
                "doc_id": pdf["doc_id"],
                "text": texts,
                "score_before": pdf["score_before"],
                "score_after": after,
                "repair_passes": passes,
            })

    dirty = scored.where(F.col("score_before") > 0).mapInPandas(
        repair, schema=out_schema)
    return clean.unionByName(dirty)
