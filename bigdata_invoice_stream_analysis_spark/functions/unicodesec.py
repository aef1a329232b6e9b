"""Unicode integrity audit — the text-security gate a training
corpus needs BEFORE tokenization: invisible characters inflate token
counts and poison dedup keys, bidirectional control characters
reorder what a reviewer sees versus what a model learns ("trojan
source", CVE-2021-42574), mixed-script confusable tokens carry
spoofed identifiers, and U+FFFD replacement characters mark decode
damage upstream loaders silently injected.

Built against public Unicode material: the bidi control list (TR #9
/ the trojan-source advisory set), the default-ignorable /
zero-width characters (TR #44 Default_Ignorable_Code_Point), the
noncharacter list (Unicode §23.7), and the mixed-script confusable
idea of TR #39 §5.2 — reduced here to an exact, reproducible
heuristic (Latin mixed with Cyrillic or Greek inside one whitespace
token) rather than the full confusables table, so both engines
compute the identical answer from a plain character-class regex.

Everything is Column algebra over ``regexp_count`` (JVM codegen,
zero Python).

Scale posture: map-side, one projection, no shuffle; the flags
funnel into a corpus release gate exactly like the Gopher rules
(functions/text.gopher_quality_flags).

Reference: n/a (extension surface).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# Bidirectional controls: embeddings/overrides + isolates + the
# implicit marks — the full trojan-source set.
BIDI_PATTERN = (
    "[\\x{202A}-\\x{202E}\\x{2066}-\\x{2069}"
    "\\x{061C}\\x{200E}\\x{200F}]"
)

# Zero-width / default-ignorable characters that survive copy-paste
# invisibly: ZWSP/ZWNJ/ZWJ, word joiner, ZWNBSP (stray BOM), soft
# hyphen, Mongolian vowel separator, combining grapheme joiner.
INVISIBLE_PATTERN = (
    "[\\x{200B}-\\x{200D}\\x{2060}\\x{FEFF}"
    "\\x{00AD}\\x{180E}\\x{034F}]"
)

# C0/C1 controls except tab/newline/carriage-return.
CONTROL_PATTERN = (
    "[\\x{0000}-\\x{0008}\\x{000B}\\x{000C}"
    "\\x{000E}-\\x{001F}\\x{007F}-\\x{009F}]"
)

REPLACEMENT_PATTERN = "\\x{FFFD}"

# Private-use: the BMP area plus planes 15/16.
PRIVATE_USE_PATTERN = (
    "[\\x{E000}-\\x{F8FF}\\x{F0000}-\\x{FFFFD}"
    "\\x{100000}-\\x{10FFFD}]"
)

# BMP noncharacters (§23.7): U+FDD0..U+FDEF and the plane tail pair.
NONCHARACTER_PATTERN = "[\\x{FDD0}-\\x{FDEF}\\x{FFFE}\\x{FFFF}]"

# One whitespace-delimited token containing BOTH a Latin letter and
# a Cyrillic/Greek letter — the TR #39 mixed-script restriction as a
# single cross-engine regex (each match consumes the whole token, so
# the count is tokens, not pairs).
_CONF = "\\x{0400}-\\x{04FF}\\x{0370}-\\x{03FF}"
MIXED_SCRIPT_PATTERN = (
    f"\\S*(?:[A-Za-z]\\S*[{_CONF}]|[{_CONF}]\\S*[A-Za-z])\\S*"
)

COUNT_PATTERNS: dict[str, str] = {
    "n_bidi": BIDI_PATTERN,
    "n_invisible": INVISIBLE_PATTERN,
    "n_control": CONTROL_PATTERN,
    "n_replacement": REPLACEMENT_PATTERN,
    "n_private_use": PRIVATE_USE_PATTERN,
    "n_noncharacter": NONCHARACTER_PATTERN,
    "n_mixed_script_tokens": MIXED_SCRIPT_PATTERN,
}


def unicode_integrity_flags(text: Column) -> dict[str, Column]:
    """Typed per-document counters for every integrity hazard class,
    plus the conjunction ``unicode_clean`` — same shape as
    gopher_quality_flags so a release funnel can report WHY a
    document fails. NULL text counts as empty (clean)."""
    t = F.coalesce(text, F.lit(""))
    out: dict[str, Column] = {}
    clean: Column | None = None
    for name, pat in COUNT_PATTERNS.items():
        c = F.regexp_count(t, F.lit(pat)).cast("int")
        out[name] = c
        cond = c == 0
        clean = cond if clean is None else (clean & cond)
    out["unicode_clean"] = clean
    return out
