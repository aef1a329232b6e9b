"""Text-analysis primitives for the training-data pipeline extensions
(BASELINE.json north star; SURVEY.md §7 stage 5): tokenization, shingling,
deterministic hashing, language-ID scoring, quality scoring, and document
fingerprinting.

Design rules
------------
* Everything is a native Column expression (split/transform/aggregate/
  filter higher-order functions) — zero Python in the hot path, the whole
  computation stays inside WholeStageCodegen and scales linearly with
  executors. No UDFs anywhere in this module.
* All hashes are **exact integer arithmetic** (polynomial rolling hash
  mod 1e9+7) so the DuckDB oracle can reproduce them bit-for-bit —
  Spark's builtin hash()/xxhash64() have no DuckDB twin. Intermediate
  products stay < 2^63 (hash < p ≈ 2^30, multiplier 31 → acc*31+255 <
  2^35; permuted (a*h+b) with a,b < p → < 2^60).
* At 100 TB: these expressions run per-row with no shuffle at all —
  the scan parallelism is the only knob. Shingling multiplies row width
  (~n_tokens arrays); downstream exploding operators (dedup) manage
  their own shuffle strategy.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# Polynomial-hash modulus (prime) and multiplier, shared with every
# DuckDB oracle that re-computes hashes.
HASH_P = 1_000_000_007
HASH_MULT = 31


def tokenize(text: Column) -> Column:
    """Lowercased word tokens: split on runs of non-alphanumerics and
    drop empties. (Idiomatic twin of pyspark.ml.feature.RegexTokenizer,
    kept as an expression so downstream ops stay in codegen.)"""
    return F.filter(
        F.split(F.lower(text), r"[^a-z0-9]+"), lambda t: t != F.lit("")
    )


# DuckDB twin of tokenize() over a text column `{col}`:
SQL_TOKENIZE = (
    "list_filter(string_split_regex(lower({col}), '[^a-z0-9]+'), t -> t != '')"
)


def poly_hash(token: Column) -> Column:
    """Deterministic polynomial hash of a string → [0, 1e9+7).
    h = fold(chars, h*31 + ascii(char)) mod p. Cross-engine exact."""
    return F.aggregate(
        F.transform(F.split(token, ""), lambda c: F.ascii(c)),
        F.lit(0).cast("long"),
        lambda acc, x: (acc * HASH_MULT + x) % HASH_P,
    )


# DuckDB twin of poly_hash over an expression `{t}`:
SQL_POLY_HASH = (
    "list_reduce(list_prepend(CAST(0 AS BIGINT),"
    " list_transform(string_split({t}, ''), c -> CAST(ascii(c) AS BIGINT))),"
    f" (acc, x) -> (acc * {HASH_MULT} + x) % {HASH_P})"
)


def shingles(tokens: Column, n: int = 3) -> Column:
    """Word n-gram shingles of a token array (space-joined strings).
    Documents shorter than n tokens yield their full token join as the
    single shingle, so no document hashes to an empty set."""
    k = F.size(tokens)
    full = F.array(F.concat_ws(" ", tokens))
    grams = F.transform(
        F.sequence(F.lit(1), k - F.lit(n - 1)),
        lambda i: F.concat_ws(" ", F.slice(tokens, i, n)),
    )
    return F.when(k >= n, grams).otherwise(full)


def sql_shingles(tokens_expr: str, n: int = 3) -> str:
    """DuckDB twin of shingles(): list of space-joined n-grams."""
    return (
        f"CASE WHEN len({tokens_expr}) >= {n} THEN "
        f"list_transform(generate_series(1, len({tokens_expr}) - {n - 1}),"
        f" i -> array_to_string(list_slice({tokens_expr}, i, i + {n - 1}), ' ')) "
        f"ELSE [array_to_string({tokens_expr}, ' ')] END"
    )


def chunks(tokens: Column, w: int = 10) -> Column:
    """Non-overlapping w-token chunks of a token array (space-joined
    strings) — the "paragraph" unit for sub-document dedup and
    boilerplate detection (C4-style line dedup re-expressed over the
    whitespace-token stream, since the synthetic corpus has no
    newlines). The final chunk may be shorter than w. Empty token
    arrays yield an empty chunk list."""
    k = F.size(tokens)
    n_chunks = F.ceil(k / F.lit(float(w))).cast("int")
    return F.when(
        k > 0,
        F.transform(
            F.sequence(F.lit(1), n_chunks),
            lambda i: F.concat_ws(" ", F.slice(tokens, (i - 1) * w + 1, w)),
        ),
    ).otherwise(F.array().cast("array<string>"))


def sql_chunks(tokens_expr: str, w: int = 10) -> str:
    """DuckDB twin of chunks(): list of space-joined w-token chunks."""
    return (
        f"CASE WHEN len({tokens_expr}) > 0 THEN "
        f"list_transform(generate_series(1, CAST(ceil(len({tokens_expr}) / {w}.0) AS BIGINT)),"
        f" i -> array_to_string(list_slice({tokens_expr}, (i - 1) * {w} + 1, i * {w}), ' ')) "
        f"ELSE CAST([] AS VARCHAR[]) END"
    )


def shingle_hashes(text: Column, n: int = 3) -> Column:
    """Distinct polynomial hashes of a document's word n-gram shingles —
    the set representation used by MinHash / Jaccard dedup."""
    return F.array_distinct(
        F.transform(shingles(tokenize(text), n), lambda s: _poly_hash_expr(s))
    )


def _poly_hash_expr(s: Column) -> Column:
    return F.aggregate(
        F.transform(F.split(s, ""), lambda c: F.ascii(c)),
        F.lit(0).cast("long"),
        lambda acc, x: (acc * HASH_MULT + x) % HASH_P,
    )


def sql_shingle_hashes(col: str, n: int = 3) -> str:
    """DuckDB twin of shingle_hashes()."""
    toks = SQL_TOKENIZE.format(col=col)
    sh = sql_shingles(toks, n)
    return (
        f"list_distinct(list_transform({sh}, s -> "
        + SQL_POLY_HASH.format(t="s")
        + "))"
    )


# ---------------------------------------------------------------------------
# Language identification (n-gram heuristic)
# ---------------------------------------------------------------------------
# Character-trigram profile scoring: score(lang) = |trigrams(text) ∩
# profile(lang)| / |trigrams(text)|; predicted language = argmax score
# (ties → lexicographically first). Profiles here are tiny hand-built
# stopword-trigram sets for 5 languages; on real corpora they would be
# learned from labeled samples — the operator shape (per-row set
# intersection against broadcast profiles) is what scales.

LANG_PROFILES: dict[str, list[str]] = {
    "en": ["the", "and", "ing", "ion", " th", "he ", " of", "of ", " to", "is "],
    "es": ["de ", " de", "la ", " la", "os ", "as ", "ión", " el", "el ", "que"],
    "fr": ["le ", " le", "es ", " la", "la ", "ent", " et", "et ", "une", " un"],
    "de": ["er ", "en ", "ch ", " de", "der", "ein", "ung", "sch", "ie ", "das"],
    "zh": ["de ", "shi", "le ", " bu", "bu ", "zhe", " yi", "yi ", "ren", "wo "],
}


def char_trigrams(text: Column) -> Column:
    """Distinct character trigrams of the lowercased text."""
    t = F.lower(text)
    n = F.length(t)
    return F.array_distinct(
        F.when(
            n >= 3,
            F.transform(
                F.sequence(F.lit(1), n - F.lit(2)),
                lambda i: F.substring(t, i, F.lit(3)),
            ),
        ).otherwise(F.array(t))
    )


SQL_CHAR_TRIGRAMS = (
    "list_distinct(CASE WHEN length(lower({col})) >= 3 THEN "
    "list_transform(generate_series(1, length(lower({col})) - 2),"
    " i -> substring(lower({col}), CAST(i AS INT), 3)) "
    "ELSE [lower({col})] END)"
)


def lang_scores(text: Column) -> Column:
    """Map lang → hit count (|trigrams ∩ profile|) as a struct column."""
    tg = char_trigrams(text)
    fields = []
    for lang in sorted(LANG_PROFILES):
        profile = F.array(*[F.lit(g) for g in LANG_PROFILES[lang]])
        hits = F.size(F.array_intersect(tg, profile))
        fields.append(hits.alias(lang))
    return F.struct(*fields)


def detect_language(text: Column) -> Column:
    """Argmax-language of lang_scores (ties → lexicographically first
    language; all-zero scores → 'und')."""
    s = lang_scores(text)
    langs = sorted(LANG_PROFILES)
    best_lang, best_score = F.lit(langs[0]), s[langs[0]]
    for lang in langs[1:]:
        better = s[lang] > best_score
        best_lang = F.when(better, F.lit(lang)).otherwise(best_lang)
        best_score = F.when(better, s[lang]).otherwise(best_score)
    return F.when(best_score > 0, best_lang).otherwise(F.lit("und"))


def sql_detect_language(col: str) -> tuple[str, dict[str, str]]:
    """DuckDB twin: (predicted_lang_expr, {lang: hit_count_expr})."""
    tg = SQL_CHAR_TRIGRAMS.format(col=col)
    hit_exprs = {}
    for lang in sorted(LANG_PROFILES):
        lits = ", ".join("'" + g.replace("'", "''") + "'" for g in LANG_PROFILES[lang])
        hit_exprs[lang] = f"len(list_intersect({tg}, [{lits}]))"
    langs = sorted(LANG_PROFILES)
    best_lang, best_score = f"'{langs[0]}'", hit_exprs[langs[0]]
    for lang in langs[1:]:
        cond = f"({hit_exprs[lang]}) > ({best_score})"
        best_lang = f"CASE WHEN {cond} THEN '{lang}' ELSE {best_lang} END"
        best_score = f"CASE WHEN {cond} THEN {hit_exprs[lang]} ELSE {best_score} END"
    pred = f"CASE WHEN ({best_score}) > 0 THEN {best_lang} ELSE 'und' END"
    return pred, hit_exprs


# ---------------------------------------------------------------------------
# Quality scoring
# ---------------------------------------------------------------------------

STOPWORDS = ["the", "a", "an", "of", "to", "in", "and", "is", "on", "for"]


def quality_features(text: Column) -> dict[str, Column]:
    """Deterministic quality signals (all ratios in exact integer
    numerators over integer denominators → identical doubles in both
    engines):
      n_chars, n_tokens, mean_token_len, stopword_ratio,
      alnum_ratio (alphanumeric chars / chars), digit_ratio.
    """
    toks = tokenize(text)
    n_tokens = F.size(toks)
    n_chars = F.length(text)
    sum_tok_len = F.aggregate(
        F.transform(toks, lambda t: F.length(t)),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    stop_arr = F.array(*[F.lit(w) for w in STOPWORDS])
    n_stop = F.size(F.filter(toks, lambda t: F.array_contains(stop_arr, t)))
    n_alnum = F.length(F.regexp_replace(F.lower(text), r"[^a-z0-9]", ""))
    n_digit = F.length(F.regexp_replace(text, r"[^0-9]", ""))
    return {
        "n_chars": n_chars.cast("long"),
        "n_tokens": n_tokens.cast("long"),
        "mean_token_len": F.when(
            n_tokens > 0, sum_tok_len / n_tokens.cast("double")
        ).otherwise(F.lit(0.0)),
        "stopword_ratio": F.when(
            n_tokens > 0, n_stop.cast("double") / n_tokens
        ).otherwise(F.lit(0.0)),
        "alnum_ratio": F.when(
            n_chars > 0, n_alnum.cast("double") / n_chars
        ).otherwise(F.lit(0.0)),
        "digit_ratio": F.when(
            n_chars > 0, n_digit.cast("double") / n_chars
        ).otherwise(F.lit(0.0)),
    }


def sql_quality_features(col: str) -> dict[str, str]:
    toks = SQL_TOKENIZE.format(col=col)
    stop = ", ".join(f"'{w}'" for w in STOPWORDS)
    return {
        "n_chars": f"CAST(length({col}) AS BIGINT)",
        "n_tokens": f"CAST(len({toks}) AS BIGINT)",
        "mean_token_len": (
            f"CASE WHEN len({toks}) > 0 THEN "
            f"CAST(list_sum(list_transform({toks}, t -> CAST(length(t) AS BIGINT))) AS BIGINT)"
            f" / CAST(len({toks}) AS DOUBLE) ELSE 0.0 END"
        ),
        "stopword_ratio": (
            f"CASE WHEN len({toks}) > 0 THEN "
            f"CAST(len(list_filter({toks}, t -> list_contains([{stop}], t))) AS DOUBLE)"
            f" / len({toks}) ELSE 0.0 END"
        ),
        "alnum_ratio": (
            f"CASE WHEN length({col}) > 0 THEN "
            f"CAST(length(regexp_replace(lower({col}), '[^a-z0-9]', '', 'g')) AS DOUBLE)"
            f" / length({col}) ELSE 0.0 END"
        ),
        "digit_ratio": (
            f"CASE WHEN length({col}) > 0 THEN "
            f"CAST(length(regexp_replace({col}, '[^0-9]', '', 'g')) AS DOUBLE)"
            f" / length({col}) ELSE 0.0 END"
        ),
    }


# ---------------------------------------------------------------------------
# Document fingerprinting
# ---------------------------------------------------------------------------

def fingerprint(text: Column) -> Column:
    """Rolling polynomial hash of the token-normalized document (tokens
    re-joined with single spaces) — a canonical-form content hash that
    ignores whitespace/punctuation variance. Exact cross-engine."""
    return _poly_hash_expr(F.concat_ws(" ", tokenize(text)))


def sql_fingerprint(col: str) -> str:
    toks = SQL_TOKENIZE.format(col=col)
    return SQL_POLY_HASH.format(t=f"array_to_string({toks}, ' ')")


# ---------------------------------------------------------------------------
# Winnowing (document fingerprinting)
# ---------------------------------------------------------------------------
# Schleimer/Wilkerson/Aiken winnowing: hash every word k-gram IN ORDER
# (no dedup — positions matter), then select the minimum hash of every
# w consecutive k-grams. Guarantees: any shared substring of length
# >= w + k - 1 tokens produces at least one shared fingerprint, while
# storing only ~2/(w+1) of the hashes.

COMPOSE_MULT = 1_000_003  # shingle-composition multiplier (th < p ⇒ acc·B + th < 2^63)


def token_hashes(text: Column) -> Column:
    """Per-token polynomial hashes, in order (the one pass that walks
    every character)."""
    return F.transform(tokenize(text), lambda t: _poly_hash_expr(t))


def compose_token_hashes(th: Column, n: int = 3) -> Column:
    """Ordered n-gram hashes from a token-hash array via iterated
    zip_with over the array's n shifted views — each view is built
    once, so ``th`` is referenced O(n) times, NOT once per output
    shingle (a transform-over-indices formulation re-evaluates the
    whole upstream expression per element — measured 6× slower than
    the string-rehash it was meant to replace). Callers on the hot
    path should materialize ``th`` behind an optimizer fence first so
    even the O(n) references are plain column reads."""
    k = F.size(th)
    # greatest(..., 0): slice() rejects negative lengths, and when()
    # does not guard eager evaluation of the unchosen branch.
    n_grams = F.greatest(k - F.lit(n - 1), F.lit(0))
    acc = F.slice(th, 1, n_grams)
    for j in range(1, n):
        acc = F.zip_with(
            acc,
            F.slice(th, j + 1, n_grams),
            lambda a, b: (a * COMPOSE_MULT + b) % HASH_P,
        )
    full = F.aggregate(
        th, F.lit(0).cast("long"),
        lambda acc_, h: (acc_ * COMPOSE_MULT + h) % HASH_P,
    )
    return F.when(k >= n, acc).otherwise(F.array(full))


def sql_ordered_shingle_hashes(col: str, n: int = 3) -> str:
    """DuckDB twin of compose_token_hashes(token_hashes(col), n): the
    positional (non-distinct) shingle hashes winnowing reads."""
    toks = SQL_TOKENIZE.format(col=col)
    th = f"list_transform({toks}, t -> {SQL_POLY_HASH.format(t='t')})"
    compose = (
        "list_reduce(list_prepend(CAST(0 AS BIGINT), {sub}),"
        f" (acc, h) -> (acc * {COMPOSE_MULT} + h) % {HASH_P})"
    )
    grams = (
        f"list_transform(generate_series(1, len({th}) - {n - 1}), "
        f"i -> " + compose.format(sub=f"list_slice({th}, i, i + {n - 1})") + ")"
    )
    return (
        f"CASE WHEN len({th}) >= {n} THEN {grams} "
        f"ELSE [" + compose.format(sub=th) + "] END"
    )


# ---------------------------------------------------------------------------
# Gopher quality rules (Rae et al. 2021, §A1.1.2 — the published
# repetition-free heuristic set every web-corpus curation stack since
# has reused; public knowledge, reimplemented as Column algebra)
# ---------------------------------------------------------------------------

# The paper's "must contain 2 of these English stop words" gate.
GOPHER_REQUIRED_WORDS = ("the", "be", "to", "of", "and", "that",
                         "have", "with")


def _ws_words(text: Column) -> Column:
    """Whitespace-delimited words (the paper counts words this way,
    unlike tokenize()'s alphanumeric runs)."""
    return F.filter(
        F.split(F.trim(text), r"\s+"), lambda w: w != F.lit("")
    )


def gopher_quality_flags(text: Column) -> dict[str, Column]:
    """The Gopher document-level quality rules as deterministic
    Column expressions — each rule its own boolean column plus the
    conjunction ``gopher_pass``, so a curation funnel can report WHY
    documents fail, not just how many:

      * 50 ≤ word count ≤ 100,000
      * 3 ≤ mean word length ≤ 10
      * symbol-to-word ratio ≤ 0.1 for EACH symbol family separately —
        hash marks, and ellipses (… / ...) — per the paper's rule
        (pooling them wrongly rejects documents at e.g. 0.06 + 0.06,
        ADVICE r7)
      * ≤ 90% of lines start with a bullet ( • / - / * )
      * ≤ 30% of lines end with an ellipsis
      * ≥ 80% of words contain at least one alphabetic character
      * contains ≥ 2 of the 8 required English stop words

    Ratios are exact integer numerators over integer denominators
    (identical doubles in both engines); everything stays inside
    WholeStageCodegen."""
    words = _ws_words(text)
    n_words = F.size(words)
    sum_word_len = F.aggregate(
        F.transform(words, lambda w: F.length(w)),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    mean_word_len = F.when(
        n_words > 0, sum_word_len / n_words.cast("double")
    ).otherwise(F.lit(0.0))
    n_hash = F.length(text) - F.length(F.regexp_replace(text, r"#", ""))
    n_ellipsis_sym = (
        F.length(text) - F.length(F.regexp_replace(text, r"…", ""))
        + F.size(F.split(text, r"\.\.\.")) - 1
    )
    lines = F.filter(
        F.split(text, r"\n"), lambda ln: F.trim(ln) != F.lit("")
    )
    n_lines = F.size(lines)
    n_bullet = F.size(F.filter(
        lines, lambda ln: F.trim(ln).rlike(r"^[•\-\*]")
    ))
    n_ellipsis = F.size(F.filter(
        lines, lambda ln: F.trim(ln).rlike(r"(\.\.\.|…)$")
    ))
    n_alpha_words = F.size(F.filter(
        words, lambda w: w.rlike("[A-Za-z]")
    ))
    toks = tokenize(text)
    req = F.array(*[F.lit(w) for w in GOPHER_REQUIRED_WORDS])
    n_required = F.size(F.filter(
        req, lambda w: F.array_contains(toks, w)
    ))
    flags = {
        "word_count_ok": (n_words >= 50) & (n_words <= 100_000),
        "mean_word_len_ok": (
            (mean_word_len >= 3.0) & (mean_word_len <= 10.0)
        ),
        "symbol_ratio_ok": F.when(
            n_words > 0,
            (n_hash.cast("double") / n_words <= 0.1)
            & (n_ellipsis_sym.cast("double") / n_words <= 0.1),
        ).otherwise(F.lit(False)),
        "bullet_ratio_ok": F.when(
            n_lines > 0,
            n_bullet.cast("double") / n_lines <= 0.9,
        ).otherwise(F.lit(True)),
        "ellipsis_ratio_ok": F.when(
            n_lines > 0,
            n_ellipsis.cast("double") / n_lines <= 0.3,
        ).otherwise(F.lit(True)),
        "alpha_word_ratio_ok": F.when(
            n_words > 0,
            n_alpha_words.cast("double") / n_words >= 0.8,
        ).otherwise(F.lit(False)),
        "required_words_ok": n_required >= 2,
    }
    acc = F.lit(True)
    for c in flags.values():
        acc = acc & c
    return {**flags, "gopher_pass": acc}


def sql_gopher_quality_flags(col: str) -> dict[str, str]:
    """DuckDB twins of gopher_quality_flags (same integer-exact
    arithmetic) for the closed-form oracles."""
    words = (
        f"list_filter(string_split_regex(trim({col}), '\\s+'),"
        f" w -> w != '')"
    )
    toks = SQL_TOKENIZE.format(col=col)
    req = ", ".join(f"'{w}'" for w in GOPHER_REQUIRED_WORDS)
    lines = (
        f"list_filter(string_split({col}, chr(10)),"
        f" ln -> trim(ln) != '')"
    )
    n_words = f"len({words})"
    mean_wl = (
        f"CASE WHEN {n_words} > 0 THEN "
        f"CAST(list_sum(list_transform({words},"
        f" w -> CAST(length(w) AS BIGINT))) AS BIGINT)"
        f" / CAST({n_words} AS DOUBLE) ELSE 0.0 END"
    )
    n_hash = (
        f"(length({col}) - length(regexp_replace({col}, '#', '', 'g')))"
    )
    n_ellipsis_sym = (
        f"(length({col}) - length(regexp_replace({col}, '…', '', 'g'))"
        f" + len(string_split_regex({col}, '\\.\\.\\.')) - 1)"
    )
    n_lines = f"len({lines})"
    n_bullet = (
        f"len(list_filter({lines},"
        f" ln -> regexp_matches(trim(ln), '^[•\\-\\*]')))"
    )
    n_ellipsis = (
        f"len(list_filter({lines},"
        f" ln -> regexp_matches(trim(ln), '(\\.\\.\\.|…)$')))"
    )
    n_alpha = (
        f"len(list_filter({words}, w -> regexp_matches(w, '[A-Za-z]')))"
    )
    n_required = (
        f"len(list_filter([{req}], w -> list_contains({toks}, w)))"
    )
    flags = {
        "word_count_ok": f"({n_words} >= 50 AND {n_words} <= 100000)",
        "mean_word_len_ok": (
            f"(({mean_wl}) >= 3.0 AND ({mean_wl}) <= 10.0)"
        ),
        "symbol_ratio_ok": (
            f"CASE WHEN {n_words} > 0 THEN "
            f"CAST({n_hash} AS DOUBLE) / {n_words} <= 0.1 "
            f"AND CAST({n_ellipsis_sym} AS DOUBLE) / {n_words} <= 0.1 "
            f"ELSE FALSE END"
        ),
        "bullet_ratio_ok": (
            f"CASE WHEN {n_lines} > 0 THEN "
            f"CAST({n_bullet} AS DOUBLE) / {n_lines} <= 0.9 "
            f"ELSE TRUE END"
        ),
        "ellipsis_ratio_ok": (
            f"CASE WHEN {n_lines} > 0 THEN "
            f"CAST({n_ellipsis} AS DOUBLE) / {n_lines} <= 0.3 "
            f"ELSE TRUE END"
        ),
        "alpha_word_ratio_ok": (
            f"CASE WHEN {n_words} > 0 THEN "
            f"CAST({n_alpha} AS DOUBLE) / {n_words} >= 0.8 "
            f"ELSE FALSE END"
        ),
        "required_words_ok": f"({n_required} >= 2)",
    }
    flags["gopher_pass"] = "(" + " AND ".join(
        flags[k] for k in (
            "word_count_ok", "mean_word_len_ok", "symbol_ratio_ok",
            "bullet_ratio_ok", "ellipsis_ratio_ok",
            "alpha_word_ratio_ok", "required_words_ok",
        )
    ) + ")"
    return flags
